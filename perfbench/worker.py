"""One measured process: Spark session, input load, one cold pass.

Started by ``run.py`` as a fresh Python process, so every run pays what
one ``spark-submit`` of the pipeline pays: interpreter and JVM start,
session start and the first read of the input (``setup_s``), then the
workload's calls in a JVM that has not run them before. JIT and code
generation warm-up is therefore charged to that one pass, as it is to
every real job. The pass is a fixed amount of work, the same on every
commit; the process exits after it, so nothing but setup and that pass
falls inside the launcher's RSS window.

Usage:

- ``python3 perfbench/worker.py run <config.json> <spawn time>``, where
  the spawn time is the launcher's ``time.monotonic()`` just before it
  started this process; writes the result JSON to the path named in the
  config.
- ``python3 perfbench/worker.py synth <config.json> <job.json>`` writes
  ``synth.ensure_synth_edges_parquet(spark, **job)``: input generation,
  run in a Spark session set up the same way but never timed.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pregel_spark.session import get_spark  # noqa: E402
from tracing import Tracer, tree_cpu_s  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# call layers that make up each per-layer family
FAMILIES = {
    "extraction": ("extraction",),
    "pagerank.prepare": ("pagerank.prepare",),
    "pagerank": ("pagerank",),
    "cc": ("cc.first_leg", "cc.resume"),
    "cc.first_leg": ("cc.first_leg",),
    "cc.resume": ("cc.resume",),
    "lpa": ("lpa",),
    "triangles": ("triangles",),
    "maxprop": ("maxprop",),
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def end_to_end(calls: list, setup_s: float) -> dict:
    """The end-to-end figures of one pass (the launcher adds
    ``peak_rss_mb``, which it samples from outside)."""
    iterative = [c for c in calls if c.edges and c.supersteps]
    steps_ms = [ms for c in iterative for ms in c.step_ms]
    return {
        "setup_s": setup_s,
        "run_s": sum(c.seconds for c in calls),
        "edges_per_s": sum(c.edges * c.supersteps for c in iterative)
        / (sum(steps_ms) / 1000.0),
        "superstep_ms_p50": _med(steps_ms),
    }


def per_layer(calls: list, spans: list, setup: dict, extra: dict) -> dict:
    """Every per-layer metric of one traced pass; a layer the workload
    does not call reports 0 (no work done there)."""
    span_by_id = {s["id"]: s for s in spans}

    def fam(name):
        return [c for c in calls if c.layer in FAMILIES[name]]

    def secs(name):
        return sum(c.seconds for c in fam(name))

    def steps(name):
        return sum(c.supersteps for c in fam(name))

    def total(name, key):
        return sum(c.extra.get(key, 0) for c in fam(name))

    def per_step(name, key):
        n = sum(span_by_id[i].get(key, 0) for c in fam(name) for i in c.span_ids)
        return n / steps(name) if steps(name) else 0.0

    def pooled(name, key):
        return [v for c in fam(name) for v in c.extra.get(key, [])]

    out = {"session.start_s": setup["session"], "input.load_s": setup["load"]}
    for name in ("pagerank", "cc", "lpa", "maxprop"):
        out[f"{name}.supersteps"] = steps(name)
        out[f"{name}.superstep_ms_p50"] = _med(ms for c in fam(name) for ms in c.step_ms)
        out[f"{name}.jobs_per_superstep"] = per_step(name, "jobs")
    for name in ("pagerank", "cc", "lpa"):
        out[f"{name}.shuffle_write_bytes_per_superstep"] = _mean(
            pooled(name, "shuffle_write_bytes")
        )
    for name in ("extraction", "lpa", "triangles", "maxprop"):
        out[f"{name}.s"] = secs(name)
    ext_s = secs("extraction")
    out["extraction.edges"] = total("extraction", "edges")
    out["extraction.pages_per_s"] = total("extraction", "pages") / ext_s if ext_s else 0.0
    out["pagerank.prepare_s"] = secs("pagerank.prepare")
    out["pagerank.loop_s"] = secs("pagerank")
    out["pagerank.supersteps_to_tol"] = total("pagerank", "supersteps_to_tol")
    out["pagerank.tasks_per_superstep"] = per_step("pagerank", "tasks")
    out["pagerank.shuffle_read_bytes_per_superstep"] = _mean(
        pooled("pagerank", "shuffle_read_bytes")
    )
    out["cc.first_leg_s"] = secs("cc.first_leg")
    out["cc.resume_s"] = secs("cc.resume")
    out["cc.s"] = secs("cc")
    out["cc.changed_total"] = total("cc", "changed_total")
    out["checkpoint.count"] = total("cc", "checkpoints")
    out["checkpoint.bytes_written"] = total("cc", "checkpoint_bytes")
    out["triangles.count"] = total("triangles", "count")
    out["maxprop.msgs_total"] = total("maxprop", "msgs_total")
    out.update(extra)
    return out


def _ui_sample_cost(spark, n_samples: int) -> float:
    """Estimated wall spent by the library's in-loop UI shuffle samples
    (``engine.ShuffleDelta``), which only run when the UI is on."""
    from pregel_spark.graph.engine import shuffle_totals

    costs = []
    for _ in range(5):
        t0 = time.monotonic()
        shuffle_totals(spark)
        costs.append(time.monotonic() - t0)
    return _med(costs) * n_samples


def session(cfg: dict, trace: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        # no hsperfdata file under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cfg['tmp_dir']} -XX:-UsePerfData",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(
        "perfbench", master=f"local[{cfg['cores']}]",
        shuffle_partitions=cfg["shuffle_partitions"], extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def synth(cfg: dict, job: dict) -> int:
    from pregel_spark.synth import ensure_synth_edges_parquet

    spark = session(cfg, trace=False)
    try:
        ensure_synth_edges_parquet(spark, **job)
    finally:
        spark.stop()
    return 0


def run(cfg: dict, t_spawn: float) -> int:
    trace = bool(cfg["trace"])
    load, run_pass = WORKLOADS[cfg["workload"]]
    spark = session(cfg, trace)
    try:
        t_session = time.monotonic()
        ctx = load(spark, cfg["input_dir"], cfg["meta"])
        t_loaded = time.monotonic()
        setup = {
            "session": t_session - t_spawn,
            "load": t_loaded - t_session,
        }
        tracer = Tracer(spark, trace)
        calls: list = []
        error = ""
        t0, cpu0 = time.monotonic(), tree_cpu_s(os.getpid())
        with tracer.span("pass"):
            try:
                run_pass(spark, ctx, cfg["meta"], tracer, cfg["scratch_dir"], calls)
            except Exception as e:  # noqa: BLE001 - reported as a failed call
                error = f"{type(e).__name__}: {e}"
        wall = time.monotonic() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        failed = [c for c in calls if not c.ok]
        # an exception outside a call (say, in a check) fails the run too
        extra_fail = 1 if error and not failed else 0
        result = {
            "attempted": len(calls) + extra_fail,
            "failed": len(failed) + extra_fail,
            "errors": [f"{c.layer}: {c.error}" for c in failed] + ([error] if error else []),
        }
        if not result["failed"]:
            result["end_to_end"] = end_to_end(calls, t_loaded - t_spawn)
            if trace:
                n_samples = sum(
                    c.supersteps + 1
                    for c in calls
                    if c.layer.startswith(("pagerank", "cc", "lpa")) and c.supersteps
                )
                extra = {
                    "proc.cpu_util": cpu / (wall * cfg["cores"]),
                    "trace.overhead_s": tracer.overhead_s
                    + _ui_sample_cost(spark, n_samples),
                }
                result["per_layer"] = per_layer(calls, tracer.spans, setup, extra)
                tracer.dump(cfg["span_file"], cfg["env"])
    finally:
        spark.stop()
    with open(cfg["result_file"], "w") as f:
        json.dump(result, f)
    return 0


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


if __name__ == "__main__":
    mode, cfg_path, arg = sys.argv[1:4]
    if mode == "synth":
        sys.exit(synth(_load(cfg_path), _load(arg)))
    sys.exit(run(_load(cfg_path), float(arg)))
