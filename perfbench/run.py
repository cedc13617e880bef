"""The repo benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload pagerank_powerlaw --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. The launcher makes the seed's input and
expected answers (cached under ``.perfbench/``, never timed), then
starts one fresh worker process (``worker.py``) that sets up Spark,
runs the workload's pass once and checks every answer. The pass is a
fixed amount of work that lasts longer than ``--seconds`` on a 4-core
machine; ``--seconds`` is recorded with the run. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics
for ``--trace 1`` (UI on, job groups, span file written to
``.perfbench/spans/``). ``failed / attempted`` is the run's fail ratio.
The exit code is non-zero when any answer is wrong or a call raised.
The environment of the run (seed, commit, cores, versions, hypervisor
steal over the run) goes to stderr and to ``.perfbench/runs/``.

``--scale tiny`` runs the same workloads at smoke-test size.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import subprocess
import sys
import time
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from tracing import cpu_ticks, steal_pct, wait_tree  # noqa: E402

WORKLOADS = tuple(inputs.SIZES)
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "1g"
# generation and the run together; stopping a timed-out process tree
# takes up to 20 s more, and the command must end within 180 s
BUDGET_S = 155
SYNTH_TIMEOUT_S = 60


def source_digest() -> str:
    """sha256 over the library sources: identifies the code measured
    even where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(REPO, "pregel_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, REPO).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    deadline = time.monotonic() + BUDGET_S
    cache = os.path.join(os.getcwd(), ".perfbench")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    session_cfg = {"cores": cores, "shuffle_partitions": SHUFFLE_PARTITIONS, "tmp_dir": tmp}
    wenv = dict(os.environ)
    wenv.update(
        {
            # Arrow UDF workers import pregel_spark by module path
            "PYTHONPATH": os.pathsep.join(
                [REPO] + ([wenv["PYTHONPATH"]] if wenv.get("PYTHONPATH") else [])
            ),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(cache, "spark-local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(cache, "warehouse"),
            "TMPDIR": tmp,
            # the JVM that spark-submit starts to build the driver command
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )

    def make_edges(path: str, **kwargs) -> None:
        """Input generation in its own Spark process, waited for to the
        end, so that no part of it overlaps the measured run."""
        files = []
        for name, obj in (("session", session_cfg), ("job", {"path": path, **kwargs})):
            files.append(os.path.join(tmp, f"synth-{os.getpid()}-{name}.json"))
            with open(files[-1], "w") as f:
                json.dump(obj, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "synth", *files],
            env=wenv, stdout=sys.stderr, start_new_session=True,
        )
        rc, _ = wait_tree(proc, min(SYNTH_TIMEOUT_S, deadline - time.monotonic()))
        if rc != 0:
            raise RuntimeError(f"input generation failed (exit {rc})")

    input_dir = inputs.ensure_inputs(cache, args.workload, args.scale, args.seed, make_edges)
    meta = inputs.read_meta(input_dir)

    tag = f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}"
    env_rec = {
        "workload": args.workload,
        "scale": args.scale,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "nproc": cores,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEM,
        "spark": metadata.version("pyspark"),
        "python": platform.python_version(),
        "input": meta,
    }
    run_dir = os.path.join(cache, "runs", tag)
    os.makedirs(run_dir, exist_ok=True)
    cfg = {
        **session_cfg,
        "workload": args.workload,
        "trace": args.trace,
        "input_dir": input_dir,
        "meta": meta,
        "scratch_dir": run_dir,
        "result_file": os.path.join(run_dir, "result.json"),
        "span_file": os.path.join(cache, "spans", f"{tag}.json"),
        "env": env_rec,
    }
    if os.path.exists(cfg["result_file"]):
        os.remove(cfg["result_file"])

    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    ticks0 = cpu_ticks()
    t_spawn = time.monotonic()  # CLOCK_MONOTONIC is shared by all processes
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), "run", cfg_path, repr(t_spawn)],
        env=wenv, stdout=sys.stderr, start_new_session=True,
    )
    rc, peak_rss = wait_tree(proc, deadline - time.monotonic())
    env_rec["steal_pct"] = steal_pct(ticks0, cpu_ticks())
    env_rec["wall_s"] = round(time.monotonic() - t_spawn, 3)
    if rc != 0 or not os.path.exists(cfg["result_file"]):
        print(f"[perfbench] worker failed (exit {rc}); no result", file=sys.stderr)
        return 2
    with open(cfg["result_file"]) as f:
        res = json.load(f)
    if "end_to_end" in res:
        res["end_to_end"]["peak_rss_mb"] = peak_rss / 2**20
    with open(os.path.join(run_dir, "env.json"), "w") as f:
        json.dump({"env": env_rec, "result": res}, f, indent=1)
    print(f"[perfbench] env {json.dumps(env_rec)}", file=sys.stderr)
    for err in res["errors"]:
        print(f"[perfbench] FAILED {err}", file=sys.stderr)

    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in _spec()[key]}
    values = res.get(key, {})
    correct = res["failed"] == 0 and bool(values)
    out = {
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            name: {"value": values[name], "unit": unit}
            for name, unit in units.items() if name in values
        },
    }
    print(json.dumps(out))
    return 0 if correct and len(out["metrics"]) == len(units) else 1


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
