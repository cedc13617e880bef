"""The workloads: how each reads its input and what one pass runs.

A pass is the workload's sequence of public ``pregel_spark`` calls; it
appends one :class:`Call` per call to the list it is given. Each call is
timed from outside together with the ``noop`` write that forces
its result, and its answer is then compared with the expected answer
cached beside the input (outside the timed region). A call that raises
or answers wrong is a failed call.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pregel_spark.graph import (
    connected_components,
    edges_from_pages,
    label_propagation,
    max_propagation,
    pagerank,
    prepare_graph,
    triangle_count,
)
from pregel_spark.tableio import CheckpointManager

TOL_REPORT = 1e-6  # delta_max that defines pagerank.supersteps_to_tol


@dataclass
class Call:
    """One public call into the library, as measured from outside."""

    layer: str
    seconds: float = 0.0  # call + forcing noop write
    ok: bool = True
    error: str = ""
    supersteps: int = 0
    step_ms: list = field(default_factory=list)
    edges: int = 0  # input edges of an iterative call (edges_per_s)
    span_ids: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, layer: str, calls: list, fn, edges: int = 0):
    """Run ``fn`` (which returns ``(result, df_to_force)``) inside a call
    span plus a force span; append a :class:`Call`. Exceptions propagate
    after the call is recorded as failed."""
    c = Call(layer, edges=edges)
    calls.append(c)
    t0 = time.monotonic()
    try:
        with tracer.span(layer) as s1:
            res, df = fn()
        c.span_ids.append(s1["id"])
        if df is not None:
            with tracer.span(f"force.noop:{layer}") as s2:
                force(df)
            c.span_ids.append(s2["id"])
    except Exception as e:  # the pass ends; the run reports the failure
        c.ok, c.error = False, f"{type(e).__name__}: {e}"
        c.seconds = time.monotonic() - t0
        raise
    c.seconds = time.monotonic() - t0
    if hasattr(res, "metrics"):
        c.supersteps = len(res.metrics)
        c.step_ms = [m["wall_ms"] for m in res.metrics]
    return c, res


def _shuffle_lists(metrics: list[dict]) -> dict:
    """Per-superstep shuffle bytes; present only when the UI is on."""
    return {
        k: [m[k] for m in metrics if k in m]
        for k in ("shuffle_write_bytes", "shuffle_read_bytes")
    }


def _fail(c: Call, why: str) -> None:
    c.ok, c.error = False, why


# ----------------------------- PageRank ------------------------------


def load_pagerank(spark, input_dir: str, meta: dict) -> dict:
    edges = spark.read.parquet(os.path.join(input_dir, "edges")).cache()
    edges.count()
    exp = pd.read_parquet(os.path.join(input_dir, "expect_ranks.parquet"))
    return {"edges": edges, "expect": exp.set_index("id")["rank"]}


def pass_pagerank(spark, ctx: dict, meta: dict, tracer, scratch: str, calls: list) -> None:
    k = meta["supersteps"]
    _, prep = _timed(
        tracer, "pagerank.prepare", calls,
        lambda: (prepare_graph(spark, ctx["edges"], pre_deduped=True), None),
    )
    try:
        c, res = _timed(
            tracer, "pagerank", calls,
            lambda: (
                r := pagerank(spark, None, tol=0.0, max_iter=k, prepared=prep),
                r.vertices,
            ),
            edges=meta["edges"],
        )
        got = res.vertices.toPandas().set_index("id")["rank"]
    finally:
        prep.release()
    c.extra = _shuffle_lists(res.metrics)
    c.extra["supersteps_to_tol"] = next(
        (m["superstep"] for m in res.metrics if m["delta_max"] < TOL_REPORT), 0
    )
    exp = ctx["expect"]
    if res.supersteps != k:
        _fail(c, f"ran {res.supersteps} supersteps, expected {k}")
    elif len(got) != len(exp) or not got.index.sort_values().equals(
        exp.index.sort_values()
    ):
        _fail(c, f"vertex set differs: {len(got)} vs {len(exp)}")
    elif not np.allclose(got.reindex(exp.index).to_numpy(), exp.to_numpy(), rtol=0, atol=1e-9):
        _fail(c, "ranks differ from the power-iteration oracle by > 1e-9")
    elif abs(got.sum() - 1.0) > 1e-9:
        _fail(c, f"rank mass {got.sum()!r} is not 1 +- 1e-9")


# -------------------------- crawl pipeline ---------------------------


def load_crawl(spark, input_dir: str, meta: dict) -> dict:
    pages = spark.read.parquet(os.path.join(input_dir, "pages.parquet")).cache()
    values = spark.read.parquet(os.path.join(input_dir, "values.parquet")).cache()
    pages.count()
    values.count()
    edges = pd.read_parquet(os.path.join(input_dir, "expect_edges.parquet"))
    labels = pd.read_parquet(os.path.join(input_dir, "expect_labels.parquet")).set_index("id")
    return {
        "pages": pages, "values": values, "expect_edges": edges, "expect_labels": labels,
    }


def _labels_match(got: pd.DataFrame, col: str, exp: pd.Series) -> str:
    s = got.set_index("id")[col]
    if len(s) != len(exp) or s.index.has_duplicates:
        return f"{len(s)} labelled vertices, expected {len(exp)}"
    bad = int((s.reindex(exp.index) != exp).sum())
    return f"{bad} of {len(exp)} labels differ from the oracle" if bad else ""


def _checkpoint_stats(root: str, run_id: str) -> tuple[int, int]:
    """(completed superstep checkpoints, bytes on disk) of one run."""
    mgr = CheckpointManager(root, run_id)
    nbytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(mgr.run_dir) for f in fs
    )
    return len(mgr.completed_supersteps()), nbytes


def pass_crawl(spark, ctx: dict, meta: dict, tracer, scratch: str, calls: list) -> None:
    c, edges = _timed(
        tracer, "extraction", calls,
        lambda: (e := edges_from_pages(ctx["pages"]).persist(), e),
    )
    try:
        got = edges.select("src", "dst").toPandas()
        exp = ctx["expect_edges"]
        n_got = len(got)
        c.extra["edges"] = n_got
        c.extra["pages"] = meta["pages"]
        if n_got != len(exp) or set(zip(got.src, got.dst)) != set(zip(exp.src, exp.dst)):
            _fail(c, f"extracted {n_got} edges, oracle has {len(exp)} (or sets differ)")
        n_e = meta["edges"]

        ckpt = os.path.join(scratch, "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        run_id = "cc"
        c1, leg1 = _timed(
            tracer, "cc.first_leg", calls,
            lambda: (
                connected_components(
                    spark, edges, max_iter=2, checkpoint_dir=ckpt, run_id=run_id,
                    checkpoint_interval=1,
                ),
                None,
            ),
            edges=n_e,
        )
        if leg1.supersteps != 2 and not leg1.converged:
            _fail(c1, f"first leg stopped at superstep {leg1.supersteps}, not 2")
        c2, cc = _timed(
            tracer, "cc.resume", calls,
            lambda: (
                r := connected_components(
                    spark, edges, checkpoint_dir=ckpt, run_id=run_id,
                    checkpoint_interval=1, resume=True,
                ),
                r.vertices,
            ),
            edges=n_e,
        )
        for cx, res in ((c1, leg1), (c2, cc)):
            cx.extra = _shuffle_lists(res.metrics)
            cx.extra["changed_total"] = sum(m["changed"] for m in res.metrics)
        c2.extra["checkpoints"], c2.extra["checkpoint_bytes"] = _checkpoint_stats(
            ckpt, run_id
        )
        why = _labels_match(
            cc.vertices.toPandas(), "component", ctx["expect_labels"]["component"]
        )
        if not cc.converged or why:
            _fail(c2, why or "did not converge")
        shutil.rmtree(ckpt, ignore_errors=True)

        c3, lpa = _timed(
            tracer, "lpa", calls,
            lambda: (
                r := label_propagation(spark, edges, max_iter=meta["lpa_iter"]),
                r.vertices,
            ),
            edges=n_e,
        )
        c3.extra = _shuffle_lists(lpa.metrics)
        why = _labels_match(
            lpa.vertices.toPandas(), "label", ctx["expect_labels"]["label"]
        )
        if why:
            _fail(c3, why)

        c4, tri = _timed(
            tracer, "triangles", calls, lambda: (t := triangle_count(edges), t)
        )
        n_tri = tri.collect()[0]["n_triangles"]
        c4.extra["count"] = n_tri
        if n_tri != meta["triangles"]:
            _fail(c4, f"{n_tri} triangles, oracle counts {meta['triangles']}")

        c5, mp = _timed(
            tracer, "maxprop", calls,
            lambda: (
                r := max_propagation(
                    spark, ctx["values"], edges, max_supersteps=meta["maxprop_cap"]
                ),
                r.vertices,
            ),
            edges=n_e,
        )
        c5.extra["msgs_total"] = sum(m["msgs_out"] for m in mp.metrics)
        why = _labels_match(mp.vertices.toPandas(), "value", ctx["expect_labels"]["maxval"])
        if not mp.converged or why:
            _fail(c5, why or "did not reach quiescence")
    finally:
        edges.unpersist()


WORKLOADS = {
    "pagerank_powerlaw": (load_pagerank, pass_pagerank),
    "crawl_communities": (load_crawl, pass_crawl),
}
