"""Seeded workload inputs and their expected answers.

Everything here runs in the launcher before the measured process
starts, and is cached on disk per (workload, scale, seed): generating an
input or an answer is never inside a timed region.

- The PageRank edge table is written by the library's own generator,
  ``synth.ensure_synth_edges_parquet``, in a short-lived Spark process
  that the launcher passes in as ``make_edges``; the oracle then reads
  that parquet with pyarrow.
- CC, LPA, triangles and max propagation are checked against the
  oracles of ``tests/graphs.py``. PageRank keeps its own vectorized
  power iteration: the dict-loop ``graphs.pagerank_oracle`` walks every
  edge in Python on each superstep, far too slow at 2M edges.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests.graphs import components_oracle, lpa_oracle, maxprop_oracle, triangles_oracle


def pagerank_oracle(src: np.ndarray, dst: np.ndarray, n: int, k: int, d=0.85):
    """Exactly ``k`` supersteps of the FIXTURES.md power iteration over
    deduped index arrays; dangling mass spread uniformly."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(k):
        nxt = np.bincount(dst, weights=r[src] / outdeg[src], minlength=n)
        r = (1 - d) / n + d * (nxt + r[dangling].sum() / n)
    return r


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


# ----------------------------- workloads -----------------------------

# sizes per scale; "tiny" is the smoke test's, "full" is the benchmark's
SIZES = {
    "pagerank_powerlaw": {
        "full": {"n_edges": 2_000_000, "n_vertices": 200_000, "supersteps": 10},
        "tiny": {"n_edges": 3_000, "n_vertices": 300, "supersteps": 3},
    },
    "crawl_communities": {
        "full": {"n_pages": 5_000, "n_sites": 64, "lpa_iter": 5, "maxprop_cap": 30},
        "tiny": {"n_pages": 300, "n_sites": 8, "lpa_iter": 5, "maxprop_cap": 30},
    },
}
N_HUBS, HUB_FRACTION = 64, 0.2


def _gen_pagerank(out: str, seed: int, size: dict, make_edges) -> dict:
    path = os.path.join(out, "edges")
    make_edges(
        path, n_edges=size["n_edges"], n_vertices=size["n_vertices"],
        hub_fraction=HUB_FRACTION, n_hubs=N_HUBS, seed=seed,
    )
    t = pq.read_table(path, columns=["src", "dst"])
    # ids are "v<int>": index the vertices by that int
    s, d = (
        pc.cast(pc.utf8_slice_codeunits(t[c], 1), pa.int64()).to_numpy()
        for c in ("src", "dst")
    )
    used = np.unique(np.concatenate([s, d]))
    remap = np.full(size["n_vertices"], -1, np.int64)
    remap[used] = np.arange(len(used))
    ranks = pagerank_oracle(remap[s], remap[d], len(used), size["supersteps"])
    names = np.char.add("v", used.astype(str))
    _write(os.path.join(out, "expect_ranks.parquet"), {"id": names, "rank": ranks})
    return {"edges": int(len(s)), "vertices": int(len(used))}


def _gen_crawl(out: str, seed: int, size: dict, make_edges) -> dict:
    from pregel_spark.corpus import gen_pages
    from pregel_spark.extraction import oracle_extract_links

    pages = gen_pages(size["n_pages"], size["n_sites"], seed)
    pq.write_table(pages, os.path.join(out, "pages.parquet"))
    edges = sorted(
        {
            (u, t)
            for u, h in zip(pages["url"].to_pylist(), pages["html"].to_pylist())
            for t in oracle_extract_links(h, u)
            if t != u
        }
    )
    _write(
        os.path.join(out, "expect_edges.parquet"),
        {"src": [e[0] for e in edges], "dst": [e[1] for e in edges]},
    )
    nodes = sorted({v for e in edges for v in e})
    # the largest value sits on the min id (the hub page 0), so max
    # propagation takes the same hops as min-label CC: its superstep
    # count follows the graph, not where the seed put the maximum
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 1_000_000, size=len(nodes))
    vals[0] = 1_000_000 + rng.integers(0, 1_000_000)
    _write(os.path.join(out, "values.parquet"), {"id": nodes, "value": vals})
    cc = components_oracle(edges)
    lpa = lpa_oracle(edges, max_iter=size["lpa_iter"])
    mx = maxprop_oracle(edges, dict(zip(nodes, vals.tolist())))
    _write(
        os.path.join(out, "expect_labels.parquet"),
        {
            "id": nodes,
            "component": [cc[v] for v in nodes],
            "label": [lpa[v] for v in nodes],
            "maxval": [mx[v] for v in nodes],
        },
    )
    return {
        "pages": int(pages.num_rows),
        "edges": len(edges),
        "vertices": len(nodes),
        "triangles": triangles_oracle(edges)[0],
    }


GENERATORS = {
    "pagerank_powerlaw": _gen_pagerank,
    "crawl_communities": _gen_crawl,
}


def ensure_inputs(cache_root: str, workload: str, scale: str, seed: int, make_edges) -> str:
    """Generate the workload's inputs and expected answers once per
    (workload, scale, seed, sizes, this file); ``meta.json`` is written
    last and marks the directory complete. ``make_edges(path, **kwargs)`` writes
    ``synth.ensure_synth_edges_parquet(spark, path, **kwargs)``."""
    size = SIZES[workload][scale]
    h = hashlib.sha256(json.dumps(size, sort_keys=True).encode())
    with open(__file__, "rb") as f:  # a changed generator makes a new key
        h.update(f.read())
    key = h.hexdigest()[:8]
    out = os.path.join(cache_root, "inputs", f"{workload}-{scale}-seed{seed}-{key}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        return out
    os.makedirs(out, exist_ok=True)
    meta = {"workload": workload, "scale": scale, "seed": seed, **size}
    meta.update(GENERATORS[workload](out, seed, size, make_edges))
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return out


def read_meta(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "meta.json")) as f:
        return json.load(f)
