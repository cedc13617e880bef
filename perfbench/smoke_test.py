"""Smoke test of the benchmark: every workload at tiny size, both modes.

    python3 perfbench/smoke_test.py      # or: python -m pytest perfbench/smoke_test.py

Goes through the same command the benchmark is run with (plus
``--scale tiny``) and checks that the printed metric names and units are
exactly those of ``BENCHMARK.json``, that no call failed (fail ratio 0)
and that the exit code is 0.
A tiny run still starts a JVM: expect about a minute per run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def run_tiny(workload: str, trace: int, seed: int = 7) -> dict:
    out = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
            "--scale", "tiny",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-3000:]}"
    res = json.loads(out.stdout.strip().splitlines()[-1])
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _spec()[key]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics {sorted(got)} != {sorted(want)}"
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
    return res


def test_workloads_tiny():
    for w in (x["name"] for x in _spec()["workloads"]):
        for trace in (0, 1):
            run_tiny(w, trace)


if __name__ == "__main__":
    test_workloads_tiny()
    print("smoke test passed")
