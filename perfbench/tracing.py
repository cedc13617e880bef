"""Spans, Spark job counts and process-tree readings for the benchmark.

Spans are recorded from the benchmark's side, around each public call
into ``pregel_spark`` and around the ``noop`` write that forces its
result. With tracing off, :class:`Tracer` keeps only the wall clock of
each span, so the timed run pays no job-group or status-tracker calls.
With tracing on, each span also sets a Spark job group and, when it
ends, asks ``statusTracker()`` how many jobs, stages and tasks ran in
it. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name: index 0 is
    field 3 (state), so field k of proc(5) is at index k - 3."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its Python workers
    when ``pid`` is the benchmark's worker process)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        f = _stat(name) if name.isdigit() else None
        if f:
            kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def start_ticks(pid: int) -> int | None:
    """Start time of ``pid`` (field 22), which tells a process apart
    from a later one that reuses its pid."""
    f = _stat(pid)
    return int(f[19]) if f else None


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime (fields 14-17)."""
    f = _stat(pid)
    return sum(int(x) for x in f[11:15]) if f else 0


def tree_cpu_s(pid: int) -> float:
    """User+system CPU seconds of the live processes below ``pid``,
    including children they have reaped (Python workers ended by the
    daemon are charged to it)."""
    return sum(_cpu_ticks(p) for p in descendants(pid)) / _TICK


def cpu_ticks() -> list[int] | None:
    """The aggregate ``cpu`` line of ``/proc/stat``."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    return [int(x) for x in parts[1:]] if parts and parts[0] == "cpu" else None


def steal_pct(before: list[int] | None, after: list[int] | None) -> float | None:
    """Hypervisor steal (8th field of the cpu line) as % of all ticks."""
    if before is None or after is None:
        return None
    d = [a - b for a, b in zip(after, before)]
    total = sum(d)
    if total <= 0 or len(d) < 8:
        return None
    return round(100.0 * d[7] / total, 2)


def wait_tree(proc: subprocess.Popen, timeout_s: float) -> tuple[int | None, int]:
    """Wait for ``proc`` (started with ``start_new_session=True``) while
    sampling the summed RSS of the processes below it (the JVM and the
    Python workers, which leave its process group) every 0.1 s. Kill
    the lot on timeout; in any case return only once all of them have
    ended. Returns the exit code (None on timeout) and the peak RSS in
    bytes."""
    seen: dict[int, int | None] = {}
    peak, tick = 0, 0
    deadline = time.monotonic() + timeout_s
    while proc.poll() is None and time.monotonic() < deadline:
        if tick % 10 == 0:  # a full /proc scan finds new processes
            for p in descendants(proc.pid):
                seen.setdefault(p, start_ticks(p))
        peak = max(peak, sum(rss_bytes(p) for p in seen))
        tick += 1
        time.sleep(0.1)
    rc = proc.poll()
    if rc is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    def alive() -> list[int]:
        return [p for p, t in seen.items() if t is not None and start_ticks(p) == t]

    # normally the JVM and the Python workers exit with ``proc``; give
    # them a grace period, then terminate, then kill
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for p in alive() if sig is not None else []:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        grace = time.monotonic() + 10
        while alive() and time.monotonic() < grace:
            time.sleep(0.1)
        if not alive():
            break
    return rc, peak


class Tracer:
    """Span recorder; see the module docstring for the two modes."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span dict; callers may add attributes to it."""
        t_in = time.monotonic()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = f"perfbench-{rec['id']}"
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, name)
        rec["start"] = time.monotonic()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self.enabled:
                rec.update(self._job_counts(group))
                sc = self.spark.sparkContext
                if self._stack:
                    sc.setJobGroup(f"perfbench-{self._stack[-1]}", "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.monotonic() - rec["end"]

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def dump(self, path: str, env: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"env": env, "spans": self.spans}, f, indent=1)
