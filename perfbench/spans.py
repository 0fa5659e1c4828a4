"""Spans, Spark job/task counts, and process-tree memory and CPU time.

Spans are recorded by the benchmark around each public ``choetl_spark``
call (the program itself carries no timers). They stay in memory and are
written out once, at the end of a traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder. A span has a name, a layer, start and end
    (seconds on the ``perf_counter`` clock), and the index of the span
    that was open when it started. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        idx = len(self.spans)
        rec = {
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        direct children cover (children never overlap here: calls are
        sequential)."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = sum(c["end"] - c["start"] for c in self.children(i))
            out[s["layer"]] = out.get(s["layer"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Exact Spark job and task counts per operation, via job groups and
    the status tracker (no listener, no extra jobs)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    @contextlib.contextmanager
    def group(self, op: str):
        """Run the body under a fresh job group; yields a dict that holds
        ``jobs`` and ``tasks`` once the body has finished."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        self._n += 1
        gid = f"{op}#{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
            counts["jobs"] = len(jobs)
            counts["tasks"] = tasks


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children of every process, and every process's CPU clock ticks:
    its own user + system time plus that of the children it has reaped."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name: state ppid ...;
        # utime stime cutime cstime are the 12th-15th of them
        rest = stat.rsplit(")", 1)[1].split()
        kids.setdefault(int(rest[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in rest[11:15])
    return kids, ticks


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _proc_table()[0] if kids is None else kids
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds this process and all its descendants (the Spark JVM,
    Python workers, planner processes) have used so far. Unlike wall time
    it does not grow while the VM waits for a host CPU."""
    kids, ticks = _proc_table()
    me = os.getpid()
    return sum(
        ticks.get(p, 0) for p in [me, *descendants(me, kids)]
    ) / os.sysconf("SC_CLK_TCK")


def _hwm_bytes(pid: int) -> int:
    """Peak resident memory of one process so far (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeRss:
    """Peak memory of this process plus all descendants (the Spark JVM and
    its Python workers): a background thread sums the live processes'
    resident high-water marks and keeps the largest sum. High-water marks
    do not miss a peak that falls between two samples."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_hwm_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
