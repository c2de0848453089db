"""Measurement helpers: latency statistics, in-memory spans with
per-layer self time and Spark job/task counts, and a process-tree
memory sampler.  Imports no Spark; the Spark context is passed in.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> dict | None:
    """The highest percentile that has at least ten samples beyond it,
    as {"value", "pct", "n"}.  With n samples sorted ascending, the
    sample at 0-based index n-11 is the last with ten after it; its
    percentile is the share of samples at or below it.  None below 21
    samples, where that percentile would not exceed the median."""
    n = len(values)
    if n < 21:
        return None
    i = n - 11
    return {"value": sorted(values)[i], "pct": 100 * (i + 1) // n, "n": n}


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


class Tracer:
    """Spans kept in memory: name, start, end, parent, request id, and
    the Spark jobs and completed tasks run inside the span's own job
    group.  ``sc`` may be None (no job accounting, used in tests).

    Each span sets a job group of its own for its duration, so jobs
    the calling thread submits are attributed to the innermost open
    span.  Jobs a streaming query runs in its own thread carry the
    query's run id as their group; ``adopt_group`` attaches such a
    group to the innermost open span."""

    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "request": self.request, "start": time.perf_counter(),
               "end": None, "groups": [f"pb-span-{sid}"]}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(rec["groups"][0], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(parent["groups"][0], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                rec["jobs"], rec["tasks"] = self._count(rec["groups"])

    def adopt_group(self, group: str) -> None:
        if self._stack:
            self.spans[self._stack[-1]]["groups"].append(group)

    def _count(self, groups: list[str]) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
        return jobs, tasks

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Temporarily replace ``module.attr`` with a version that runs
        inside ``span(name)`` — for layer functions the benchmark
        reaches only through another layer (e.g. the engine facade)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, fn)

    def layers(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds, and the jobs
        and tasks of the span's own groups (children's jobs are counted
        in the children).  Self time is the span's duration minus the
        part of it covered by its child spans."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0,
                                             "self_s": 0.0, "jobs": 0,
                                             "tasks": 0})
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered(kids.get(s["id"], []))
            agg["jobs"] += s.get("jobs", 0)
            agg["tasks"] += s.get("tasks", 0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "layers": self.layers()}, f,
                      indent=1)


class NullTracer:
    """Tracing off: spans and wraps cost one generator frame."""

    enabled = False
    request = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        yield

    def adopt_group(self, group: str) -> None:
        pass


def tree_pids(root: int) -> list[int]:
    """``root`` and its live descendants, read from the kernel's
    per-thread ``children`` lists."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tasks:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
            except OSError:
                continue
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread tracking the peak resident memory of this
    process tree (driver, JVM, Python workers) every ``period`` s."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
