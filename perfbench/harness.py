"""Measurement plumbing shared by the workloads: spans, Spark job counters,
JVM garbage-collection time, peak memory and order statistics.

Nothing here imports the engine; the workloads pass in the SparkSession.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: ``(id, parent, layer, name, op, start, end, thread)``.

    Disabled, ``span`` records nothing, so the untraced runs that give the
    end-to-end metrics carry no tracing work.
    Parents are tracked per thread; spans of one refresh, file or pass
    share the ``op`` id of their root.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent[1]
        sid = next(self._ids)
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self._append(sid, parent[0] if parent else None, layer, name, op, start, end)

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None = None, op: str | None = None) -> int:
        """Record a span measured elsewhere (streaming progress reports)."""
        sid = next(self._ids)
        if self.enabled:
            self._append(sid, parent, layer, name, op, start, end)
        return sid

    def _append(self, sid, parent, layer, name, op, start, end):
        with self._lock:
            self.spans.append({
                "id": sid, "parent": parent, "layer": layer, "name": name,
                "op": op, "start": start, "end": end,
                "thread": threading.current_thread().name,
            })

    def self_times(self) -> dict[str, float]:
        """Seconds per layer of span time not covered by the span's children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of recording one span, for the tracing-overhead metric."""
    t = Tracer(True)
    start = time.perf_counter()
    for _ in range(n):
        with t.span("x", "x", "x"):
            pass
    return (time.perf_counter() - start) / n


class JobCounter:
    """Spark jobs, stages and tasks per operation, from the status tracker.

    Each operation runs under its own job group (a thread-local property,
    so concurrent clients do not mix) and is counted right after it ends,
    before the tracker's retention limit can drop its jobs.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._n = itertools.count(1)

    @contextmanager
    def group(self, label: str):
        gid = f"{label}-{next(self._n)}"
        self._sc.setJobGroup(gid, label)
        counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        try:
            yield counts
        finally:
            self._sc._jsc.clearJobGroup()
            counts.update(self.count(gid))

    def count(self, gid: str) -> dict[str, int]:
        jobs = self._tracker.getJobIdsForGroup(gid)
        stages: set[int] = set()
        tasks = failed = 0
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in stages:
                    continue
                st = self._tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                stages.add(sid)
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                "failed_tasks": failed}


def jvm_gc_s(spark) -> float:
    """Cumulative JVM garbage-collection time over all collectors (JMX)."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def tail(values) -> dict:
    """Highest whole percentile with at least ten samples beyond it.

    Returns the percentile, its value and the sample count; with ten or
    fewer samples no such percentile exists and ``value`` is None.
    """
    n = len(values)
    if n <= 10:
        return {"pct": None, "value": None, "n": n}
    k = n - 11  # sorted index with exactly ten samples above it
    return {"pct": 100 * (k + 1) // n, "value": sorted(values)[k], "n": n}


def env_record() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }
