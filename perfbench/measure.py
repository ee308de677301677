"""Timing, tracing and process measurements for the benchmark.

Spans are recorded by the benchmark around calls into the program's public
functions; nothing inside the program is instrumented. In a traced run,
``Tracer.boundary`` persists and counts a layer's output so the next
layer's span covers only its own work.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Per-layer busy time and counts, summed over the traced operations."""

    def __init__(self) -> None:
        self.enabled = False
        self.seconds: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self._persisted: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def boundary(self, df, count_name: str | None = None):
        """Traced: materialize `df` (persist + count) so downstream spans
        exclude its lineage. Untraced: return `df` untouched."""
        if not self.enabled:
            return df
        df = df.persist()
        n = df.count()
        self._persisted.append(df)
        if count_name:
            self.counts[count_name] += n
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- process tree -----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields follow the last ')'
        fields = data[data.rfind(")") + 2:].split()
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by `pid` and its living
    descendants, plus the descendants they have reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rfind(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads. Exact
    only with -XX:-UseDynamicNumberOfCompilerThreads: a compiler thread
    that exits takes its time out of the per-thread view."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for stat in glob.glob(f"/proc/{jvm_pid}/task/*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        cut = data.rfind(")")
        if "CompilerThre" in data[:cut]:  # "C1/C2 CompilerThread<n>", cut to 15 chars
            total += sum(int(x) for x in data[cut + 2:].split()[11:13])  # utime stime
    return total / tick


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(pid: int) -> dict[int, float]:
    """VmHWM of `pid` and each living descendant (driver, JVM, Python
    workers), in MB. Shared pages are counted once per process."""
    return {p: _status_kb(p, "VmHWM") / 1024.0 for p in [pid, *descendants(pid)]}


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(pid: int, skip: int | None = None) -> float:
    """Proportional set size of `pid` and its living descendants except
    `skip`, in MB: pages shared between processes (forked Python workers)
    count once."""
    return sum(_pss_kb(p) for p in [pid, *descendants(pid)] if p != skip) / 1024.0


def jvm_live_mb(spark) -> float:
    """The JVM's heap in use right after a full GC, plus its non-heap
    (metaspace, code cache), in MB: what the JVM keeps, independent of how
    far the collector happened to let the heap grow."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def steal_ticks() -> int:
    """Clock ticks the hypervisor took from this machine's CPUs, so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: a context field that shows how
    fast this host's CPU ran during the run."""
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i
    return time.perf_counter() - t0


# -- Spark event log ----------------------------------------------------------


def event_log_stats(log_dir: str, t_from_ms: float, t_to_ms: float) -> dict[str, float]:
    """Shuffle bytes, spilled bytes, task skew and pandas-UDF input rows
    of the jobs and SQL executions that started inside [t_from, t_to].

    Skew is max / median task duration per stage, averaged over stages
    with at least two tasks. UDF rows are the "number of output rows" SQL
    metric of ArrowEvalPython nodes (one row out per text encoded)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    stages: set[int] = set()
    udf_acc: set[int] = set()
    tasks: dict[int, list[float]] = defaultdict(list)
    shuffle = spill = udf_rows = 0.0
    pending: list[dict] = []
    executions: set[int] = set()

    def plan_metrics(node: dict) -> None:
        if node.get("nodeName", "").startswith("ArrowEvalPython"):
            for m in node.get("metrics", []):
                if m.get("name") == "number of output rows":
                    udf_acc.add(m["accumulatorId"])
        for child in node.get("children", []):
            plan_metrics(child)

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    if t_from_ms <= ev.get("Submission Time", 0) <= t_to_ms:
                        stages.update(ev.get("Stage IDs", []))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    if t_from_ms <= ev.get("time", 0) <= t_to_ms:
                        executions.add(ev.get("executionId"))
                        plan_metrics(ev.get("sparkPlanInfo", {}))
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    if ev.get("executionId") in executions:
                        plan_metrics(ev.get("sparkPlanInfo", {}))
                elif kind == "SparkListenerTaskEnd":
                    pending.append(ev)
    for ev in pending:
        info = ev.get("Task Info", {})
        for acc in info.get("Accumulables", []):
            if acc.get("ID") in udf_acc:
                udf_rows += float(acc.get("Update", 0) or 0)
        if ev.get("Stage ID") not in stages:
            continue
        m = ev.get("Task Metrics") or {}
        shuffle += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        tasks[ev["Stage ID"]].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    skews = [
        max(d) / statistics.median(d)
        for d in tasks.values()
        if len(d) >= 2 and statistics.median(d) > 0
    ]
    return {
        "shuffle_bytes": shuffle,
        "spill_bytes": spill,
        "task_skew": statistics.mean(skews) if skews else 0.0,
        "udf_rows": udf_rows,
    }
