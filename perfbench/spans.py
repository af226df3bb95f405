"""Spans and per-layer counters for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
workload → call → build / execute / fetch (or the pipeline stages of the
ETL workloads).  Spark-side work is attributed through job groups: every
call runs under its own group, and after the call the status store is
asked which jobs ran in that group and what their stages did.  Nothing
here changes what the program does, but reading the status store, the
Catalyst tracker and the plan text costs time — the traced run reports
that cost as ``trace.overhead_share``.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

__all__ = [
    "NullTracer",
    "Tracer",
    "catalyst_phases",
    "peak_rss_mb",
    "stage_metrics",
    "storage_usage",
    "udf_python_s",
]

_CATALYST_PHASES = {
    "parsing": "catalyst.parse_s",
    "analysis": "catalyst.analysis_s",
    "optimization": "catalyst.optimization_s",
    "planning": "catalyst.planning_s",
}


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def stage_metrics(spark, groups: list[str]) -> dict[str, float]:
    """Sum the status store's stage metrics over every job run in ``groups``.

    The listener bus is drained first: job and stage completions reach
    the status store asynchronously, after the action has returned.
    """
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = spark.sparkContext.statusTracker()
    out: dict[str, float] = defaultdict(float)
    seen: set[int] = set()
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            out["exec.jobs"] += 1
            for stage_id in _iter(store.job(job_id).stageIds()):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                for s in _iter(store.stageData(stage_id, False, None, False, None)):
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["exec.stages"] += 1
                    out["exec.tasks"] += s.numTasks()
                    out["exec.failed_tasks"] += s.numFailedTasks()
                    out["exec.run_s"] += s.executorRunTime() / 1e3
                    out["exec.cpu_s"] += s.executorCpuTime() / 1e9
                    out["exec.gc_s"] += s.jvmGcTime() / 1e3
                    out["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["exec.output_bytes"] += s.outputBytes()
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations recorded by the DataFrame's query execution."""
    out: dict[str, float] = {}
    for kv in _iter(df._jdf.queryExecution().tracker().phases()):
        name = _CATALYST_PHASES.get(kv._1())
        if name:
            out[name] = kv._2().durationMs() / 1e3
    return out


def storage_usage(spark) -> tuple[int, int]:
    """(bytes, RDD count) currently held by the block manager's caches."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos), len(infos)


def udf_python_s(spark) -> float:
    """Python time the UDF profiler has collected so far (all kernels)."""
    results = spark.profile.profiler_collector._perf_profile_results
    return sum(stats.total_tt for stats in results.values())


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this driver process plus the Spark JVM."""
    import resource

    own_kb = _vm_hwm_kb("self") or resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (own_kb + _vm_hwm_kb(jvm_pid)) / 1024.0


class NullTracer:
    """Tracing off: spans and counters cost nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, call_id: int | None = None, parent: int | None = None):
        yield None


class Tracer(NullTracer):
    """In-memory spans and per-layer sums; written out once at exit."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.peaks: dict[str, float] = defaultdict(float)
        self.entry_times: dict[str, list[float]] = defaultdict(list)

    @contextlib.contextmanager
    def span(self, name: str, call_id: int | None = None, parent: int | None = None):
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "call_id": call_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        try:
            yield span["id"]
        finally:
            span["end"] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        self.totals[name] += value

    def add_all(self, values: dict[str, float]) -> None:
        for k, v in values.items():
            self.totals[k] += v

    def peak(self, name: str, value: float) -> None:
        self.peaks[name] = max(self.peaks[name], value)
