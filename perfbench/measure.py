"""Measurement helpers: percentiles, peak memory and the layer tracer.

The tracer measures each layer from outside, at the calls the benchmark
makes into it. It sets one Spark job group per operation, reads Spark's own
status store after the operation (jobs, stages, tasks, executor time,
shuffle and spill bytes, output rows and bytes) and records spans
(name, start, end, parent) in memory; ``write`` dumps them at the end of a
run. Time spent inside the tracer itself is summed in ``overhead_s``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Iterator

MB = 1024 * 1024


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError("p must be in (0, 100]")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100 * len(ordered)) - 1)]


def tail_percentile(n: int, candidates=(99, 95, 90, 80, 75, 50)) -> int | None:
    """The highest candidate percentile with at least ten samples beyond it,
    or None when even the median has fewer than ten above it."""
    for p in candidates:
        if n - math.ceil(p / 100 * n) >= 10:
            return p
    return None


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024


#: Stage fields read from the status store, summed per operation.
STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "outputBytes",
    "outputRecords",
)


class Tracer:
    """Spans plus per-operation Spark status readouts.

    A disabled tracer records nothing and touches no Spark state, so the
    untraced run measures the program alone.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._groups = 0

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        """Record a span (name, start, end, parent) around the block."""
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def group(self, spark, label: str) -> str | None:
        """Start a fresh job group for the next calls; None when disabled."""
        if not self.enabled:
            return None
        self._groups += 1
        gid = f"perfbench-{self._groups}-{label}"
        spark.sparkContext.setJobGroup(gid, label)
        return gid

    def readout(self, spark, group: str | None) -> dict:
        """Jobs, stages, tasks and summed stage metrics of one job group."""
        if group is None:
            return {}
        t0 = time.perf_counter()
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = {f: 0 for f in STAGE_FIELDS}
        out.update(jobs=0, stages=0, tasks=0, job_wall_s=0.0)
        seen: set[int] = set()
        spans: list[tuple[int, int]] = []
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            job = store.job(jid)
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                spans.append((start.get().getTime(), end.get().getTime()))
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage never submitted: nothing ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                for f in STAGE_FIELDS:
                    out[f] += getattr(st, f)()
        out["job_wall_s"] = _union_ms(spans) / 1000
        self.overhead_s += time.perf_counter() - t0
        return out

    def job_count(self, spark, group: str | None) -> int:
        if group is None:
            return 0
        t0 = time.perf_counter()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        n = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        self.overhead_s += time.perf_counter() - t0
        return n

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1), encoding="utf-8")


def _union_ms(spans: list[tuple[int, int]]) -> int:
    """Total length of the union of [start, end] intervals."""
    total, edge = 0, None
    for a, b in sorted(spans):
        if edge is None or a > edge:
            total += b - a
            edge = b
        elif b > edge:
            total += b - edge
            edge = b
    return total


def driver_pids() -> list[int]:
    """This Python process and the driver JVM it launched."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        pids.append(proc.pid)
    return pids
