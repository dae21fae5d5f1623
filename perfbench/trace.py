"""Per-call spans with Spark job accounting, read from the status store.

A traced call runs under its own job group. After it returns, the jobs
of that group are read from the JVM status store
(``sc._jsc.sc().statusStore()``), which works with ``spark.ui.enabled``
false. Each job becomes a child span of the call. Stages are counted
once per process: a shuffle stage reused by a later job is reported
SKIPPED there and must not be counted twice.

The listener bus fills the store asynchronously: a call can return
before its last job-end or stage-completed event is applied. Each read
therefore first waits until the bus is empty. The store keeps only
about 1000 jobs and stages, so it is read right after each call. Spans
stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field

_MB = 1e6

#: Per-call figures, in the order the per-layer metric names use them.
CALL_FIELDS = ("wall_s", "driver_s", "jobs", "executor_run_s", "shuffle_mb", "output_mb")


@dataclass
class Span:
    name: str
    op_id: str
    start: float
    end: float
    parent: str | None = None
    stats: dict = field(default_factory=dict)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """Wraps calls into the program's layers; ``enabled=False`` makes
    ``call`` a plain timed call with no job group and no store reads."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._seq = 0
        self._counted_stages: set[int] = set()
        #: time spent draining the listener bus and reading the store,
        #: outside every call's wall
        self.overhead_s = 0.0

    def call(self, name: str, fn, *args):
        """Run ``fn(*args)``; returns (result, wall seconds)."""
        if not self.enabled:
            t0 = time.perf_counter()
            out = fn(*args)
            return out, time.perf_counter() - t0
        self._seq += 1
        op_id = f"perfbench-{self._seq}"
        self._sc.setJobGroup(op_id, name)
        start_epoch = time.time()
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        finally:
            wall = time.perf_counter() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            self._record(name, op_id, start_epoch, wall)
            self.overhead_s += time.perf_counter() - t0 - wall
        return out, wall

    def _record(self, name, op_id, start_epoch, wall) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = sorted(self._sc.statusTracker().getJobIdsForGroup(op_id))
        intervals, run_ms, shuffle_b, output_b = [], 0, 0, 0
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                js, je = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                intervals.append((js, je))
                self.spans.append(Span(f"job-{jid} {job.name()}", op_id, js, je, parent=op_id))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._counted_stages:
                    continue
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self._counted_stages.add(sid)
                run_ms += stage.executorRunTime()
                shuffle_b += stage.shuffleWriteBytes()
                output_b += stage.outputBytes()
        # job intervals come from the JVM clock in ms; clip them to the
        # call's own window before taking their union
        end_epoch = start_epoch + wall
        clipped = [(max(s, start_epoch), min(e, end_epoch)) for s, e in intervals]
        busy = _union_s([(s, e) for s, e in clipped if e > s])
        self.spans.append(
            Span(
                name,
                op_id,
                start_epoch,
                end_epoch,
                stats={
                    "wall_s": wall,
                    "driver_s": max(wall - busy, 0.0),
                    "jobs": len(job_ids),
                    "executor_run_s": run_ms / 1e3,
                    "shuffle_mb": shuffle_b / _MB,
                    "output_mb": output_b / _MB,
                },
            )
        )

    def call_medians(self) -> dict[str, dict[str, float]]:
        """{call name: {field: median over that call's samples}}."""
        by_name: dict[str, list[dict]] = {}
        for s in self.spans:
            if s.stats:
                by_name.setdefault(s.name, []).append(s.stats)
        return {
            name: {f: statistics.median(x[f] for x in rows) for f in CALL_FIELDS}
            for name, rows in by_name.items()
        }

    def job_counts(self) -> dict[str, list[int]]:
        """{call name: jobs per sample}, for the repeat-exactly check."""
        out: dict[str, list[int]] = {}
        for s in self.spans:
            if s.stats:
                out.setdefault(s.name, []).append(s.stats["jobs"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([s.__dict__ for s in self.spans], f)
