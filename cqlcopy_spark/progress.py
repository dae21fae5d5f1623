"""Progress reporting (SURVEY.md §2A op 15).

The reference runs a metrics goroutine printing total rows, failures,
current and average rows/s every --report-frequency (write.go:162-179).
The Spark-idiomatic equivalent is a driver-side thread reading Spark's
own status store: rows done are the `outputRecords` of the stages of the
jobs run under the reporter, failures their failed task count. The
store is filled from task-end events, so the count advances as tasks
finish — the reference likewise counts batches as workers attempt them.
Nothing is added to the plan: no Python stage, no accumulator.

The jobs are found by job group. A group the caller already set (a
tracer counting jobs per call, say) is reused and never replaced; only
its jobs started after the reporter is entered count. Without one the
reporter sets its own for the duration of the `with` block.
"""

from __future__ import annotations

import threading
import time
import uuid
from collections.abc import Callable

from py4j.protocol import Py4JJavaError

from cqlcopy_spark.config import DEFAULT_CONFIG


class ProgressReporter:
    """Driver-side rows/s reporter over Spark's status store."""

    def __init__(
        self,
        sc,
        report: Callable[[str], None] = print,
        freq_s: float = DEFAULT_CONFIG.report_freq_s,
    ) -> None:
        self._sc = sc
        self._report = report
        self._freq = max(freq_s, 0.1)  # reference floors at 100ms (write.go:126-128)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        # only the PREVIOUS sample is ever read; the final __exit__ emit
        # could interleave with a straggling loop tick — a lock plus one
        # slot keeps the rate figures consistent
        self._emit_lock = threading.Lock()
        self._prev: tuple[float, int] | None = None

    def __enter__(self) -> "ProgressReporter":
        self._group = self._sc.getLocalProperty("spark.jobGroup.id")
        self._own_group = self._group is None
        if self._own_group:
            self._group = f"cqlcopy-progress-{uuid.uuid4().hex}"
            self._sc.setJobGroup(self._group, "cqlcopy progress")
        self._earlier = set(self._sc.statusTracker().getJobIdsForGroup(self._group))
        self._t0 = time.monotonic()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=2 * self._freq)
        # the store is filled asynchronously: drain the listener bus so
        # the final line, like the reference's last tick, is complete
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._emit()
        if self._own_group:
            self._sc._jsc.clearJobGroup()

    def _counts(self) -> tuple[int, int]:
        """(rows written, failed tasks) over the jobs started in the
        group since the reporter was entered. A stage shared by two jobs
        (a reused shuffle) is counted once."""
        store = self._sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(self._group):
            if jid not in self._earlier:
                sids = store.job(jid).stageIds()
                stage_ids.update(sids.apply(i) for i in range(sids.size()))
        rows = failed = 0
        for sid in stage_ids:
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError as e:
                # the store keeps spark.ui.retainedStages stages and evicts
                # skipped ones first (they have no completion time), so in
                # a long session a job can list a stage the store dropped;
                # a skipped stage ran nothing and wrote no rows
                if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                    raise
                continue
            rows += stage.outputRecords()
            failed += stage.numFailedTasks()
        return rows, failed

    def _loop(self) -> None:
        while not self._stop.wait(self._freq):
            self._emit()

    def _emit(self) -> None:
        with self._emit_lock:
            now = time.monotonic()
            done, failed = self._counts()
            prev_t, prev_n = self._prev if self._prev else (self._t0, 0)
            self._prev = (now, done)
            cur = (done - prev_n) / max(now - prev_t, 1e-9)
            avg = done / max(now - self._t0, 1e-9)
            self._report(
                f"{done} rows done ({failed} failures), "
                f"{cur:.0f} rows/s, {avg:.0f} avg rows/s"
            )
