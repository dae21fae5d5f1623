"""Custom PySpark DataSource WRITER reproducing the reference's write
path (SURVEY.md §2A ops 10-12, 20) with two-phase commit — the engine's
one implementation of batched, retried writes:

- write.go:37-38 — batches flush at `chunk_size` rows OR `max_batch_kb`
  (Σ field bytes), whichever trips first → same dual threshold here.
- write.go:97-101 — the reference NEVER flushes a worker's final partial
  batch (its `rows` channel closes without a drain; SURVEY.md §2A
  quirks); this writer flushes it, which is the behavior users expect.
- write.go:253-265 — per-batch retry with fixed backoff → retry_call. A
  batch that exhausts its attempts fails the task, and so the job; the
  reference's --max-insert-errors budget (write.go:242-248, logged but
  never enforced there) has nothing left to count.

Two-phase commit is the part Spark adds over the reference: each task
writes its batches to a UUID-staged file and returns a commit message;
the driver's commit() atomically renames every staged file into the
destination, and abort() removes strays — a failed/retried task can
never leave half-written output visible. That is exactly the contract
`DataFrameWriter.save()` gives parquet, re-implemented for a custom
batched-CSV sink via the Python DataSource API.

Rows arrive typed; each task renders them with one per-field renderer
per column, chosen once from the write's schema, in the convention of
`csv_sink._render_field` (strings always quoted, so the string "NULL"
stays data; SQL NULL is the bare null literal).

Scale posture: tasks write independently (no coordination until the
driver-side commit); commit cost ∝ #files = #partitions, not bytes.
"""

from __future__ import annotations

import datetime
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)

from cqlcopy_spark.config import DEFAULT_CONFIG, go_layout_to_strftime


def retry_call(
    fn: Callable[[], None],
    max_attempts: int = DEFAULT_CONFIG.max_attempts,
    backoff_s: float = DEFAULT_CONFIG.backoff_s,
    sleep: Callable[[float], None] = time.sleep,
) -> bool:
    """Run `fn` up to max_attempts times (<= 0 = infinite, matching the
    config family's -1/0 = unlimited convention; write.go:41), fixed
    backoff between attempts (write.go:253-265). True on success."""
    attempt = 0
    while True:
        attempt += 1
        try:
            fn()
            return True
        except Exception:
            if max_attempts > 0 and attempt >= max_attempts:
                return False
            sleep(backoff_s)


@dataclass
class StagedFile(WriterCommitMessage):
    staged_path: str
    final_name: str
    n_rows: int
    n_batches: int


class BatchedCsvWriter(DataSourceWriter):
    def __init__(self, options, schema, overwrite=False):
        self.path = options["path"]
        self.schema = schema
        self.overwrite = overwrite
        # defaults come from DEFAULT_CONFIG (the reference's CLI defaults,
        # write.go:35-41) so the sink can't drift from the COPY surface
        self.chunk_size = int(options.get("chunk_size", str(DEFAULT_CONFIG.chunk_size)))
        self.max_batch_bytes = (
            int(options.get("max_batch_kb", str(DEFAULT_CONFIG.max_batch_kb))) * 1000
        )
        self.max_attempts = int(
            options.get("max_attempts", str(DEFAULT_CONFIG.max_attempts))
        )
        self.backoff_s = float(options.get("backoff_s", str(DEFAULT_CONFIG.backoff_s)))
        # rendering conventions (op 20/21): without these the staged CSV
        # could not be re-ingested by the engine's own readers — nulls
        # must be the null literal (not ""), booleans the configured
        # lowercase literals (not Python's 'True'), timestamps the
        # configured layout (not datetime.__str__)
        self.null_literal = options.get("null_literal", DEFAULT_CONFIG.null_literal)
        bs = options.get("bool_style", ",".join(DEFAULT_CONFIG.bool_style))
        self.true_lit, self.false_lit = (x.strip() for x in bs.split(","))
        # timestamp layout DERIVED from the COPY surface's --time-format
        # (Go layout → strftime), so this sink renders the same wire form
        # cfg.time_format re-parses
        self.ts_format = go_layout_to_strftime(
            options.get("time_format_go", DEFAULT_CONFIG.time_format_go)
        )

    def _field_renderer(self, dtype) -> Callable[[object], str]:
        """One CSV cell in csv_sink._render_field's convention, chosen once
        per column from the schema: strings ALWAYS quoted (quote-doubling
        escape) so the string "NULL" stays data, booleans the configured
        literals, timestamps the configured layout, everything else
        bare, SQL NULL the bare null literal."""
        if isinstance(dtype, T.StringType):

            def text(v) -> str:
                return '"' + v.replace('"', '""') + '"'

        elif isinstance(dtype, T.BooleanType):

            def text(v) -> str:
                return self.true_lit if v else self.false_lit

        elif isinstance(dtype, T.TimestampType):
            # PySpark hands the Python writer tz-NAIVE datetimes (session
            # tz UTC), and a naive strftime("%z") renders EMPTY — the
            # lines would not re-ingest under the default layout, whose
            # read side requires an offset
            utc = "%z" in self.ts_format

            def text(v) -> str:
                if utc and v.tzinfo is None:
                    v = v.replace(tzinfo=datetime.timezone.utc)
                return v.strftime(self.ts_format)

        elif isinstance(dtype, T.TimestampNTZType):
            # zone-less, like CopyConfig.time_format_ntz: the NTZ read
            # side rejects a trailing offset
            ntz_format = self.ts_format.replace("%z", "").strip()

            def text(v) -> str:
                return v.strftime(ntz_format)

        else:
            text = str
        null = self.null_literal
        return lambda v: null if v is None else text(v)

    def write(self, iterator):
        """Task-side: accumulate rows into batches, flush each batch
        (with retry) to a staging file unique to this task attempt.
        The FINAL PARTIAL BATCH IS FLUSHED — the reference's documented
        drop (write.go:97-101) is a bug, not a contract."""
        import uuid

        attempt_id = uuid.uuid4().hex
        os.makedirs(os.path.join(self.path, "_staging"), exist_ok=True)
        staged = os.path.join(self.path, "_staging", f"part-{attempt_id}.csv")
        n_rows = n_batches = 0
        batch: list[str] = []
        batch_bytes = 0

        def flush() -> None:
            nonlocal batch, batch_bytes, n_batches
            if not batch:
                return
            lines = "".join(batch)
            base = os.path.getsize(staged) if os.path.exists(staged) else 0

            def _append() -> None:
                # idempotent under retry: a previous attempt may have
                # appended PART of this batch before failing — truncate
                # back to the pre-batch offset so re-appending the whole
                # batch can't duplicate rows (the reference's INSERT
                # retry is idempotent; a raw file append is not)
                with open(staged, "a", encoding="utf-8") as f:
                    f.truncate(base)
                    f.write(lines)

            if not retry_call(
                _append, max_attempts=self.max_attempts, backoff_s=self.backoff_s
            ):
                # Exhausted retries must FAIL the task (Spark then retries
                # the task or aborts the job → abort() cleans staging).
                raise IOError(f"batch flush failed after {self.max_attempts} attempts")
            n_batches += 1
            batch, batch_bytes = [], 0

        render = [self._field_renderer(f.dataType) for f in self.schema.fields]
        for row in iterator:
            line = ",".join([r(v) for r, v in zip(render, row)]) + "\n"
            batch.append(line)
            # UTF-8 octets of the QUOTED line. The reference counts the
            # UNQUOTED field bytes (write.go:238-240); this sink counts
            # what it actually stages — strictly ≥ the
            # reference's measure, so batches can only flush EARLIER,
            # never overshoot the byte budget. The r03-flagged bug was
            # counting Python CODEPOINTS, which undercounts multi-byte
            # text ~2-4× and overshoots.
            batch_bytes += len(line.encode("utf-8"))
            n_rows += 1
            if len(batch) >= self.chunk_size or batch_bytes >= self.max_batch_bytes:
                flush()
        flush()  # the final partial batch — flushed, not dropped
        if n_rows == 0:
            # No file staged for an empty partition; commit skips it.
            return StagedFile("", f"part-{attempt_id}.csv", 0, 0)
        return StagedFile(staged, f"part-{attempt_id}.csv", n_rows, n_batches)

    def commit(self, messages):
        """Driver-side: atomically publish every staged file, then clear
        the staging dir INCLUDING strays — a task attempt that died after
        flushing (and was retried under a fresh uuid) leaves a staged
        file no commit message references; it must not survive a
        successful job. Until the rename loop runs, readers of `path`
        see nothing."""
        import shutil

        if self.overwrite:
            # honor .mode("overwrite") like every built-in format: stale
            # part files from a previous job must not survive beside the
            # new ones (silently appending under an overwrite request
            # duplicates rows for every downstream reader)
            for name in os.listdir(self.path):
                if name.startswith("part-") and name.endswith(".csv"):
                    os.remove(os.path.join(self.path, name))
        for m in messages:
            if m is not None and m.n_rows:
                os.replace(m.staged_path, os.path.join(self.path, m.final_name))
        staging = os.path.join(self.path, "_staging")
        if os.path.isdir(staging):
            shutil.rmtree(staging, ignore_errors=True)

    def abort(self, messages):
        # failed tasks contribute None commit messages (pyspark
        # DataSourceWriter.abort contract); their partially-written
        # stray files carry no message either — clear the WHOLE staging
        # dir, exactly like commit() does, or orphaned partial data
        # accumulates across failed runs
        import shutil

        staging = os.path.join(self.path, "_staging")
        if os.path.isdir(staging):
            shutil.rmtree(staging, ignore_errors=True)


class BatchedCsvSinkDataSource(DataSource):
    """df.write.format("cql_batched").option("path", dir)
    .mode("append").save() — Python DataSources support only
    append/overwrite save modes; append matches the reference's
    INSERT-only semantics."""

    @classmethod
    def name(cls):
        return "cql_batched"

    def writer(self, schema, overwrite):
        return BatchedCsvWriter(self.options, schema, overwrite=overwrite)


def register_batched_sink(spark) -> None:
    """Make `df.write.format("cql_batched")` work for writes from `spark`."""
    from cqlcopy_spark.catalog import register_data_source

    register_data_source(spark, BatchedCsvSinkDataSource)
