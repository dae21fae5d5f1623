"""The benchmark's workloads. Both are closed loop with one client.

A workload owns its inputs, its output and state dirs, its op cycle and
its output checks:

- ``set_up`` generates the inputs from the seed and makes fresh dirs;
- ``warm_up`` runs once, untimed, right after ``set_up``;
- ``run_pass`` runs one pass of the op cycle and returns its ops;
- ``check`` runs after the timed phase and returns one line per mismatch.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, replace
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.trace import CALL_FIELDS, Tracer

COPY_CALLS = (
    "cli.run_read",
    "cli.run_write",
    "cli.run_write.dynamic",
    "sinks.batched_sink.write",
)
STREAM_CALLS = tuple(
    f"streaming.sinks.{c}"
    for c in (
        "curation_apply_batch",
        "minhash_apply_batch",
        "curation_takedown_batch",
        "minhash_takedown_batch",
        "curation_vacuum",
        "minhash_vacuum",
        "curation_state_clone",
        "read_curation_survivors",
        "read_minhash_pairs",
    )
)
EXTRA_METRICS = (
    "sinks.csv_sink.bytes_per_row",
    "streaming.sinks.curation_apply_batch.compact_wall_s",
    "streaming.sinks.maintenance_round.wall_s",
    "streaming.sinks.state_mb",
    "streaming.sinks.state_bytes_per_doc",
)


def layer_metric_names() -> list[str]:
    """Every per-layer metric but tracing_overhead, which the runner adds."""
    calls = [f"{c}.{f}" for c in COPY_CALLS + STREAM_CALLS for f in CALL_FIELDS]
    return calls + list(EXTRA_METRICS)


@dataclass
class Op:
    latency_s: float | None  # None: not an op sample (a maintenance round)
    wall_s: float
    units: int


def _row_hashes(df: DataFrame) -> DataFrame:
    """One 64-bit hash per row; a NULL cell hashes apart from every value."""
    cells = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.select(F.xxhash64(F.array(*cells)).alias("h"))


def mismatched_rows(pairs: dict[str, tuple[DataFrame, DataFrame]]) -> dict[str, int]:
    """Compare each (got, want) pair as multisets of row hashes, all pairs
    in one Spark job. Returns {name: rows in one side only} for the pairs
    that differ."""
    parts = []
    for name, (got, want) in pairs.items():
        for df, sign in ((got, 1), (want.select(*got.columns), -1)):
            parts.append(
                _row_hashes(df).select(
                    F.lit(name).alias("name"), "h", F.lit(sign).alias("n")
                )
            )
    diff = (
        reduce(DataFrame.unionByName, parts)
        .groupBy("name", "h")
        .agg(F.sum("n").alias("d"))
        .filter("d != 0")
        .groupBy("name")
        .agg(F.sum(F.abs("d")).alias("rows"))
    )
    return {r["name"]: int(r["rows"]) for r in diff.collect()}


def _force(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    unit_name = "rows"

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.errors = 0

    def _fresh(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def _timed(self, tracer, name: str, fn, *args) -> float | None:
        """One traced call; returns its wall, or None if it raised (a
        failed op is a result, not a crash)."""
        try:
            _, wall = tracer.call(name, fn, *args)
        except Exception as e:  # noqa: BLE001
            print(f"op {name} failed: {e!r}"[:2000], file=sys.stderr, flush=True)
            self.errors += 1
            return None
        return wall


# --------------------------------------------------------------------------
# copy_bulk
# --------------------------------------------------------------------------


class CopyBulk(Workload):
    """The paper's COPY through ``cli.main(argv, spark=spark)`` with the
    parquet backend, plus a write through the ``cql_batched`` sink. One
    pass is export, import, import_dynamic, export_batched.

    Each op type moves its own row count, sized so that all four take a
    similar wall on a 4-core host; the op latency distribution is then
    one mode, and its median sits inside it. All inputs are prefixes of
    one generated table.
    """

    ROWS = {
        "export": 200_000,
        "import": 240_000,
        "import_dynamic": 50_000,
        "export_batched": 25_000,
    }
    CALL = dict(zip(ROWS, COPY_CALLS))
    #: the batched sink's null literal. With the default "NULL" the sink
    #: writes the string "NULL" bare, and it reads back as SQL NULL.
    BATCHED_NULL = "\\N"

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self._types = ",".join(gen.COPY_TYPES)
        self._k = 0
        self._last: dict[str, str] = {}

    def set_up(self, spark) -> None:
        from cqlcopy_spark.sinks.batched_sink import register_batched_sink

        register_batched_sink(spark)
        inp = self._fresh("in")
        self._fresh("out")
        table = gen.copy_table(self.seed, max(self.ROWS.values()))
        self._first_id = table["id"][0].as_py()
        # the whole table, which the checks slice per op type
        self._source = os.path.join(inp, "source.parquet")
        pq.write_table(table, self._source)
        self._inputs = {}
        for kind, n in self.ROWS.items():
            if kind.startswith("import"):
                self._inputs[kind] = os.path.join(inp, kind + ".csv")
                gen.write_copy_csv(table.slice(0, n), self._inputs[kind])
            else:
                self._inputs[kind] = os.path.join(inp, kind + ".parquet")
                pq.write_table(table.slice(0, n), self._inputs[kind])

    def warm_up(self, spark) -> None:
        """One untimed pass at full size (a smaller one costs the same
        and leaves the timed pass colder)."""
        walls = []
        for kind in self.ROWS:
            t0 = time.perf_counter()
            self._op(spark, kind, self._inputs[kind], self._out(f"warm-{kind}"))
            walls.append(round(time.perf_counter() - t0, 3))
        print(f"warm-up op walls (s): {walls}", file=sys.stderr)
        self._fresh("out")

    def _out(self, name: str) -> str:
        return os.path.join(self.work, "out", name)

    def _cli(self, spark, argv: list[str]) -> None:
        from cqlcopy_spark import cli

        rc = cli.main(argv, spark=spark)
        if rc != 0:
            raise RuntimeError(f"cli {argv[0]} exited {rc}")

    def _op(self, spark, kind: str, src: str, dst: str) -> None:
        cols = gen.COPY_COLUMNS
        write = ["write", "t", *cols, "--types", self._types, "--input", src, "--path", dst]
        if kind == "export":
            self._cli(spark, ["read", "t", *cols, "--path", src, "--output", dst])
        elif kind == "import":
            self._cli(spark, write)
        elif kind == "import_dynamic":
            self._cli(spark, write + ["--dynamic"])
        else:
            (
                spark.read.parquet(src)
                .write.format("cql_batched")
                .option("path", dst)
                .option("null_literal", self.BATCHED_NULL)
                .mode("append")
                .save()
            )

    def run_pass(self, spark, tracer) -> list[Op]:
        ops = []
        for kind in self.ROWS:
            dst = self._out(f"{kind}-{self._k}")
            self._k += 1
            self.attempted += 1
            wall = self._timed(
                tracer, self.CALL[kind], self._op, spark, kind, self._inputs[kind], dst
            )
            if wall is None:
                shutil.rmtree(dst, ignore_errors=True)
                continue
            ops.append(Op(wall, wall, self.ROWS[kind]))
            if kind in self._last:
                shutil.rmtree(self._last[kind], ignore_errors=True)
            self._last[kind] = dst
        return ops

    def check(self, spark) -> list[str]:
        """The last output of each op type against its source rows."""
        from cqlcopy_spark.config import DEFAULT_CONFIG
        from cqlcopy_spark.sources.csv_source import cast_dynamic, parse_csv_dynamic, read_csv

        table = spark.read.parquet(self._source)
        schema = table.schema
        # every input is a prefix of the source table, whose ids ascend
        src = {k: table.filter(F.col("id") < self._first_id + n) for k, n in self.ROWS.items()}

        def null_literal_rule(df: DataFrame) -> DataFrame:
            # documented in sinks/csv_sink.py: the schema-first reader
            # cannot tell the quoted string "NULL" from a bare NULL
            lit = DEFAULT_CONFIG.null_literal
            return df.select(
                *[
                    F.when(F.col(f.name) != lit, F.col(f.name)).alias(f.name)
                    if f.dataType.typeName() == "string" else F.col(f.name)
                    for f in schema.fields
                ]
            )

        def batched_back(path: str) -> DataFrame:
            cfg = replace(DEFAULT_CONFIG, header=False, null_literal=self.BATCHED_NULL)
            raw = parse_csv_dynamic(spark, path, gen.COPY_COLUMNS, cfg)
            ok = raw.filter(F.col("_parse_error").isNull())
            return cast_dynamic(ok, schema, cfg).drop("_parse_error")

        read_back = {
            "export": lambda p: read_csv(spark, p, schema, DEFAULT_CONFIG),
            "import": spark.read.parquet,
            "import_dynamic": spark.read.parquet,
            "export_batched": batched_back,
        }
        want = {
            "export": null_literal_rule(src["export"]),
            "import": null_literal_rule(src["import"]),
            "import_dynamic": src["import_dynamic"],
            "export_batched": src["export_batched"],
        }
        problems = [f"{k}: no op of this type completed" for k in self.ROWS if k not in self._last]
        pairs = {k: (read_back[k](p), want[k]) for k, p in self._last.items()}
        for kind, rows in sorted(mismatched_rows(pairs).items()):
            problems.append(f"{kind}: {rows} rows differ from the source")
        if "export" in self._last:
            self.export_bytes_per_row = _dir_bytes(self._last["export"]) / self.ROWS["export"]
        return problems

    def layer_metrics(self, tracer) -> dict[str, float]:
        m = _call_metrics(tracer)
        m["sinks.csv_sink.bytes_per_row"] = getattr(self, "export_bytes_per_row", 0.0)
        return m


# --------------------------------------------------------------------------
# stream_lifecycle
# --------------------------------------------------------------------------


class StreamLifecycle(Workload):
    """A seeded document stream through the curation and minhash state
    layers. Each op is one micro-batch through ``curation_apply_batch``
    and then ``minhash_apply_batch`` (on the batch's minhash slice), with
    the same batch id. A pass is ``MAINT_EVERY`` batches and then one
    maintenance round: takedowns on both states, both vacuums (with an
    epoch bump so ingest continues), a clone at an as-of point, and forced
    reads of the as-of survivors and of the pairs report.
    """

    unit_name = "docs"
    BATCH_DOCS = 3000
    MINHASH_DOCS = 400
    #: the warm-up ingests one batch, and the kernels compact once four
    #: deltas lie below a batch, so the last batch of the first pass
    #: compacts
    MAINT_EVERY = 4
    #: batches generated during set-up (the warm-up batch and one pass);
    #: more are generated on demand, outside the timed walls
    PREGEN_BATCHES = MAINT_EVERY + 1

    def set_up(self, spark) -> None:
        self._stream = gen.DocStream(self.seed, self.BATCH_DOCS, self.MINHASH_DOCS)
        self._tables = [self._stream.batch(b) for b in range(self.PREGEN_BATCHES)]
        self._cur = self._fresh("state", "curation")
        self._mh = self._fresh("state", "minhash")
        self._fresh("clones")
        self._batch = 0  # micro-batches ingested
        self._raw_id = 0  # next batch id handed to a kernel
        self._round = 0
        self._takedown_ids: list[int] = []
        self._clone = None
        self._compact_walls: list[float] = []
        self._maint_walls: list[float] = []

    def warm_up(self, spark) -> None:
        """Untimed. First the one-shot reference the check compares
        against: both kernels, once, over every document the warm-up and
        one pass deliver, into their own state dirs. That is also the
        kernels' cold start. Then the stream's first batch and one
        maintenance round on the live state."""
        self._reference = self._one_shot(spark, self._tables[: 1 + self.MAINT_EVERY])
        untraced = Tracer(spark, enabled=False)
        self._ingest(spark, untraced, self._tables[0])
        self._maintain(spark, untraced)
        self._compact_walls.clear()
        self._maint_walls.clear()

    def _one_shot(self, spark, tables: list[pa.Table]) -> tuple[str, str, int]:
        """(curation dir, minhash dir, batches covered)."""
        from cqlcopy_spark.streaming import sinks

        cur = self._fresh("oneshot", "curation")
        mh = self._fresh("oneshot", "minhash")
        docs = pa.concat_tables(tables)
        sinks.curation_apply_batch(spark.createDataFrame(docs.to_pandas()), 0, cur)
        mh_docs = pa.concat_tables(t.slice(0, self.MINHASH_DOCS) for t in tables)
        sinks.minhash_apply_batch(spark.createDataFrame(mh_docs.to_pandas()), 0, mh)
        return cur, mh, len(tables)

    def _ingest(self, spark, tracer, table: pa.Table) -> float | None:
        from cqlcopy_spark.streaming import sinks

        docs = spark.createDataFrame(table.to_pandas())
        mh_docs = spark.createDataFrame(table.slice(0, self.MINHASH_DOCS).to_pandas())
        bid = self._raw_id
        self._raw_id += 1
        compact_dir = os.path.join(self._cur, "ths", "compact")
        before = set(os.listdir(compact_dir)) if os.path.isdir(compact_dir) else set()
        self._last_batch_as_of = sinks.log_epoch(self._cur) + bid
        w1 = self._timed(tracer, STREAM_CALLS[0], sinks.curation_apply_batch, docs, bid, self._cur)
        w2 = self._timed(tracer, STREAM_CALLS[1], sinks.minhash_apply_batch, mh_docs, bid, self._mh)
        self._batch += 1
        if w1 is None or w2 is None:
            return None
        if os.path.isdir(compact_dir) and set(os.listdir(compact_dir)) - before:
            self._compact_walls.append(w1)
        return w1 + w2

    def _maintain(self, spark, tracer) -> float | None:
        from cqlcopy_spark.streaming import sinks

        ids = self._stream.takedowns(self._round, self._batch * self.BATCH_DOCS)
        td = spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
        bid = self._raw_id
        self._raw_id += 1
        as_of = self._last_batch_as_of
        clone = os.path.join(self.work, "clones", f"r{self._round}")
        steps = [
            (sinks.curation_takedown_batch, td, bid, self._cur),
            (sinks.minhash_takedown_batch, td, bid, self._mh),
            (sinks.curation_vacuum, spark, self._cur, True),
            (sinks.minhash_vacuum, spark, self._mh, True),
            (sinks.curation_state_clone, spark, self._cur, clone, as_of),
            (lambda: _force(sinks.read_curation_survivors(spark, self._cur, as_of=as_of)),),
            (lambda: _force(sinks.read_minhash_pairs(spark, self._mh)),),
        ]
        walls = [self._timed(tracer, name, *step) for name, step in zip(STREAM_CALLS[2:], steps)]
        self._takedown_ids.extend(int(i) for i in ids)
        if self._clone:
            shutil.rmtree(self._clone, ignore_errors=True)
        self._clone, self._clone_as_of = clone, as_of
        self._round += 1
        if None in walls:
            return None
        self._maint_walls.append(sum(walls))
        return sum(walls)

    def run_pass(self, spark, tracer) -> list[Op]:
        ops = []
        for _ in range(self.MAINT_EVERY):
            while len(self._tables) <= self._batch:
                self._tables.append(self._stream.batch(len(self._tables)))
            self.attempted += 1
            wall = self._ingest(spark, tracer, self._tables[self._batch])
            if wall is not None:
                ops.append(Op(wall, wall, self.BATCH_DOCS))
        self.attempted += 1
        wall = self._maintain(spark, tracer)
        if wall is not None:
            ops.append(Op(None, wall, 0))
        return ops

    def check(self, spark) -> list[str]:
        """The streamed state against a one-shot run of the same kernels
        over every delivered document, minus every takedown; the last
        clone against its source read at the same as-of point."""
        from cqlcopy_spark.streaming import sinks

        once_cur, once_mh, covered = self._reference
        if covered != self._batch:  # a run of more than one pass
            once_cur, once_mh, _ = self._one_shot(spark, self._tables[: self._batch])
        taken = spark.createDataFrame(
            [(i,) for i in sorted(set(self._takedown_ids))] or [(-1,)], "doc_id long"
        )

        def canon(pairs: DataFrame) -> DataFrame:
            return pairs.select(
                F.least("new_doc", "dup_of").alias("d1"),
                F.greatest("new_doc", "dup_of").alias("d2"),
                "jaccard",
            )

        want_pairs = canon(sinks.read_minhash_pairs(spark, once_mh))
        for c in ("d1", "d2"):
            want_pairs = want_pairs.join(taken.withColumnRenamed("doc_id", c), c, "left_anti")
        pairs = {
            "curation survivors": (
                sinks.read_curation_survivors(spark, self._cur),
                sinks.read_curation_survivors(spark, once_cur).join(taken, "doc_id", "left_anti"),
            ),
            "minhash pairs": (canon(sinks.read_minhash_pairs(spark, self._mh)), want_pairs),
        }
        if self._clone:
            pairs["clone"] = (
                sinks.read_curation_survivors(spark, self._clone),
                sinks.read_curation_survivors(spark, self._cur, as_of=self._clone_as_of),
            )
        problems = [
            f"{name}: {rows} rows differ from the reference"
            for name, rows in sorted(mismatched_rows(pairs).items())
        ]
        self.state_bytes = _dir_bytes(self._cur) + _dir_bytes(self._mh)
        return problems

    def layer_metrics(self, tracer) -> dict[str, float]:
        m = _call_metrics(tracer)
        m["streaming.sinks.curation_apply_batch.compact_wall_s"] = (
            statistics.median(self._compact_walls) if self._compact_walls else 0.0
        )
        m["streaming.sinks.maintenance_round.wall_s"] = (
            statistics.median(self._maint_walls) if self._maint_walls else 0.0
        )
        docs = self._batch * self.BATCH_DOCS
        m["streaming.sinks.state_mb"] = self.state_bytes / 1e6
        m["streaming.sinks.state_bytes_per_doc"] = self.state_bytes / docs if docs else 0.0
        return m


def _call_metrics(tracer) -> dict[str, float]:
    """Every per-layer metric, 0 for calls this workload never makes."""
    m = {name: 0.0 for name in layer_metric_names()}
    for call, fields in tracer.call_medians().items():
        for suffix, v in fields.items():
            m[f"{call}.{suffix}"] = float(v)
    return m


WORKLOADS = {"copy_bulk": CopyBulk, "stream_lifecycle": StreamLifecycle}
