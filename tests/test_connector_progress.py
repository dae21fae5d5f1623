"""Connector option assembly (the reference flag → connector config
mapping, SURVEY.md §2A ops 10-12/18) and the progress reporter (op 15)."""

from __future__ import annotations

import pytest

from cqlcopy_spark.config import CopyConfig
from cqlcopy_spark.progress import ProgressReporter
from cqlcopy_spark.sources.cassandra import read_options, split_table, write_options


def test_write_options_map_reference_flags():
    cfg = CopyConfig(chunk_size=500, max_batch_kb=10, num_workers=4, max_attempts=3)
    opts = write_options("ks.tbl", cfg)
    assert opts["keyspace"] == "ks" and opts["table"] == "tbl"
    # rows and bytes sizing are mutually exclusive in the connector's
    # WriteConf: only the bytes threshold maps
    assert "spark.cassandra.output.batch.size.rows" not in opts
    assert opts["spark.cassandra.output.batch.size.bytes"] == "10000"
    assert opts["spark.cassandra.output.concurrent.writes"] == "4"
    assert opts["spark.cassandra.query.retry.count"] == "3"
    # reference sentinel 0 = retry forever, connector 0 = never: translated
    assert int(
        write_options("ks.tbl", CopyConfig(max_attempts=0))[
            "spark.cassandra.query.retry.count"
        ]
    ) > 1_000_000
    assert opts["spark.cassandra.output.batch.grouping.key"] == "partition"


def test_read_options_map_reference_flags():
    opts = read_options("ks.tbl", CopyConfig(page_size=128))
    assert opts["spark.cassandra.input.fetch.sizeInRows"] == "128"


def test_split_table_validates_identifiers():
    assert split_table("ks.tbl") == ("ks", "tbl")
    with pytest.raises(ValueError):
        split_table("no_keyspace")
    with pytest.raises(ValueError):
        split_table("ks.bad;drop")


def test_progress_reporter_counts_rows(spark, tmp_path):
    """Rows done come from the status store: the final line carries the
    exact count a real parquet write produced, and a reporter that set
    its own job group clears it on exit."""
    lines: list[str] = []
    sc = spark.sparkContext
    with ProgressReporter(sc, report=lines.append, freq_s=0.1):
        spark.range(1000).repartition(4).write.parquet(str(tmp_path / "p"))
    assert lines and lines[-1].startswith("1000 rows done (0 failures)"), lines
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_progress_reporter_survives_an_evicted_stage(spark):
    """The status store keeps spark.ui.retainedStages stages and evicts
    skipped stages first, so late in a long session a job lists a stage
    id the store no longer holds. The reporter reads past it instead of
    failing the command it wraps. Here the second count skips the map
    stage, and the test evicts that stage the way the store does."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    lines: list[str] = []
    with ProgressReporter(sc, report=lines.append, freq_s=60):
        pairs = sc.parallelize(range(100), 2).map(lambda x: (x % 3, x)).reduceByKey(max)
        pairs.count()
        pairs.count()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        group = sc.getLocalProperty("spark.jobGroup.id")
        sids = [
            ids.apply(i)
            for jid in sc.statusTracker().getJobIdsForGroup(group)
            for ids in [store.job(jid).stageIds()]
            for i in range(ids.size())
        ]
        stages = [store.lastStageAttempt(sid) for sid in sids]
        skipped = [s for s in stages if s.status().toString() == "SKIPPED"]
        assert len(skipped) == 1
        key = sc._gateway.new_array(sc._jvm.int, 2)
        key[0], key[1] = skipped[0].stageId(), skipped[0].attemptId()
        wrapper = sc._jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
        store.store().delete(wrapper, key)
    assert lines and lines[-1].startswith("0 rows done (0 failures)"), lines


def test_paged_source_partitions_are_disjoint_complete_row_group_spans():
    """Input splits are row-group spans planned from the parquet FOOTER
    only: together they cover every row group exactly once (no task
    scans the whole file), and the split count respects n_ranges."""
    import pyarrow.parquet as pq

    from cqlcopy_spark.sources.paged_source import PagedTokenRangeReader
    from tests.conftest import SF_SMALL

    path = f"{SF_SMALL}/orders.parquet"
    n_rg = pq.ParquetFile(path).metadata.num_row_groups
    r = PagedTokenRangeReader(
        None, {"path": path, "key_col": "o_orderkey", "n_ranges": "4"}
    )
    parts = r.partitions()
    assert 1 <= len(parts) <= 4
    covered = sorted(rg for p in parts for rg in p.row_groups)
    assert covered == list(range(n_rg))  # disjoint AND complete


def test_batched_sink_two_phase_commit_roundtrip(spark, tmp_path):
    """Custom DataSource writer: batched flush (final partial batch
    INCLUDED — the reference drops it, write.go:97-101), staging made
    invisible until the driver-side commit renames, and no stray files
    afterwards."""
    import os

    from cqlcopy_spark.catalog import _ship_package, table
    from cqlcopy_spark.sinks.batched_sink import register_batched_sink
    from tests.conftest import SF_SMALL

    _ship_package(spark)
    register_batched_sink(spark)
    out = str(tmp_path / "landed")
    src = table(spark, SF_SMALL, "orders").select("o_orderkey", "o_orderstatus")
    n = src.count()
    (
        src.repartition(4)
        .write.format("cql_batched")
        .option("path", out)
        .option("chunk_size", "100")
        .mode("append")
        .save()
    )
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert files and not os.path.exists(os.path.join(out, "_staging"))
    landed = sum(
        1
        for f in files
        for _ in open(os.path.join(out, f), encoding="utf-8")
    )
    assert landed == n  # every row, including final partial batches


def test_batched_sink_timestamp_roundtrip(spark, tmp_path):
    """Timestamps staged by the batched sink must carry the UTC offset
    the default --time-format layout expects ('+0000', Go '-0700'
    semantics), and re-ingest through the engine's own dynamic parser to
    the same instants. PySpark hands the Python writer tz-NAIVE
    datetimes, so a bare strftime('%z') renders empty — the r04 ADVICE
    regression this pins. TIMESTAMP_NTZ values render zone-less, the
    layout their read side parses."""
    import pyspark.sql.types as T

    from cqlcopy_spark.catalog import _ship_package
    from cqlcopy_spark.config import DEFAULT_CONFIG
    from cqlcopy_spark.sinks.batched_sink import register_batched_sink
    from cqlcopy_spark.sources.csv_source import cast_dynamic, parse_csv_dynamic

    _ship_package(spark)
    register_batched_sink(spark)
    out = str(tmp_path / "ts_sink")
    src = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-06-30 23:59:59")],
        "id long, s string",
    ).selectExpr("id", "CAST(s AS TIMESTAMP) AS ts", "CAST(s AS TIMESTAMP_NTZ) AS ntz")
    src.coalesce(1).write.format("cql_batched").option("path", out).mode(
        "append"
    ).save()
    assert _batched_lines(out) == [
        "1,2024-01-01 00:00:00+0000,2024-01-01 00:00:00",
        "2,2024-06-30 23:59:59+0000,2024-06-30 23:59:59",
    ]
    import dataclasses

    cfg = dataclasses.replace(DEFAULT_CONFIG, header=False)  # sink emits no header
    raw = parse_csv_dynamic(spark, out, ["id", "ts", "ntz"], cfg)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("ntz", T.TimestampNTZType()),
        ]
    )
    back = cast_dynamic(raw, schema, cfg)
    got = {r["id"]: (r["ts"], r["ntz"]) for r in back.collect()}
    want = {r["id"]: (r["ts"], r["ntz"]) for r in src.collect()}
    assert got == want


@pytest.mark.parametrize(
    "rows, chunk_size, n_batches",
    [
        # 100 codepoints, 200 UTF-8 bytes per row (+2 quotes, +1
        # newline): octet counting trips the 1000-byte budget at 5 rows
        # → 12 rows = 3 batches; codepoint counting would trip at 10 → 2
        pytest.param(["é" * 100] * 12, 1000, 3, id="utf8-octets"),
        # 10 + 10 + the final partial batch of 5, which is flushed (the
        # reference drops it, write.go:97-101)
        pytest.param([str(i) for i in range(25)], 10, 3, id="final-partial-batch"),
        # 13-byte lines: the row threshold closes every batch long
        # before the byte threshold would
        pytest.param(["x" * 10] * 10, 3, 4, id="rows-before-bytes"),
    ],
)
def test_batch_byte_threshold_counts_utf8_octets(tmp_path, rows, chunk_size, n_batches):
    """A batch closes at `chunk_size` rows or `max_batch_kb`·1000 bytes,
    whichever trips first, and the final partial batch is staged too.
    The byte threshold measures UTF-8 octets of the staged (quoted)
    line — codepoint-counting unquoted fields undercounts multi-byte
    text ~2× and drifts from the reference's byte budget
    (write.go:238-240; r03 ADVICE)."""
    from pyspark.sql import types as T

    from cqlcopy_spark.sinks.batched_sink import BatchedCsvWriter

    w = BatchedCsvWriter(
        {
            "path": str(tmp_path / "sink"),
            "chunk_size": str(chunk_size),
            "max_batch_kb": "1",
        },
        T.StructType([T.StructField("s", T.StringType())]),
    )
    msg = w.write((r,) for r in rows)
    assert (msg.n_rows, msg.n_batches) == (len(rows), n_batches)
    with open(msg.staged_path, encoding="utf-8") as f:
        assert f.read().splitlines() == [f'"{r}"' for r in rows]


def _batched_lines(out: str) -> list[str]:
    import os

    return sorted(
        ln
        for f in os.listdir(out)
        if f.endswith(".csv")
        for ln in open(os.path.join(out, f), encoding="utf-8").read().splitlines()
    )


def test_batched_sink_null_string_stays_data(spark, tmp_path):
    """Under the default null literal the string "NULL" is written quoted
    and SQL NULL bare, so the dynamic reader tells them apart (quoted
    "NULL" is data, write.go:214-215)."""
    import dataclasses

    import pyspark.sql.types as T

    from cqlcopy_spark.config import DEFAULT_CONFIG
    from cqlcopy_spark.sinks.batched_sink import register_batched_sink
    from cqlcopy_spark.sources.csv_source import cast_dynamic, parse_csv_dynamic

    register_batched_sink(spark)
    out = str(tmp_path / "nulls")
    spark.createDataFrame(
        [(1, "NULL"), (2, None), (3, 'say "hi"')], "id long, name string"
    ).coalesce(1).write.format("cql_batched").option("path", out).mode("append").save()
    assert _batched_lines(out) == ['1,"NULL"', "2,NULL", '3,"say ""hi"""']
    cfg = dataclasses.replace(DEFAULT_CONFIG, header=False)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    back = cast_dynamic(parse_csv_dynamic(spark, out, ["id", "name"], cfg), schema, cfg)
    assert {r["id"]: r["name"] for r in back.collect()} == {
        1: "NULL",
        2: None,
        3: 'say "hi"',
    }


def test_batched_sink_registers_and_writes_from_second_session(spark, tmp_path):
    """Spark resolves a format name against the active session and plans
    the write against the writing one: registering in a second session
    of the same SparkContext must neither fail nor leave its writes
    unresolvable."""
    from cqlcopy_spark.sinks.batched_sink import register_batched_sink

    register_batched_sink(spark)
    second = spark.newSession()
    register_batched_sink(second)
    out = str(tmp_path / "second")
    second.createDataFrame([(1, True), (2, None)], "id long, ok boolean").coalesce(
        1
    ).write.format("cql_batched").option("path", out).mode("append").save()
    assert _batched_lines(out) == ["1,true", "2,NULL"]


def test_paged_source_registers_and_reads_from_second_session(spark, tmp_path):
    """cql_paged registers like cql_batched: registering in a second
    session of the same SparkContext must neither fail
    (DATA_SOURCE_ALREADY_EXISTS) nor leave its reads unresolvable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cqlcopy_spark.sources.paged_source import register_paged_source

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}), path)
    register_paged_source(spark)
    second = spark.newSession()
    register_paged_source(second)
    got = (
        second.read.format("cql_paged")
        .option("path", path)
        .option("key_col", "id")
        .load()
    )
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3]
