"""Structured Streaming variants must agree with their batch forms when
the fixture is replayed as a bounded stream (availableNow trigger)."""

from __future__ import annotations

import pandas as pd

from cqlcopy_spark.streaming.windows import (
    stream_sessionize,
    stream_sessionize_streaming,
    stream_tumbling_agg,
    stream_tumbling_agg_streaming,
)
from tests.conftest import SF_SMALL


def _run_stream(df, name: str) -> pd.DataFrame:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = df.sparkSession.sql(f"SELECT * FROM {name}").toPandas()
    q.stop()
    return out


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def test_streaming_tumbling_matches_batch(spark):
    batch = _canon(stream_tumbling_agg(spark, SF_SMALL).toPandas())
    stream = _canon(_run_stream(stream_tumbling_agg_streaming(spark, SF_SMALL), "tumbling_t"))
    pd.testing.assert_frame_equal(batch, stream)


def test_streaming_sessionize_matches_batch(spark):
    batch = _canon(stream_sessionize(spark, SF_SMALL).toPandas())
    stream = _canon(_run_stream(stream_sessionize_streaming(spark, SF_SMALL), "session_t"))
    pd.testing.assert_frame_equal(batch, stream)


def test_foreach_batch_sink_exactly_once(spark, tmp_path):
    """Replay + restart must not duplicate: run the stream to completion,
    run it AGAIN from the same checkpoint (no new data → no new batches),
    and the landed row count must equal the batch count both times."""
    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.streaming.sinks import exactly_once_parquet_sink
    from cqlcopy_spark.streaming.windows import _events_stream

    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    expected = table(spark, SF_SMALL, "events").count()

    for _ in range(2):
        q = (
            exactly_once_parquet_sink(_events_stream(spark, SF_SMALL), out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        assert spark.read.parquet(out).count() == expected


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream inner join replayed over the bounded fixture must
    produce exactly the batch interval join (append mode: pairs are
    emitted once both sides have passed the watermark)."""
    from cqlcopy_spark.streaming.windows import (
        stream_interval_join,
        stream_interval_join_streaming,
    )

    batch = _canon(stream_interval_join(spark, SF_SMALL).toPandas())
    q = (
        stream_interval_join_streaming(spark, SF_SMALL)
        .writeStream.format("memory")
        .queryName("ssj_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = _canon(spark.sql("SELECT * FROM ssj_t").toPandas())
    q.stop()
    pd.testing.assert_frame_equal(batch, stream)


def test_rate_source_windowed_agg(spark):
    """Live-source smoke: the tumbling-agg shape runs on Spark's rate
    source (synthetic unbounded stream) and produces windows — proves
    the streaming plans work on a true continuous source, not only on
    bounded file replay."""
    import time

    from pyspark.sql import functions as F

    src = spark.readStream.format("rate").option("rowsPerSecond", 200).load()
    agg = (
        src.withWatermark("timestamp", "1 second")
        .groupBy(F.window("timestamp", "1 second"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_t")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = 0
        while time.time() < deadline:
            rows = spark.sql("SELECT count(*) FROM rate_t").first()[0]
            if rows >= 2:
                break
            time.sleep(0.5)
        assert rows >= 2, "rate stream produced no windows in 60s"
    finally:
        q.stop()


def test_stateful_user_stats_matches_batch(spark):
    """applyInPandasWithState replay: final state per user == batch agg.
    Update mode appends a row per (user, micro-batch); keep each user's
    last (largest n_events) row. Float totals compared with tolerance:
    the batch side sums in decimal, the state side in float64."""
    from cqlcopy_spark.streaming.stateful import (
        stream_user_stats,
        stream_user_stats_streaming,
    )

    batch = _canon(stream_user_stats(spark, SF_SMALL).toPandas())
    q = (
        stream_user_stats_streaming(spark, SF_SMALL)
        .writeStream.format("memory")
        .queryName("user_stats_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM user_stats_t").toPandas()
    q.stop()
    final = _canon(
        out.sort_values("n_events").groupby("user_id", as_index=False).last()
    )
    pd.testing.assert_frame_equal(batch, final, check_exact=False, rtol=1e-9)


def test_transform_with_state_matches_batch(spark):
    """transformWithStateInPandas replay: after the bounded replay, the
    latest emission per (user, event_type) must equal the batch
    per-type counts and lifetime totals. Each micro-batch re-emits the
    user's full state, so 'latest' is well-defined by the monotone
    (user_total, n) pair. Needs the RocksDB state store provider — the
    new API rejects HDFS-backed state; restore the conf afterwards so
    other streaming tests keep their default provider."""
    import pytest

    # The transformWithState Python runner speaks protobuf to the JVM
    # state server; without the package the driver worker crashes at
    # init. Not installable in this container (no pip) — gate, don't
    # fake. The batch contract (stream_type_counts) stays oracle-checked
    # unconditionally via the driver harness.
    pytest.importorskip("google.protobuf")

    from cqlcopy_spark.streaming.stateful import (
        stream_type_counts,
        stream_type_counts_streaming,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        batch = _canon(stream_type_counts(spark, SF_SMALL).toPandas())
        q = (
            stream_type_counts_streaming(spark, SF_SMALL)
            .writeStream.format("memory")
            .queryName("tws_t")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT * FROM tws_t").toPandas()
        q.stop()
    finally:
        spark.conf.set(key, prev)
    final = _canon(
        out.sort_values(["user_total", "n"])
        .groupby(["user_id", "event_type"], as_index=False)
        .last()
    )
    pd.testing.assert_frame_equal(batch, final)


def test_streaming_dedup_keys_match_batch(spark):
    from cqlcopy_spark.streaming.windows import stream_dedup, stream_dedup_streaming

    # dropDuplicatesWithinWatermark is not an aggregation → append mode.
    df = stream_dedup_streaming(spark, SF_SMALL)
    q = (
        df.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_t").toPandas()
    q.stop()
    got = got[["user_id", "event_type"]]
    want = (
        stream_dedup(spark, SF_SMALL).select("user_id", "event_type").toPandas()
    )
    got = _canon(got)
    want = _canon(want)
    assert len(got) == len(want)
    assert got.equals(want)


def test_stream_static_join_matches_batch(spark):
    """Stream-static join replayed over the bounded fixture must equal
    the batch join+agg (the static side is re-broadcast per micro-batch
    and holds no state)."""
    from cqlcopy_spark.streaming.windows import (
        stream_static_join,
        stream_static_join_streaming,
    )

    batch = _canon(stream_static_join(spark, SF_SMALL).toPandas())
    stream = _canon(
        _run_stream(stream_static_join_streaming(spark, SF_SMALL), "static_join_t")
    )
    pd.testing.assert_frame_equal(batch, stream)


def test_continuous_copy_sink_exactly_once_csv(spark, tmp_path):
    """Continuous COPY: stream → batched two-phase-commit CSV sink via
    foreachBatch. All rows land exactly once, replays from the same
    checkpoint add nothing, and no staging dirs survive a commit."""
    import os

    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.streaming.sinks import continuous_copy_sink
    from cqlcopy_spark.streaming.windows import _events_stream

    out = str(tmp_path / "copy_landed")
    ckpt = str(tmp_path / "copy_ckpt")
    expected = table(spark, SF_SMALL, "events").count()

    src = _events_stream(spark, SF_SMALL).select("event_id", "event_type")
    for _ in range(2):
        q = (
            continuous_copy_sink(src, out, ckpt, chunk_size="200")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        landed = 0
        for root, dirs, files in os.walk(out):
            assert "_staging" not in dirs or not os.listdir(
                os.path.join(root, "_staging")
            )
            for f in files:
                if f.endswith(".csv"):
                    with open(os.path.join(root, f), encoding="utf-8") as fh:
                        landed += sum(1 for _ in fh)
        assert landed == expected


def test_streaming_ohlc_matches_batch(spark):
    """min_by/max_by picking aggregates must stream: replaying the
    fixture through the watermark must reproduce the batch OHLC."""
    from cqlcopy_spark.streaming.windows import stream_ohlc, stream_ohlc_streaming

    batch = _canon(stream_ohlc(spark, SF_SMALL).toPandas())
    stream = _canon(_run_stream(stream_ohlc_streaming(spark, SF_SMALL), "ohlc_t"))
    pd.testing.assert_frame_equal(batch, stream)


def test_streaming_sliding_matches_batch(spark):
    """Overlapping (sliding) event-time windows must stream: the Expand
    that assigns each event to its overlapping windows interacts with
    the watermark, so replaying the fixture must reproduce the batch
    result exactly (this was the one streaming variant with no replay
    test)."""
    from cqlcopy_spark.streaming.windows import (
        stream_sliding_agg,
        stream_sliding_agg_streaming,
    )

    batch = _canon(stream_sliding_agg(spark, SF_SMALL).toPandas())
    stream = _canon(_run_stream(stream_sliding_agg_streaming(spark, SF_SMALL), "slide_t"))
    pd.testing.assert_frame_equal(batch, stream)


def test_continuous_agg_sink_maintains_and_guards_cross_run(spark, tmp_path):
    """The streaming IVM twin: replaying events through the continuous
    aggregate sink must end with state == the batch aggregate. The
    exactly-once claim is scoped to SAME-CHECKPOINT recovery (r04
    ADVICE): a DIFFERENT checkpoint against existing state must be
    REFUSED by default (batch ids restart and may slice the source
    differently → double-count risk), and on_new_run='restart' must
    discard the old lineage and recompute — full redelivery ends at the
    same answer, not 2× it."""
    import pytest
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.streaming.sinks import continuous_agg_sink, read_agg_state
    from cqlcopy_spark.streaming.windows import _events_stream

    state = str(tmp_path / "state")
    sum_expr = "sum(cast(round(value * 100) as bigint))"

    def run(ckpt: str, **kw) -> None:
        q = continuous_agg_sink(
            _events_stream(spark, SF_SMALL),
            state,
            str(tmp_path / ckpt),
            group_col="event_type",
            sum_expr=sum_expr,
            **kw,
        ).trigger(availableNow=True).start()
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run("ckpt1")
    want = {
        (r["event_type"], r["n"], r["total"])
        for r in table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.expr(sum_expr).alias("total"))
        .collect()
    }
    got1 = {
        (r["event_type"], r["n"], r["total"])
        for r in read_agg_state(spark, state).collect()
    }
    assert got1 == want
    # a NEW checkpoint over the old state must refuse to merge by default
    with pytest.raises(StreamingQueryException, match="belongs to"):
        run("ckpt2")
    assert {
        (r["event_type"], r["n"], r["total"])
        for r in read_agg_state(spark, state).collect()
    } == want  # refused run left state untouched
    # explicit restart: old lineage dropped, full redelivery recomputes
    run("ckpt3", on_new_run="restart")
    got3 = {
        (r["event_type"], r["n"], r["total"])
        for r in read_agg_state(spark, state).collect()
    }
    assert got3 == want


def test_continuous_cdc_sink_lww_tombstones_and_cross_run_guard(spark, tmp_path):
    """Streaming CDC materialization: last-writer-wins by seq across
    micro-batches, delete markers persist as tombstones (a late
    lower-seq change must LOSE to an applied delete or newer update),
    and the cross-run guard refuses a foreign checkpoint by default /
    recomputes under on_new_run='restart'."""
    import os
    import time

    import pandas as pd
    import pytest
    from pyspark.errors import StreamingQueryException

    from cqlcopy_spark.streaming.sinks import continuous_cdc_sink, read_cdc_state

    stage = str(tmp_path / "changes")
    os.makedirs(stage)
    f1, f2 = os.path.join(stage, "b1.parquet"), os.path.join(stage, "b2.parquet")
    pd.DataFrame(
        {
            "key": [1, 2, 3],
            "seq": [10, 10, 10],
            "op": ["U", "U", "U"],
            "val": [10.0, 20.0, 30.0],
        }
    ).to_parquet(f1)
    # batch 2: newer update for 2, delete for 3, insert 4, and a LATE
    # lower-seq change for 1 that must lose to batch 1's seq 10
    pd.DataFrame(
        {
            "key": [2, 3, 4, 1],
            "seq": [20, 20, 10, 5],
            "op": ["U", "D", "U", "U"],
            "val": [25.0, 0.0, 40.0, 5.0],
        }
    ).to_parquet(f2)
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    state = str(tmp_path / "cdc_state")

    def run(ckpt: str, **kw) -> None:
        src = (
            spark.readStream.schema("key long, seq long, op string, val double")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = continuous_cdc_sink(
            src, state, str(tmp_path / ckpt), key_col="key", seq_col="seq", **kw
        ).trigger(availableNow=True).start()
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run("ckpt1")
    want = {(1, 10.0), (2, 25.0), (4, 40.0)}  # 3 is tombstoned, late 1@5 lost
    got = {(r["key"], r["val"]) for r in read_cdc_state(spark, state).collect()}
    assert got == want
    with pytest.raises(StreamingQueryException, match="belongs to"):
        run("ckpt2")
    assert {
        (r["key"], r["val"]) for r in read_cdc_state(spark, state).collect()
    } == want
    run("ckpt3", on_new_run="restart")
    assert {
        (r["key"], r["val"]) for r in read_cdc_state(spark, state).collect()
    } == want


def test_continuous_cdc_sink_equal_seq_tiebreak_is_deterministic(spark, tmp_path):
    """Contract violation path: two change rows for the same key with
    EQUAL seq must resolve deterministically (op ASC secondary sort →
    'D' < 'I' < 'U', so the delete marker wins the tie and 'I' beats
    'U'), never by partition-visit order."""
    import os

    import pandas as pd

    from cqlcopy_spark.streaming.sinks import (
        continuous_cdc_sink,
        read_agg_state,
        read_cdc_state,
    )

    stage = str(tmp_path / "changes")
    os.makedirs(stage)
    pd.DataFrame(
        {
            "key": [1, 1, 2, 2],
            "seq": [10, 10, 7, 7],
            "op": ["U", "D", "U", "I"],
            "val": [11.0, 0.0, 22.0, 20.0],
        }
    ).to_parquet(os.path.join(stage, "b1.parquet"))

    state = str(tmp_path / "cdc_state")
    src = spark.readStream.schema("key long, seq long, op string, val double").parquet(
        stage
    )
    q = (
        continuous_cdc_sink(
            src, state, str(tmp_path / "ckpt"), key_col="key", seq_col="seq"
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    live = {(r["key"], r["op"], r["val"]) for r in read_cdc_state(spark, state).collect()}
    assert live == {(2, "I", 20.0)}  # key 1's tie resolved to the delete
    full = {(r["key"], r["op"]) for r in read_agg_state(spark, state).collect()}
    assert full == {(1, "D"), (2, "I")}


def test_streaming_transitions_match_batch_pairs(spark, tmp_path):
    """event_transitions_streaming replayed in two time-split
    micro-batches must emit exactly the batch lead()-derived transition
    multiset — including the pairs that SPAN the batch boundary (those
    only exist because the frontier state carries across batches)."""
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.streaming.stateful import event_transitions_streaming

    events = table(spark, SF_SMALL, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    rows = events.collect()
    lo = min(r["us"] for r in rows)
    hi = max(r["us"] for r in rows)
    split = lo + (hi - lo) * 2 // 3

    stage = str(tmp_path / "trans")
    os.makedirs(stage)
    cols = ["user_id", "event_type", "us", "event_id"]
    f1, f2 = os.path.join(stage, "b1.parquet"), os.path.join(stage, "b2.parquet")
    events.filter(col("us") <= split).toPandas()[cols].to_parquet(f1)
    events.filter(col("us") > split).toPandas()[cols].to_parquet(f2)
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    import cqlcopy_spark.streaming.stateful as st
    import cqlcopy_spark.streaming.windows as wins

    src = (
        spark.readStream.schema("user_id long, event_type string, us long, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withColumn("ts", F.timestamp_micros(col("us")))
    )
    # route the staged two-batch stream through the operator
    orig = wins._events_stream
    try:
        wins._events_stream = lambda _spark, _sf: src
        stream_df = event_transitions_streaming(spark, SF_SMALL)
    finally:
        wins._events_stream = orig
    q = (
        stream_df.writeStream.format("memory")
        .queryName("trans_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.sql("SELECT src, dst FROM trans_t").collect():
        got[(r["src"], r["dst"])] = got.get((r["src"], r["dst"]), 0) + 1
    q.stop()

    # batch expectation: lead over each user's (us, event_id) timeline
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append((r["us"], r["event_id"], r["event_type"]))
    want = defaultdict(int)
    n_boundary = 0
    for uid, evs in per_user.items():
        evs.sort()
        for a, b in zip(evs, evs[1:]):
            want[(a[2], b[2])] += 1
            if a[0] <= split < b[0]:
                n_boundary += 1
    assert n_boundary > 0  # the boundary-spanning pairs are the point
    assert got == dict(want)


def test_continuous_topk_sink_matches_batch_shard_merge(spark, tmp_path):
    """Streaming heavy hitters: after two micro-batches the state must
    equal the batch sketch's merge with each BATCH as a shard — est =
    sum of per-batch kept counts, upper = est + thresholds of batches
    that dropped the item — and the [est, upper] interval must contain
    every item's true count. Deterministic end to end."""
    import os
    import time
    from collections import Counter

    import pandas as pd

    from cqlcopy_spark.streaming.sinks import continuous_topk_sink, read_topk_state

    K = 3
    b1 = [1] * 5 + [2] * 4 + [3] * 3 + [4] * 2 + [5] * 1
    b2 = [2] * 6 + [6] * 5 + [1] * 2 + [7] * 2 + [3] * 1
    stage = str(tmp_path / "items")
    os.makedirs(stage)
    f1, f2 = os.path.join(stage, "b1.parquet"), os.path.join(stage, "b2.parquet")
    pd.DataFrame({"item_id": b1}).to_parquet(f1)
    pd.DataFrame({"item_id": b2}).to_parquet(f2)
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    state = str(tmp_path / "hh_state")
    src = (
        spark.readStream.schema("item_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        continuous_topk_sink(
            src, state, str(tmp_path / "ckpt"), item_col="item_id", k=K
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    got = {
        r["item"]: (r["est"], r["upper_bound"])
        for r in read_topk_state(spark, state, top_n=10).collect()
    }

    # independent reference merge with batches as shards
    def shard(batch):
        c = Counter(batch)
        ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        kept = dict(ordered[:K])
        thr = ordered[K][1] if len(ordered) > K else 0
        return kept, thr

    k1, t1 = shard(b1)
    k2, t2 = shard(b2)
    total = t1 + t2
    want = {}
    for item in set(k1) | set(k2):
        est = k1.get(item, 0) + k2.get(item, 0)
        present = (t1 if item in k1 else 0) + (t2 if item in k2 else 0)
        want[item] = (est, est + (total - present))
    assert got == want, (got, want)

    truth = Counter(b1) + Counter(b2)
    for item, (est, upper) in got.items():
        assert est <= truth[item] <= upper, (item, est, truth[item], upper)


def test_compact_state_versions_and_cdc_tombstones(spark, tmp_path):
    """Retention: every snapshot commit keeps the two newest versions in
    NUMERIC order (v=10 outlives v=9, which outlives v=2) with no knob,
    and readers take the newest. Tombstone compaction drops only delete
    markers BELOW the producer's low-watermark from the newest snapshot
    and is idempotent."""
    import os

    from cqlcopy_spark.streaming import state_log
    from cqlcopy_spark.streaming.sinks import (
        SNAPSHOT,
        compact_cdc_tombstones,
        read_agg_state,
    )

    state = str(tmp_path / "state")
    for v in (0, 1, 2, 9, 10):
        frame = spark.createDataFrame([(v,)], "x long")
        state_log.write_snapshot(SNAPSHOT, frame, state, v)
    assert state_log.compact_versions(os.path.join(state, "snapshot")) == [9, 10]
    assert [r["x"] for r in read_agg_state(spark, state).collect()] == [10]

    cdc = str(tmp_path / "cdc")
    rows = [(1, 3, "D", 0.0), (2, 9, "D", 0.0), (3, 12, "D", 0.0), (4, 11, "U", 4.0)]
    state_log.write_snapshot(
        SNAPSHOT,
        spark.createDataFrame(rows, "key long, seq long, op string, val double"),
        cdc,
        7,
    )
    # low-watermark 10: only key 1 (seq 3) and key 2 (seq 9) tombstones die
    assert compact_cdc_tombstones(spark, cdc, min_live_seq=10) == 2
    left = {(r["key"], r["op"]) for r in read_agg_state(spark, cdc).collect()}
    assert left == {(3, "D"), (4, "U")}
    # idempotent: second pass removes nothing
    assert compact_cdc_tombstones(spark, cdc, min_live_seq=10) == 0


def test_continuous_topk_sink_empty_batch_is_identity(spark, tmp_path):
    """An empty micro-batch (a trigger firing with a 0-row file) must
    leave the heavy-hitters state unchanged: no items, threshold 0,
    total_thr unchanged — not crash on the empty top-(k+1) head."""
    import os
    import time

    import pandas as pd

    from cqlcopy_spark.streaming.sinks import continuous_topk_sink, read_topk_state

    stage = str(tmp_path / "items")
    os.makedirs(stage)
    f1 = os.path.join(stage, "b1.parquet")
    f2 = os.path.join(stage, "b2.parquet")
    pd.DataFrame({"item_id": [1, 1, 2]}).to_parquet(f1)
    pd.DataFrame({"item_id": pd.array([], dtype="int64")}).to_parquet(f2)
    now = time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    state = str(tmp_path / "state")
    src = (
        spark.readStream.schema("item_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        continuous_topk_sink(
            src, state, str(tmp_path / "ckpt"), item_col="item_id", k=3
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    got = {
        r["item"]: (r["est"], r["upper_bound"])
        for r in read_topk_state(spark, state, top_n=10).collect()
    }
    assert got == {1: (2, 2), 2: (1, 1)}  # exact — no thresholds ever paid


def test_continuous_topk_sink_batch_job_count(spark, tmp_path):
    """One continuous_topk_sink batch runs as the snapshot write alone:
    the batch summary and the fold onto the previous snapshot are one
    plan, with no driver collect of the top k+1, no createDataFrame
    rebuild and no head(1) of total_thr. Pins the Spark jobs of a batch
    with and without a previous snapshot, counted from the status
    tracker; the foreachBatch function is driven directly, as
    tests/test_state_crash.py::_sink_batch does."""
    from pyspark.sql.streaming import DataStreamWriter

    from cqlcopy_spark.streaming.sinks import continuous_topk_sink, read_topk_state

    captured = []
    real = DataStreamWriter.foreachBatch
    DataStreamWriter.foreachBatch = lambda self, fn: captured.append(fn) or self
    try:
        continuous_topk_sink(
            spark.readStream.format("rate").load(),
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
            item_col="item_id",
            k=3,
        )
    finally:
        DataStreamWriter.foreachBatch = real
    sc = spark.sparkContext

    def jobs(items: list, batch_id: int) -> int:
        group = f"topk-sink-batch-{batch_id}"
        sc.setJobGroup(group, group)
        try:
            captured[0](spark.createDataFrame([(i,) for i in items], "item_id long"), batch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    first = jobs([1] * 5 + [2] * 4 + [3] * 3 + [4] * 2 + [5], 0)
    merged = jobs([2] * 6 + [6] * 5 + [1] * 2 + [7] * 2 + [3], 1)
    assert (first, merged) == (2, 4), (first, merged)
    got = {
        r["item"]: (r["est"], r["upper_bound"])
        for r in read_topk_state(spark, str(tmp_path / "state")).collect()
    }
    # thresholds 2 (batch 0) and 2 (batch 1): the batch-as-shard merge
    assert got == {1: (7, 7), 2: (10, 10), 3: (3, 5), 6: (5, 7)}, got


def test_cdc_apply_replay_matches_batch(spark):
    """Streaming LWW materializer replay: latest emission per user,
    tombstones dropped, must equal the batch contract exactly (all
    fields are ints or a single untouched double — no tolerance)."""
    from cqlcopy_spark.streaming.stateful import (
        stream_cdc_apply,
        stream_cdc_apply_streaming,
    )

    batch = _canon(stream_cdc_apply(spark, SF_SMALL).toPandas())
    q = (
        stream_cdc_apply_streaming(spark, SF_SMALL)
        .writeStream.format("memory")
        .queryName("cdc_apply_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM cdc_apply_t").toPandas()
    q.stop()
    final = out.sort_values("n_ops").groupby("user_id", as_index=False).last()
    final = final[~final["deleted"]].drop(columns=["deleted"])
    pd.testing.assert_frame_equal(batch, _canon(final))


def test_cdc_apply_out_of_order_redelivery(spark, tmp_path):
    """At-least-once redelivery contract: a later micro-batch carrying
    an op BEHIND a user's frontier must bump n_ops but never regress
    the materialized row; a tombstone arriving as the genuinely newest
    op must flip the key to deleted."""
    from cqlcopy_spark.streaming.stateful import _CDC_DEL_MOD, cdc_apply_stateful

    us0 = 1_700_000_000_000_000
    b1 = [(1, us0 + 3_000_000, 101, 1.5), (2, us0 + 1_000_000, 103, 2.0)]
    # user 1: OLD op redelivered (us behind frontier); user 2: tombstone
    # (event_id divisible by the del mod) strictly newer than frontier
    b2 = [
        (1, us0 + 2_000_000, 100, 9.9),
        (2, us0 + 5_000_000, 6 * _CDC_DEL_MOD, 3.0),
    ]
    for i, rows in enumerate((b1, b2)):
        pdf = pd.DataFrame(rows, columns=["user_id", "us", "event_id", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            f"{tmp_path}/in/b{i}", mode="overwrite"
        )

    # drive the op's OWN stateful kernel through two explicit
    # micro-batches (one file per trigger)
    src_schema = "user_id long, us long, event_id long, value double"
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/in/*")
    )
    q = (
        cdc_apply_stateful(stream)
        .writeStream.format("memory")
        .queryName("cdc_ooo_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM cdc_ooo_t").toPandas()
    q.stop()

    final = {
        int(r["user_id"]): r
        for _, r in out.sort_values("n_ops")
        .groupby("user_id", as_index=False)
        .last()
        .iterrows()
    }
    # user 1: redelivered old op counted, row NOT regressed
    assert final[1]["n_ops"] == 2
    assert final[1]["last_event_id"] == 101
    assert final[1]["last_value"] == 1.5
    assert not final[1]["deleted"]
    # user 2: newest op is the tombstone
    assert final[2]["n_ops"] == 2
    assert final[2]["last_event_id"] == 6 * _CDC_DEL_MOD
    assert final[2]["deleted"]
