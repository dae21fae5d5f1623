"""Custom stateful streaming operator (SURVEY.md §2B streaming row):
per-user lifetime stats maintained in explicit GroupState via
applyInPandasWithState — the escape hatch for stateful semantics that
`window()` / `session_window()` can't express.

Layout mirrors streaming/windows.py: a registered BATCH form (DuckDB
oracle-checked — the semantics contract) and a true streaming form whose
replay over the bounded fixture must agree (tests/test_streaming.py).

Scale: state is one fixed-width row per user, partitioned by the group
key — the shuffle is on user_id only, and each micro-batch touches only
the users present in it. In production the NoTimeout below becomes an
event-time timeout + watermark so dormant users' state is evicted; the
fixture replay is bounded, so eviction never fires and would only add
noise to the batch-parity test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from cqlcopy_spark.catalog import table
from cqlcopy_spark.functions.portable import dsum, sql_dsum
from cqlcopy_spark.functions.skew import keep_min_by
from cqlcopy_spark.plans.registry import register

_OUT_SCHEMA = "user_id long, n_events long, total_value double, last_us long"
_STATE_SCHEMA = "n_events long, total_value double, last_us long"

_USER_STATS_ORACLE = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value,
       MAX(epoch_us(ts)) AS last_us
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_user_stats", oracle=_USER_STATS_ORACLE)
def stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime stats, batch form (the semantics contract for
    the applyInPandasWithState streaming variant below). One shuffle of
    partial aggregates on user_id."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum(col("value")).alias("total_value"),
            F.max(F.unix_micros(col("ts").cast("timestamp"))).alias("last_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# stream_type_counts — transformWithStateInPandas (Spark 4 stateful API)
# ---------------------------------------------------------------------------

_TYPE_COUNTS_ORACLE = """
SELECT user_id, event_type, COUNT(*) AS n,
       CAST(SUM(COUNT(*)) OVER (PARTITION BY user_id) AS BIGINT) AS user_total
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


@register("stream_type_counts", oracle=_TYPE_COUNTS_ORACLE)
def stream_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user, per-event-type counts plus the user's lifetime total —
    batch form (the semantics contract for the transformWithStateInPandas
    variant below). One shuffle of integer partial aggregates on
    (user_id, event_type); the per-user total reuses the same clustering
    (partkey subset), so the window adds no second exchange of raw
    rows."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    return (
        per.withColumn("user_total", F.sum("n").over(Window.partitionBy("user_id")))
        .orderBy("user_id", "event_type")
    )


def stream_type_counts_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming form on the arbitrary-state API that SUPERSEDES
    applyInPandasWithState in Spark 4: transformWithStateInPandas with a
    StatefulProcessor holding two typed state variables — a MapState
    (event_type → count; per-key point updates, no read-modify-write of
    a whole blob) and a ValueState (lifetime event total). Each
    micro-batch emits the user's FULL current per-type breakdown (state
    iteration), so the latest emission per (user, type) is always
    consistent with the latest total — that's what the replay-parity
    test keys on.

    Requires the RocksDB state store provider
    (spark.sql.streaming.stateStore.providerClass) — the caller/test
    sets it; HDFS-backed state does not support the new API. Also
    requires the `protobuf` Python package at runtime (the Python
    worker speaks protobuf to the JVM state server) — absent in this
    container, so the replay test import-skips while this code path
    stays exercised only where protobuf exists. Scale:
    state is ≤ |event types| map entries + one long per user, shuffled
    on user_id only; RocksDB keeps it off-heap and point-updatable.

    The processor class is defined NESTED so cloudpickle serializes it
    by value (CLAUDE.md UDF shipping rule)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from cqlcopy_spark.streaming.windows import _events_stream

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState("counts", "event_type string", "n bigint")
            self._total = handle.getValueState("total", "user_total bigint")

        def handleInputRows(self, key, rows, timerValues):
            fresh: dict[str, int] = {}
            n_new = 0
            for pdf in rows:
                if not len(pdf):
                    continue
                for et, c in pdf["event_type"].value_counts().items():
                    fresh[et] = fresh.get(et, 0) + int(c)
                    n_new += int(c)
            total = (self._total.get()[0] if self._total.exists() else 0) + n_new
            self._total.update((total,))
            for et, c in fresh.items():
                cur = (
                    self._counts.getValue((et,))[0]
                    if self._counts.containsKey((et,))
                    else 0
                )
                self._counts.updateValue((et,), (cur + c,))
            out = [
                (key[0], k[0], v[0], total) for k, v in self._counts.iterator()
            ]
            yield pd.DataFrame(
                out, columns=["user_id", "event_type", "n", "user_total"]
            )

        def close(self) -> None:
            pass

    src = _events_stream(spark, sf_dir).select("user_id", "event_type")
    return src.groupBy("user_id").transformWithStateInPandas(
        TypeCounts(),
        outputStructType="user_id long, event_type string, n long, user_total long",
        outputMode="update",
        timeMode="none",
    )


# Session gap DERIVED from the windowed sessionizer's constant so the
# two sessionization surfaces cannot silently disagree.
from cqlcopy_spark.streaming.windows import _GAP_MIN as _WINDOWS_GAP_MIN

_GAP_US = _WINDOWS_GAP_MIN * 60 * 1_000_000


def sessionize_stateful(stream: DataFrame) -> DataFrame:
    """Custom sessionizer with EVENT-TIME TIMEOUTS — the full stateful
    lifecycle session_window() hides: explicit per-user state carrying
    the open session, gap-splitting inside each batch, and a watermark-
    driven timeout that CLOSES idle sessions and evicts their state
    (session_window semantics, hand-built where custom logic — session
    caps, per-session payloads, fraud scores — would hook in).

    input: streaming df with columns (ts TIMESTAMP watermarked, user_id,
    us = unix micros). Emits one row per CLOSED session; a session still
    open at the watermark stays in state, not in output. Timeout
    timestamps are clamped above the current watermark (Spark rejects
    timeouts at/below it)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = _GAP_US

    def update(key, pdfs, state: GroupState):
        out: list[tuple] = []
        if state.hasTimedOut:
            s, last, n = state.get
            out.append((key[0], s, last + gap_us, n))
            state.remove()
        else:
            rows = pd.concat(list(pdfs))
            if len(rows):
                # Whole-batch gap clustering with the open session as an
                # INTERVAL item. The earlier incremental formulation had
                # two interacting late-event bugs (r03 ADVICE + review):
                # two late events one gap apart emitted as two 1-event
                # sessions, and — worse — a later in-batch event could
                # drag the open session's start backward (min(s, us))
                # AFTER a late event had been dispatched against the old
                # start, emitting a session that overlaps the still-open
                # one. Clustering items = {each event as [us, us, 1]} ∪
                # {open session as [s, last, n]} in one sorted sweep is
                # immune to arrival-order interactions: every cluster
                # but the last is emitted closed, the last becomes the
                # open session. Late events split ACROSS micro-batches
                # still emit as separate sessions — state carries only
                # the open session by design (that trade is what
                # session_window's internal buffer buys).
                items = [(int(u), int(u), 1) for u in rows["us"]]
                if state.exists:
                    s0, last0, n0 = state.get
                    items.append((s0, last0, n0))
                items.sort()
                cs, ce, cn = items[0]
                for a, b, m in items[1:]:
                    if a - ce <= gap_us:
                        ce, cn = max(ce, b), cn + m
                    else:
                        out.append((key[0], cs, ce + gap_us, cn))
                        cs, ce, cn = a, b, m
                state.update((cs, ce, cn))
                timeout_ms = (ce + gap_us) // 1000
                state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            out, columns=["user_id", "start_us", "end_us", "n_events"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, start_us long, end_us long, n_events long",
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_user_stats_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming form: explicit per-user GroupState updated by an
    Arrow-batched pandas function. Output mode `update` — each
    micro-batch emits the new running totals for the users it touched.

    The update function is defined NESTED so cloudpickle serializes it
    by value (no import needed on executor workers)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from cqlcopy_spark.streaming.windows import _events_stream

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, tot, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            tot += float(pdf["value"].sum())
            mx = int(pdf["us"].max())
            last = mx if last is None or mx > last else last
        state.update((n, tot, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [tot],
                "last_us": [last],
            }
        )

    src = _events_stream(spark, sf_dir).select(
        "user_id", "value", F.unix_micros(col("ts")).alias("us")
    )
    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def event_transitions_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming form of operators/behavior.event_transitions'
    sequencing stage: per-user (src → dst) transition rows with
    CROSS-BATCH adjacency — each user's state is the FRONTIER (last
    linked event's (us, event_id, type)), so the first event of a new
    micro-batch links to the last event of the previous one instead of
    restarting the chain. Downstream aggregation (counts, top-k,
    probabilities) is an ordinary batch rollup over the emitted pairs.

    Late-arrival contract (the sessionizer's trade, pinned the same
    way): an event at or before the frontier arrives too late to splice
    into an already-emitted adjacency — it is DROPPED, exactly like a
    watermark-late row. Within a batch, events sort by (us, event_id)
    first, so intra-batch disorder is handled fully.

    Scale: state is one fixed-width row per user; shuffle on user_id
    only. The update function is NESTED for cloudpickle by-value
    serialization (CLAUDE.md UDF rule)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from cqlcopy_spark.streaming.windows import _events_stream

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs))
        out_src: list[str] = []
        out_dst: list[str] = []
        last = state.get if state.exists else None  # (us, event_id, type)
        if len(rows):
            rows = rows.sort_values(["us", "event_id"])
            for us, eid, et in zip(rows["us"], rows["event_id"], rows["event_type"]):
                us, eid = int(us), int(eid)
                if last is not None:
                    if (us, eid) <= (last[0], last[1]):
                        continue  # at/behind the frontier: late, dropped
                    out_src.append(last[2])
                    out_dst.append(et)
                last = (us, eid, et)
            state.update(last)
        yield pd.DataFrame(
            {"user_id": key[0], "src": out_src, "dst": out_dst}
        )

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_micros(col("ts")).alias("us"),
        "event_id",
    )
    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, src string, dst string",
        stateStructType="us long, event_id long, event_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# stream_cdc_apply — streaming last-write-wins changelog materialization
# ---------------------------------------------------------------------------

# The streaming twin of relational.cdc_apply_changelog's LWW semantics:
# the events fixture plays a per-user changelog (every event upserts the
# user's state; a deterministic slice are tombstones), and the operator
# maintains the CURRENT row per key — the materialized-view move a
# streaming ingest runs in front of serving storage.
_CDC_DEL_MOD = 17  # event_id % 17 == 0 → tombstone

_CDC_APPLY_ORACLE = f"""
WITH log AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, value,
         CASE WHEN event_id % {_CDC_DEL_MOD} = 0 THEN 'D' ELSE 'U' END AS op
  FROM events
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY us DESC, event_id DESC) AS rn
  FROM log
),
cnt AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ops FROM log GROUP BY user_id)
SELECT r.user_id, cnt.n_ops, r.us AS last_us,
       r.event_id AS last_event_id, r.value AS last_value
FROM ranked r JOIN cnt ON r.user_id = cnt.user_id
WHERE r.rn = 1 AND r.op <> 'D'
ORDER BY r.user_id
"""


@register("stream_cdc_apply", oracle=_CDC_APPLY_ORACLE)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch contract for the streaming LWW materializer below: latest
    op per user wins ((us, event_id) total order — event_id unique, so
    no tie ambiguity), tombstoned keys drop out of the view.

    Scale shape: ONE partial-combining groupBy(user_id) — the shared
    last-writer-wins fold (keep_min_by ordered by (us, event_id) DESC),
    so partials combine map-side and a hot user never funnels raw rows
    into a single window task (CLAUDE.md argmin-per-key rule); n_ops
    rides the same aggregate. The oracle's row_number formulation is
    the spec, not the plan."""
    e = table(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        F.unix_micros(col("ts").cast("timestamp")).alias("us"),
        "event_id",
        "value",
        F.when(col("event_id") % _CDC_DEL_MOD == 0, "D").otherwise("U").alias("op"),
    )
    g = keep_min_by(
        log, "user_id", order=(-col("us"), -col("event_id")), n_ops=F.count(F.lit(1))
    )
    return (
        g.filter(col("op") != "D")
        .select(
            "user_id",
            "n_ops",
            col("us").alias("last_us"),
            col("event_id").alias("last_event_id"),
            col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


def stream_cdc_apply_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming form: per-user GroupState holds the current row
    (frontier (us, event_id), value, tombstone flag, op count). LWW
    across micro-batches and within a batch reduces to "keep the max
    (us, event_id) op seen so far" — out-of-order arrivals BEHIND the
    frontier bump n_ops but never regress the materialized row, which
    is exactly how a serving-store upsert consumer must behave under
    at-least-once redelivery of old changes. Emits the user's current
    view row each touched batch (update mode); tombstoned keys emit
    with deleted=true so downstream can propagate the delete.

    State is one fixed-width row per user, shuffled on user_id only."""
    from cqlcopy_spark.streaming.windows import _events_stream

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros(col("ts")).alias("us"),
        "event_id",
        "value",
    )
    return cdc_apply_stateful(src)


def cdc_apply_stateful(src: DataFrame) -> DataFrame:
    """The stateful LWW kernel over any (user_id, us, event_id, value)
    stream — factored so the out-of-order-redelivery contract test
    drives the op's OWN update function through explicit micro-batches
    (tests/test_streaming.py) instead of a copy that could drift. The
    update fn is NESTED for cloudpickle by-value shipping."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    del_mod = _CDC_DEL_MOD

    def update(key, pdfs, state: GroupState):
        n_ops, us, eid, val, deleted = (
            state.get if state.exists else (0, -1, -1, 0.0, False)
        )
        for pdf in pdfs:
            if not len(pdf):
                continue
            n_ops += len(pdf)
            mx = pdf.sort_values(["us", "event_id"]).iloc[-1]
            bus, beid = int(mx["us"]), int(mx["event_id"])
            if (bus, beid) > (us, eid):
                us, eid, val = bus, beid, float(mx["value"])
                deleted = beid % del_mod == 0
        state.update((n_ops, us, eid, val, deleted))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_ops": [n_ops],
                "last_us": [us],
                "last_event_id": [eid],
                "last_value": [val],
                "deleted": [deleted],
            }
        )

    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_ops long, last_us long, last_event_id long, "
            "last_value double, deleted boolean"
        ),
        stateStructType=(
            "n_ops long, us long, event_id long, value double, deleted boolean"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
