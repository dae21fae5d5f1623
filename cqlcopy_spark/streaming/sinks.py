"""Streaming sinks: exactly-once file output via foreachBatch.

Structured Streaming's contract is at-least-once batch REPLAY after a
failure: a micro-batch may run twice with the SAME batch_id. Exactly-
once therefore comes from idempotence — route every batch's output to a
batch_id-keyed location and overwrite, so a replay rewrites the same
files instead of appending duplicates. Combined with the checkpoint
(which is what makes batch ids stable across restarts), the sink output
is exactly-once at any scale; this is the pattern behind every
production "stream to data lake" job that can't use a transactional
table format.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.streaming import DataStreamWriter

from cqlcopy_spark.functions.skew import keep_min_by
from cqlcopy_spark.operators.analytics import (
    hh_fold,
    hh_rank,
    hh_summary,
    merge_partials,
)
from cqlcopy_spark.operators.dedup import (
    _N_BANDS,
    _band_rows,
    _minhash_verify_pairs,
    _with_minhash_sig,
)
from cqlcopy_spark.operators.text import _PACK_SHARDS, _curation_gated
from cqlcopy_spark.streaming import state_log
# log_epoch stays importable from here: callers read sinks.log_epoch
from cqlcopy_spark.streaming.state_log import log_epoch  # noqa: F401


def exactly_once_parquet_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> DataStreamWriter:
    """writeStream writer whose foreachBatch lands each micro-batch in
    out_dir/batch_id=<id> with overwrite semantics. Read the result as
    ordinary partitioned parquet (batch_id is a hive partition key —
    prune it away or drop it)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )


def continuous_copy_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str, **sink_options: str
) -> DataStreamWriter:
    """Streaming analog of the reference's loader (continuous COPY):
    every micro-batch flows through the batched two-phase-commit sink
    (sinks/batched_sink.py — dual-threshold batching, retries, staged
    commit), landing in out_dir/batch_id=<id>. The batch_id keying makes
    replays idempotent exactly like exactly_once_parquet_sink, and the
    sink's own commit/abort protocol guarantees a half-failed micro-batch
    never publishes partial files INSIDE its directory — the two layers
    compose to exactly-once CSV delivery. A replay overwrites its batch
    directory through the sink's own overwrite commit, so the previous
    attempt's files stay readable until the new ones are published.
    Options (chunk_size, max_batch_kb, max_attempts, ...) pass through
    to the sink."""
    from cqlcopy_spark.sinks.batched_sink import register_batched_sink

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        register_batched_sink(batch_df.sparkSession)
        dest = os.path.join(out_dir, f"batch_id={batch_id}")
        w = batch_df.write.format("cql_batched").option("path", dest)
        for k, v in sink_options.items():
            w = w.option(k, str(v))
        w.mode("overwrite").save()

    return stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )


def _checkpoint_query_id(checkpoint_dir: str) -> str:
    """Stable identity of a checkpoint lineage: the query id Structured
    Streaming writes to <checkpoint>/metadata at start (falls back to
    the checkpoint path before the file exists)."""
    meta = os.path.join(checkpoint_dir, "metadata")
    if os.path.isfile(meta):
        with open(meta, encoding="utf-8") as f:
            qid = json.load(f).get("id")
        if qid:
            return str(qid)
    return os.path.abspath(checkpoint_dir)


def _run_guard(state_dir: str, qid: str, on_new_run: str, sink: str) -> bool:
    """Enforce the cross-run contract of the state_log sinks: returns
    True when `qid` continues the recorded lineage. A DIFFERENT lineage
    either raises (on_new_run='error') or returns False, and the caller
    wipes the state (on_new_run='restart') — merging across checkpoint
    lineages can double-count/misorder because batch ids restart and
    may slice the source differently."""
    marker = os.path.join(state_dir, "_run.json")
    if not os.path.isfile(marker):
        return True
    with open(marker, encoding="utf-8") as f:
        prev_qid = json.load(f).get("query_id")
    if prev_qid is None or prev_qid == qid:
        return True
    if on_new_run == "error":
        raise ValueError(
            f"{sink}: state at {state_dir!r} belongs to checkpoint run "
            f"{prev_qid!r}, not {qid!r}. Merging across runs can double-count "
            "(batch ids restart and may slice the source differently). Reuse "
            "the original checkpoint, point at a fresh state_dir, or pass "
            "on_new_run='restart' to discard the old lineage and recompute."
        )
    return False


def _state_log_sink(
    stream_df, state_dir, checkpoint_dir, on_new_run, sink, family, apply
) -> DataStreamWriter:
    """The foreachBatch writer of every state_log sink: per micro-batch,
    the cross-run guard (a foreign lineage raises, or with 'restart'
    wipes the family's state — batch ids restart across checkpoint
    lineages, so merging state across runs would double-count), then
    `apply(batch_df, batch_id, state_dir)`, then the run marker — unless
    apply returns False (it wrote nothing)."""
    if on_new_run not in ("error", "restart"):
        raise ValueError(
            f"on_new_run must be 'error' or 'restart', got {on_new_run!r}"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        qid = _checkpoint_query_id(checkpoint_dir)
        if not _run_guard(state_dir, qid, on_new_run, sink):
            state_log.wipe(family, state_dir)
        if apply(batch_df, batch_id, state_dir) is not False:
            marker = os.path.join(state_dir, "_run.json")
            state_log.replace_file(marker, "text", json.dumps({"query_id": qid}))

    return stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )


# The snapshot family of the agg, cdc and topk sinks: one full-state
# compaction per batch, no deltas (state_log's snapshot rule).
SNAPSHOT = state_log.View("snapshot", "", ())
SNAPSHOTS = state_log.Family((SNAPSHOT,))


def _snapshot_sink(
    stream_df, state_dir, checkpoint_dir, on_new_run, sink, merge
) -> DataStreamWriter:
    """A state_log sink over the SNAPSHOTS family: batch b commits
    `merge(batch_df, prev)` as its snapshot, where prev is the snapshot
    below b (None before the first)."""

    def apply(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
        spark = batch_df.sparkSession
        prev = state_log.read_snapshot(spark, SNAPSHOT, state_dir, batch_id)
        state_log.write_snapshot(
            SNAPSHOT, merge(batch_df, prev), state_dir, batch_id
        )

    return _state_log_sink(
        stream_df, state_dir, checkpoint_dir, on_new_run, sink, SNAPSHOTS, apply
    )


def continuous_agg_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
    sum_expr: str,
    count_col: str = "n",
    sum_col: str = "total",
    on_new_run: str = "error",
) -> DataStreamWriter:
    """Continuous incremental maintenance of a grouped aggregate — the
    streaming twin of agg_incremental_merge, running its kernel: each
    micro-batch is aggregated to per-key partials (count + exact integer
    sum) and merged onto the previous snapshot by
    analytics.merge_partials (full outer join on the key, coalesced
    sums), never a recompute over history. sum_expr must be an
    EXACT-integer aggregate (e.g. a cents sum): merge ≡ recompute only
    holds bitwise for mergeable exact sums.

    The state is a state_log snapshot view (SNAPSHOT; the layout,
    replay rule, retention and crash contract are in that module's
    docstring). Exactly-once is scoped to SAME-CHECKPOINT recovery:
    within one checkpoint lineage, batch ids are stable and a replayed
    batch id carries the same rows, so re-deriving batch b from the
    snapshot below b makes redelivery idempotent.

    A DIFFERENT checkpoint against existing state is NOT generally safe:
    batch ids restart and the source may slice files differently, so
    merging new-run batch b onto old-run state can double-count.
    The sink records the query id (from the checkpoint metadata) in
    state_dir/_run.json and, on a mismatch, applies `on_new_run`:
    "error" (default) refuses to touch the state; "restart" discards
    the old lineage and recomputes from scratch — correct only when the
    new run redelivers the FULL input (e.g. availableNow over the same
    directory). State size is grouped-key-bounded — the stream itself
    is never retained."""
    cols = (count_col, sum_col)

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.groupBy(group_col).agg(
            F.count(F.lit(1)).alias(count_col), F.expr(sum_expr).alias(sum_col)
        )
        return part if prev is None else merge_partials(prev, part, group_col, cols)

    return _snapshot_sink(
        stream_df, state_dir, checkpoint_dir, on_new_run, "continuous_agg_sink", merge
    )


def read_agg_state(spark, state_dir: str) -> DataFrame:
    """Newest complete snapshot of a continuous_agg_sink state table —
    and of the other snapshot sinks' (state_log.read_snapshot)."""
    snap = state_log.read_snapshot(spark, SNAPSHOT, state_dir)
    if snap is None:
        raise ValueError(f"{state_dir!r} holds no complete snapshot")
    return snap


def continuous_cdc_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
    on_new_run: str = "error",
) -> DataStreamWriter:
    """Continuous CDC materialization — the streaming twin of
    cdc_apply_changelog, running its last-writer-wins fold: each
    micro-batch of sequenced change rows (upserts + 'D' delete markers)
    merges into a keyed parquet snapshot by keep_min_by over
    (prev-state ∪ batch), ordered by (seq DESC NULLS LAST, op ASC);
    seq is numeric. The state is a state_log snapshot view (see that
    module's docstring), with continuous_agg_sink's replay scope and
    cross-run guard.

    The op ASC tiebreak: the contract says seq is unique per key (the
    batch twin guarantees it by construction), but if a producer
    violates it the merge must still be deterministic across runs and
    engines — 'D' < 'I' < 'U' in binary order, so at equal seq the
    delete marker wins (the conservative resolution: the tombstone
    survives and late lower-seq changes still lose) and 'I' beats 'U';
    rows equal on (seq, op) resolve by their remaining columns.

    Delete markers are RETAINED in state as tombstones rather than
    dropped: a late change with seq below an applied delete must lose
    to it, which requires the delete's seq to still be present.
    Readers filter them (read_cdc_state); compact_cdc_tombstones drops
    the ones below a producer watermark. State size is keyspace-bounded
    (one row per live key + tombstone), never stream-length-bounded.
    Per batch: one partial-combining aggregate on the key — what a
    lakehouse MERGE runs, without funnelling a hot key into one task."""
    order = (F.col(seq_col).isNull(), -F.col(seq_col), F.col(op_col))

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        log = batch_df if prev is None else prev.unionByName(batch_df)
        return keep_min_by(log, key_col, order)

    return _snapshot_sink(
        stream_df, state_dir, checkpoint_dir, on_new_run, "continuous_cdc_sink", merge
    )


def read_cdc_state(spark, state_dir: str, op_col: str = "op") -> DataFrame:
    """Latest live snapshot of a continuous_cdc_sink state table
    (tombstones filtered)."""

    return read_agg_state(spark, state_dir).filter(F.col(op_col) != "D")


def continuous_topk_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    item_col: str,
    k: int = 16,
    on_new_run: str = "error",
) -> DataStreamWriter:
    """Continuous heavy-hitters maintenance — the streaming twin of
    sketch_heavy_hitters with each MICRO-BATCH playing the shard role,
    running its kernels: per batch, exact item counts reduce to the
    batch's shard summary (analytics.hh_summary: top-k plus the
    (k+1)-th count as the drop threshold), and analytics.hh_fold folds
    it onto the previous snapshot. The state is hh_fold's (item, cnt,
    thr) rows: per item cnt = est (sum of kept counts — a certain lower
    bound) and thr = present_thr (sum of thresholds of batches that
    kept the item), plus one ledger row (cnt NULL) whose thr is
    total_thr, so any item's true count lies in
    [est, est + total_thr - present_thr] — the same SpaceSaving-merge
    containment the batch operator pins, maintained incrementally
    without ever re-scanning the stream.

    The state is a state_log snapshot view (layout, replay, retention
    and crash contract in that module's docstring), with
    continuous_agg_sink's replay scope and cross-run guard. State size
    is ≤ k new items per batch. The per-batch reduce is one hash
    aggregate and a TakeOrdered(k+1) over the batch's distinct items,
    both inside the snapshot write's plan: nothing is collected to the
    driver."""

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        counts = batch_df.groupBy(
            F.lit(0).alias("shard"), F.col(item_col).alias("item")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        part = hh_summary(counts, k)
        return hh_fold(part if prev is None else prev.unionByName(part))

    return _snapshot_sink(
        stream_df, state_dir, checkpoint_dir, on_new_run, "continuous_topk_sink", merge
    )


def read_topk_state(spark, state_dir: str, top_n: int = 10) -> DataFrame:
    """Current heavy hitters from a continuous_topk_sink state: est /
    upper_bound / rank, sketch_heavy_hitters' rank tail (hh_rank)."""
    return hh_rank(read_agg_state(spark, state_dir), top_n)


def compact_cdc_tombstones(
    spark,
    state_dir: str,
    min_live_seq: int,
    op_col: str = "op",
    seq_col: str = "seq",
) -> int:
    """Tombstone retention for continuous_cdc_sink state: a delete
    marker only needs to survive while a LATE change with a lower seq
    could still arrive — once the producer guarantees nothing below
    `min_live_seq` will ever be sent (its low-watermark), tombstones
    below it are dead weight. Rewrites the newest snapshot with those
    tombstones dropped (live rows are never touched) through
    state_log.prune_snapshot, whose crash contract keeps the unpruned
    snapshot visible until the pruned one is complete, and returns the
    number removed. The caller owns the watermark claim — exactly the
    contract of a lakehouse VACUUM horizon."""

    dead = (F.col(op_col) == "D") & (F.col(seq_col) < min_live_seq)
    return state_log.prune_snapshot(spark, SNAPSHOT, state_dir, dead)


def _survivor_projection(frame: DataFrame) -> DataFrame:
    """(doc_id, shard, n_tokens) from admitted ths rows: shard =
    doc_id % _PACK_SHARDS (Spark `%` matches the oracle's on negative
    ids), n_tokens = n_toks, all BIGINT."""

    return frame.select(
        "doc_id",
        (col("doc_id") % _PACK_SHARDS).alias("shard"),
        col("n_toks").alias("n_tokens"),
    )


# The two state families of this module (the vector index's is in
# operators/vector_index.py). One ingest batch writes ONE delta per
# family: ths/delta=<b> carries the full admitted row, hashes/delta=<b>
# the gram hashes plus the MinHash signature. The survivor and band
# views are projections of those deltas; survivors/ and bands/ hold
# compactions only (vacuum output, and the (band, key)-clustered probe
# index).
TAKEDOWNS = state_log.View("takedowns", "doc_id long", ("doc_id",))
CURATION_THS = state_log.View("ths", "th string", ("th",))
CURATION_SURVIVORS = state_log.View(
    "survivors",
    "doc_id long, shard long, n_tokens long",
    ("doc_id",),
    deltas="ths",
    delta_schema="th string, doc_id long, n_toks long",
    project=_survivor_projection,
    masked=("doc_id",),
)
CURATION = state_log.Family((CURATION_THS, CURATION_SURVIVORS), TAKEDOWNS)

MINHASH_HASHES = state_log.View(
    "hashes", "doc_id long, hashes array<long>", ("doc_id",), masked=("doc_id",)
)
MINHASH_BANDS = state_log.View(
    "bands",
    "doc_id long, band int, key string",
    ("band", "key"),
    deltas="hashes",
    delta_schema="doc_id long, hashes array<long>, sig array<long>",
    project=_band_rows,
    fanout=_N_BANDS,
    masked=("doc_id",),
)
MINHASH_PAIRS = state_log.View(
    "pairs",
    "new_doc long, dup_of long, jaccard double",
    ("new_doc", "dup_of"),
    masked=("new_doc", "dup_of"),
)
MINHASH = state_log.Family((MINHASH_HASHES, MINHASH_PAIRS, MINHASH_BANDS), TAKEDOWNS)


def minhash_apply_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str
) -> None:
    """One micro-batch of the incremental MinHash-LSH dedup: the kernel
    of continuous_minhash_dedup_sink, exposed for direct replay tests.

    Per batch (all sizes ∝ batch, never ∝ corpus, except the corpus-
    index scan that production replaces with a bucketed table probe):

    1. signature + banded LSH rows for the arriving docs (the SAME
       _band_rows / _with_minhash_sig contract as dedup_fuzzy_minhash —
       a drifted banding would silently miss cross-batch candidates);
    2. candidate pairs = new band rows ⋈ (prior-corpus ∪ batch) band
       rows on (band, key). Each pair is emitted exactly ONCE, by the
       LATER-arriving side: in-batch pairs keep the smaller doc_id on
       the corpus side, and a corpus row only pairs with a new row
       regardless of id order (a doc arriving after a larger-id corpus
       doc still finds it);
    3. exact-Jaccard refine over the persisted gram-hash arrays
       (_minhash_verify_pairs — same refine rule as the batch op);
    4. append-only state writes, all keyed by batch_id with overwrite
       semantics so an at-least-once replay REWRITES rather than
       duplicates: hashes/delta=<b> carrying (doc_id, hashes, sig) —
       the signature column makes the delta self-describing, so the
       BAND rows of the tail deltas are DERIVED at read time
       (the MINHASH_BANDS view: the literal _band_rows expression over
       sig) and there is no per-batch bands/delta write (it would
       duplicate a deterministic projection of the same rows as a
       second Spark action per micro-batch). bands/ holds only the
       (band, key)-clustered COMPACTIONS, which is what makes the
       production probe a bucketed-table lookup — the derived tail is
       ≤ COMPACT_EVERY-1 batch-sized explodes.
       pairs/delta=<b> is this batch's near-dup report — the streaming
       twin of dedup_incremental's output.
    """

    spark = batch_df.sparkSession
    # effective id (epoch mapping) + the floor guard of every view —
    # replays pass, first-time writes below a compaction stamp raise
    batch_id = state_log.begin_batch(
        MINHASH.views, state_dir, batch_id, "minhash_apply_batch"
    )
    # compact BEFORE probing: the probe and the refine's hashes read
    # stop rescanning a file set that grows with every batch
    state_log.maybe_compact(spark, MINHASH_BANDS, state_dir, batch_id)
    state_log.maybe_compact(spark, MINHASH_HASHES, state_dir, batch_id)
    prev_bands = state_log.read_view(spark, MINHASH_BANDS, state_dir, batch_id)
    prev_hashes = state_log.read_view(spark, MINHASH_HASHES, state_dir, batch_id)
    # takedown masking (armed only when the mask holds rows below this
    # batch — before the first takedown, and after a vacuum swapped the
    # mask empty, the plan carries no anti-join):
    # retired docs leave the PROBE side, so later arrivals never pair
    # with retired content, and `guard_ids` below keeps their ids out
    # forever (tombstones-win-forever, the vector index's rule)
    guard_ids = prev_hashes.select("doc_id")
    td = state_log.read_mask(spark, MINHASH, state_dir, batch_id)
    if td is not None:
        prev_bands = prev_bands.join(td, "doc_id", "left_anti")
        prev_hashes = prev_hashes.join(td, "doc_id", "left_anti")
        guard_ids = guard_ids.unionByName(td)
    # FIRST-DELIVERY-WINS doc_id contract: the cumulative pair report's
    # "disjoint across deltas, plain union" property (read_minhash_pairs)
    # and the single-row-per-doc hashes index both presume a doc_id is
    # indexed exactly once. A source that re-emits a doc (CDC update,
    # upstream reprocessing outside checkpoint replay) would otherwise
    # duplicate pairs and fan out every verify join touching that id —
    # so re-deliveries are dropped here: dedup within the batch via the
    # DETERMINISTIC min-struct keeper (bare dropDuplicates picks an
    # arbitrary row on conflicting same-id payloads, letting a replay
    # write a different delta than the first run — the r13 ADVICE class),
    # then a keys-only anti-join against the prior index. Revising a
    # document's text is a DELETE+INSERT under a fresh id in this model.
    fresh = keep_min_by(batch_df.select("doc_id", "text"), "doc_id").join(
        guard_ids, "doc_id", "left_anti"
    )
    docs = _with_minhash_sig(fresh).persist()
    new_bands = _band_rows(docs).persist()
    new_hashes = docs.select("doc_id", "hashes")

    probe_side = new_bands.select(
        col("doc_id").alias("b_id"), "band", "key"
    )
    index_side = (
        prev_bands.withColumn("is_new", F.lit(False))
        .unionByName(new_bands.withColumn("is_new", F.lit(True)))
        .select(col("doc_id").alias("a_id"), "band", "key", "is_new")
    )
    cand = (
        probe_side.join(index_side, ["band", "key"])
        # corpus rows pair with ANY new doc; new-vs-new pairs once
        # (smaller id plays the corpus role) — see step 2 above
        .filter(
            (col("a_id") != col("b_id"))
            & ((col("a_id") < col("b_id")) | ~col("is_new"))
        )
        .select(col("b_id").alias("d1"), col("a_id").alias("d2"))
        .dropDuplicates(["d1", "d2"])  # multi-band collisions
    )
    all_hashes = prev_hashes.unionByName(new_hashes)
    pairs = _minhash_verify_pairs(cand, all_hashes).select(
        col("d1").alias("new_doc"), col("d2").alias("dup_of"), "jaccard"
    )

    # the pairs write runs the heavy lineage (signature + band + refine
    # join) and FILLS the docs/new_bands caches; the hashes delta —
    # the ONLY other write since r17 (the band rows of a tail delta are
    # derived at read time from the persisted sig) — is then one cheap
    # cached scan. Crash window unchanged in kind: either root present
    # without the other is repaired by the checkpoint replay's
    # overwrite-keyed rewrite.
    state_log.write_delta(MINHASH_PAIRS, pairs, state_dir, batch_id)
    state_log.write_delta(
        MINHASH_HASHES, docs.select("doc_id", "hashes", "sig"), state_dir, batch_id
    )
    new_bands.unpersist()
    docs.unpersist()


def continuous_minhash_dedup_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    on_new_run: str = "error",
) -> DataStreamWriter:
    """Streaming incremental MinHash-LSH near-dup detection — the
    foreachBatch twin of dedup_incremental (operators/dedup.py) on the
    continuous_cdc_sink state discipline: each arriving micro-batch of
    (doc_id, text) probes the PERSISTED band index of everything that
    arrived before it, reports its near-dup pairs, and appends its own
    band/signature rows to the index.

    State layout under state_dir (all append-only, batch_id-keyed,
    overwrite-on-replay → exactly-once scoped to same-checkpoint
    recovery, exactly like the other versioned sinks):

      hashes/delta=<b>  (doc_id, hashes, sig)   — gram-hash arrays for
                                                  the exact refine + the
                                                  MinHash signature the
                                                  band rows derive from
      bands/compact/v=<b>  (doc_id, band, key)  — the (band, key)-
                                                  clustered LSH index
                                                  (compactions only —
                                                  tail band rows derive
                                                  from the sig column)
      pairs/delta=<b>   (new_doc, dup_of, jaccard) — per-batch report

    Candidate volume per batch is Σ_key n_new(key)·n_all(key) — batch ×
    bucket occupancy, never corpus² (the dedup_incremental asymmetry).
    The delta layout is the production shape (streaming/state_log.py):
    the index is only ever APPENDED (∝ batch per write — ONE delta per
    batch, the sig column making band rows a derived projection), and
    once COMPACT_EVERY deltas accumulate they are folded into a
    (band, key)-clustered ``compact/v=<b>`` dir (hashes/ clustered by
    doc_id) so the per-batch probe reads ONE compacted dir plus at most
    COMPACT_EVERY-1 tail deltas — bounded, instead of a file set
    growing with every batch (r8 VERDICT item 2). Deltas stay on disk
    as replay truth: readers ignore compactions newer than the reading
    batch, so out-of-order replays still see exactly their original
    corpus state. At cluster scale the compact dir becomes a
    metastore bucketed table so the probe join also skips the
    corpus-side shuffle. The cross-run guard
    (_run_guard) refuses a foreign checkpoint ('error') or wipes the
    delta subdirs and recomputes ('restart') — merging index deltas
    across checkpoint lineages double-counts because batch ids restart.

    Docs with < 3 tokens carry no 3-gram, hence no signature: they
    never enter the index or any pair — identical to the batch ops
    (test_gram_builders_handle_short_docs).

    Read the cumulative report with read_minhash_pairs()."""
    return _state_log_sink(
        stream_df,
        state_dir,
        checkpoint_dir,
        on_new_run,
        "continuous_minhash_dedup_sink",
        MINHASH,
        minhash_apply_batch,
    )


def read_minhash_pairs(spark, state_dir: str) -> DataFrame:
    """Cumulative near-dup report of a continuous_minhash_dedup_sink
    state dir: the union of every batch's pairs delta. Pairs are
    disjoint across deltas by construction (each pair is emitted only
    by its later-arriving member's batch), so this is a plain union —
    no dedup pass needed. Takedown masking (armed only when the mask
    holds rows — a takedown-free state keeps the plain-union plan): a pair
    touching a retired doc on EITHER side leaves the report, the
    right-to-be-forgotten contract for the dedup index
    (minhash_takedown_batch). Takedown sets are tiny: stats pick
    broadcast anti-joins."""
    return state_log.read_masked(spark, MINHASH, MINHASH_PAIRS, state_dir)


def curation_apply_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str
) -> None:
    """One micro-batch of the streaming curation pipeline: the kernel of
    continuous_curation_sink, exposed for direct replay tests — the
    round-12 capstone's gates + dedup keeper as live ingest.

    Per batch (all sizes ∝ batch, never ∝ corpus):

    0. OPTIONAL decontamination gate (armed by a persisted eval window
       index — see decontamination_index_write / _decontaminate_batch):
       bench docs and verbatim-window contamination hits rejected
       pre-admission;
    1. BOTH quality gates in one scan (operators.text._curation_gated —
       the capstone's literal gate expression, so the streamed corpus
       can never drift from the batch relation);
    2. in-batch keeper: lowest doc_id per md5(text) among the gated
       rows (ONE partial-combining argmin aggregate — min(struct) —
       NEVER a window over the hash key: the hot-key argmin rule);
    3. FIRST-DELIVERY-WINS across batches: a keys-only anti-join of the
       batch keepers against the compacted prior text-hash index — a
       later re-delivery of an admitted text (CDC re-emit, upstream
       reprocessing outside checkpoint replay) never lands twice;
       revising a document is DELETE+INSERT under a fresh id;
    4. ONE overwrite-keyed delta write (at-least-once replay REWRITES):
       ths/delta=<b> carrying the FULL admitted row (th, doc_id,
       n_toks). The hash probe reads it with schema "th string"
       (parquet column pruning — the extra columns cost the probe
       nothing), and the survivor view is DERIVED from the same files
       at read time (CURATION_SURVIVORS: doc_id, doc_id % shards, n_toks —
       deterministic projections, disjoint across deltas by
       construction of the anti-join, so the cumulative read is a
       plain union). r17, guide §1.4: the former separate
       survivors/delta=<b> write duplicated the identical row set as a
       second Spark action per micro-batch (plus the persist both
       consumers forced); one delta write per batch is the write floor.
       The survivors/ root still exists — it holds the VACUUM's pruned
       compactions (vacuum output keeps its own root because its
       lifetime policy differs: survivor rows are prunable, admitted
       hashes are permanent).

    In-batch doc_id re-deliveries collapse first via the DETERMINISTIC
    min-struct keeper — never bare dropDuplicates, which picks an
    arbitrary row when one batch carries the same doc_id with
    conflicting payloads and so lets a checkpoint replay write a
    DIFFERENT delta than the first run (r13 ADVICE); the gates are
    deterministic per document, so a re-delivered REJECTED doc
    re-rejects identically and needs no doc_id index."""
    spark = batch_df.sparkSession
    # effective id (epoch mapping) + the floor guard of both views —
    # replays pass, first-time writes below a compaction stamp raise
    batch_id = state_log.begin_batch(
        CURATION.views, state_dir, batch_id, "curation_apply_batch"
    )
    state_log.maybe_compact(spark, CURATION_THS, state_dir, batch_id)
    # ONE write per batch: the delta carries the full admitted row; the
    # hash probe column-prunes to `th`, the survivor view projects
    # (doc_id, shard, n_tokens) from the same files. No persist — single
    # consumer, single action.
    admitted = curation_admitted(batch_df, batch_id, state_dir)
    state_log.write_delta(CURATION_THS, admitted, state_dir, batch_id)


def curation_admitted(
    batch_df: DataFrame, batch_id: int, state_dir: str
) -> DataFrame:
    """The rows curation_apply_batch admits at `batch_id`: steps 0-3 of
    its docstring, as the one frame the kernel writes."""
    spark = batch_df.sparkSession
    prior_ths = state_log.read_view(spark, CURATION_THS, state_dir, batch_id)
    fresh = keep_min_by(batch_df.select("doc_id", "text", "n_chars"), "doc_id")
    # decontamination gate — armed only when the state dir carries a
    # persisted eval window index (decontamination_index_write); a
    # gate-free state keeps the original plan byte for byte
    ew_root = os.path.join(state_dir, _EVAL_WINDOWS)
    if os.path.isdir(ew_root):
        if not state_log.is_complete(ew_root):
            raise ValueError(
                f"{ew_root} has no _SUCCESS: a decontamination_index_write "
                "did not finish. Re-run it before ingest."
            )
        fresh = _decontaminate_batch(spark, fresh, ew_root)
    gated = _curation_gated(fresh)
    # in-batch keeper as a DIRECT argmin aggregate: min(struct(doc_id,
    # n_toks)) per th is the min-doc_id row (doc_id is unique after the
    # fresh keeper, so the struct min is deterministic and n_toks rides
    # along) — one partial-combining shuffle, and the gate lineage runs
    # once (a groupBy + semi-join-back keeper would shuffle twice and
    # scan the batch on both join sides).
    return keep_min_by(gated.select("th", "doc_id", "n_toks"), "th").join(
        prior_ths, "th", "left_anti"
    )


_EVAL_WINDOWS = "eval_windows"


def decontamination_index_write(bench_docs: DataFrame, state_dir: str) -> None:
    """Persist the eval benchmark's verbatim char-window index (the
    fixed-size side of contamination_substring: every length-_SUB_N
    window, stride 1) into the curation state dir — its presence ARMS
    the per-batch decontamination gate in curation_apply_batch. Written
    once, before ingest begins (a production benchmark is frozen before
    training data arrives; re-writing it mid-stream would make the flag
    batch-dependent and break the streamed==one-shot hash contract).
    Bounded by construction: ≤ _BENCH_CAP bench docs at every SF (the
    id-cap rule, operators/text._bench_split), so the index broadcasts
    soundly at read."""
    from cqlcopy_spark.operators.text import _char_windows

    windows = _char_windows(bench_docs.select("doc_id", "text"), 1).select("w")
    state_log.write_frame(
        windows.dropDuplicates(["w"]), os.path.join(state_dir, _EVAL_WINDOWS)
    )


def _decontaminate_batch(spark, batch: DataFrame, ew_root: str) -> DataFrame:
    """Streaming decontamination gate (r14 VERDICT item 6): drop the
    held-out bench docs themselves and every batch doc sharing a
    verbatim _SUB_N-char window with the persisted eval index —
    contamination_substring's exact membership rule (stride-sampled
    corpus windows vs the stride-1 eval windows), applied per
    micro-batch. Work ∝ batch: windows of THIS batch only; the eval
    index is fixed-size by construction (≤ _BENCH_CAP docs) and
    broadcasts; the flagged key set is batch-bounded, so the anti-join
    leaves the batch in place. The flag is a pure per-document function
    constant across batches, which is what keeps the streamed corpus
    hash-equal to the one-shot decontaminated capstone
    (pipeline_pretrain_pack_decontam)."""

    from cqlcopy_spark.operators.text import _SUB_STRIDE, _bench_split, _char_windows

    clean = _bench_split(batch)[1]
    ew = spark.read.schema("w string").parquet(ew_root)
    flagged = (
        _char_windows(clean.select("doc_id", "text"), _SUB_STRIDE)
        .join(F.broadcast(ew), "w")
        .select("doc_id")
        .dropDuplicates(["doc_id"])
    )
    return clean.join(flagged, "doc_id", "left_anti")


def curation_takedown_batch(
    doc_ids: DataFrame, batch_id: int, state_dir: str
) -> None:
    """Retire admitted documents from the curation state — the
    right-to-be-forgotten half a production training-data pipeline
    needs (a copyright or privacy takedown names content already
    admitted; the corpus a trainer reads next must not contain it):
    append a TAKEDOWN delta (doc_id-keyed, overwrite-on-replay,
    compaction cadence, monotone-id floor guard — the vector index's
    tombstone discipline applied to the curation log).

    Two-layer permanence policy:
    - the doc_id leaves the reader view FOREVER (read_curation_survivors
      anti-joins takedowns), applied POST-admission — a taken-down md5
      keeper does NOT resurrect its duplicates, because their hash
      stays in the admitted-text index;
    - the admitted-text index is deliberately NOT freed: the takedown
      retires the CONTENT, so a later re-delivery of the identical text
      under any fresh doc_id stays out (first-delivery-wins already
      drops it). Re-publishing genuinely new content is a new document
      under a new id.

    Scale shape: a takedown costs one batch-sized delta write; reads add
    ONE anti-join against the compacted takedown set (tiny relative to
    survivors, broadcast by stats). Physical pruning of masked survivor
    rows is the vector_index_vacuum discipline applied verbatim to this
    root — the raw takedown deltas are the replay truth that makes it
    safe."""
    state_log.write_mask(
        CURATION, doc_ids, batch_id, state_dir, "curation_takedown_batch"
    )


def curation_vacuum(spark, state_dir: str, bump_epoch: bool = False) -> int:
    """Physically prune taken-down survivor rows AND their takedown
    masks from a curation state (state_log.vacuum over the CURATION
    family): the survivor view minus the takedowns lands as one
    (doc_id, shard, n_tokens) compaction under survivors/, stamped above
    every id of every root the view reads, and the mask swaps empty.
    Reader-view invariance, idempotence and the retained-raw-delta
    replay truth are pinned in tests/test_curation_takedown.py;
    driver-checked by stream_curation_vacuum (operators/text.py).

    bump_epoch=True additionally raises the state dir's log epoch to
    the stamp, which lets the SAME checkpoint resume ingest afterwards;
    the default keeps the no-epoch behavior (a resumed checkpoint fails
    loudly at the floor guard). Quiescence contract: see state_log."""
    return state_log.vacuum(spark, CURATION, state_dir, bump_epoch)


def minhash_takedown_batch(
    doc_ids: DataFrame, batch_id: int, state_dir: str
) -> None:
    """Right-to-be-forgotten for the DEDUP INDEX — the third delta-log
    family to get the takedown discipline (after the curation log and
    the vector index): a retired document's text-derived state must
    leave the near-dup index too, or its content keeps influencing
    processing through signatures and reported pairs. Appends an
    id-keyed takedown delta (state_log.write_mask); from then on

    - readers mask it: read_minhash_pairs drops pairs touching a
      retired id (EITHER side);
    - the probe masks it: minhash_apply_batch anti-joins the prior
      band/signature index against the takedowns, so later arrivals
      never pair with retired content;
    - the admission guard keeps it out forever: a re-delivery of a
      retired doc_id is dropped (tombstones-win-forever, the vector
      index's rule);
    - physical pruning is minhash_vacuum — the shared discipline over
      THREE data roots (bands, hashes, and the two-column pairs
      report) and one mask."""
    state_log.write_mask(
        MINHASH, doc_ids, batch_id, state_dir, "minhash_takedown_batch"
    )


def minhash_vacuum(spark, state_dir: str, bump_epoch: bool = False) -> int:
    """Physically prune retired documents from all three minhash data
    views — band rows and signature rows by doc_id, PAIR rows by either
    column — and swap the takedown mask empty, in one version stamp
    (state_log.vacuum over the MINHASH family; same retained-raw-delta
    replay truth, idempotence and crash-retry contract as the other two
    instances). bump_epoch=True raises the log epoch to the stamp so a
    live checkpoint resumes afterwards."""
    return state_log.vacuum(spark, MINHASH, state_dir, bump_epoch)


def read_curation_survivors(
    spark, state_dir: str, as_of: int = 1 << 62
) -> DataFrame:
    """Cumulative admitted set of a continuous_curation_sink state dir:
    the union of every batch's survivor delta — disjoint across deltas
    by construction (the anti-join admits each text hash exactly once),
    so this is a plain union. The takedown anti-join is added ONLY when
    the mask holds rows below `as_of` (state_log.read_mask), so a
    takedown-free read keeps the plain-union plan. Feed it to
    text._pack_from_toks for the trainer-facing packed layout.

    `as_of` is TIME TRAVEL over the delta log: the state a reader AT
    batch id `as_of` saw — deltas (and takedown masks) strictly below
    it, exactly the state_log replay contract. Compactions only
    ever fold deltas strictly below their own version, so a compaction
    ≤ as_of is a lossless shortcut; a vacuum version is stamped ABOVE
    every id and is therefore skipped by any historical as_of, which
    falls back to the retained raw deltas — time travel keeps working
    across physical pruning, because the raw deltas are the replay
    truth the vacuum deliberately retains."""
    return state_log.read_masked(
        spark, CURATION, CURATION_SURVIVORS, state_dir, as_of
    )


def curation_state_clone(spark, src: str, dst: str, as_of: int) -> None:
    """BRANCH a curation state: copy `src`'s as-of file set (the exact
    directories a reader at batch id `as_of` resolves — survivors,
    admitted-hash index, takedown masks, each strictly below the point)
    into a fresh `dst`, and persist `dst`'s log epoch = `as_of` so a
    BRAND-NEW checkpoint's batch 0 maps exactly onto the fork point
    (the epoch lever reused: without it, fresh small batch ids would
    die at the compaction floor). The branch then evolves
    independently — ingest, takedowns, vacuums on either side never
    touch the other (a dev fork of a training corpus, the table-format
    branch primitive).

    Cost: pure driver-side file copying, ZERO Spark jobs (the as-of
    view IS those immutable files); every later
    branch read is the normal compact+tail-delta resolution. Faithful
    by the same argument as time travel: deltas are disjoint
    first-delivery-wins sets and the as-of read is exact — continuing
    the branch with the trunk's remaining deliveries reproduces the
    trunk relation (stream_curation_branch driver-checks that
    equality)."""
    state_log.clone(CURATION, src, dst, as_of)


def read_curation_survivors_with_batch(spark, state_dir: str) -> DataFrame:
    """(doc_id, shard, n_tokens, admitted_batch) — every live survivor
    with the batch id that ADMITTED it, read from the RAW admitted-row
    ths deltas (state_log.read_provenance; the vector index's delete
    twin audits its codes the same way). The takedown mask is likewise
    read from the RAW takedown deltas, symmetric with the survivor side:
    a curation_vacuum swaps the mask root to an EMPTY
    compaction (its rows are already reflected in the pruned survivor
    compaction, which this read deliberately skips), so resolving the
    mask through its compactions would resurrect every pre-vacuum
    retirement on this compliance-audit surface — the raw deltas are
    retained by the vacuum exactly so provenance reads stay truthful."""
    out = state_log.read_provenance(
        spark, CURATION_SURVIVORS, state_dir, "admitted_batch"
    )
    td = state_log.read_deltas(spark, TAKEDOWNS, state_dir)
    return out if td is None else out.join(td, "doc_id", "left_anti")


def continuous_curation_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    on_new_run: str = "error",
) -> DataStreamWriter:
    """Streaming curation — the foreachBatch twin of
    pipeline_pretrain_pack's gates + keeper (operators/text.py) on the
    continuous_minhash_dedup_sink state discipline: each arriving
    micro-batch of (doc_id, text, n_chars) is gate-filtered, deduped
    first-delivery-wins against the persisted admitted-hash index, and
    appended to the survivor log.

    State layout under state_dir (append-only, batch_id-keyed,
    overwrite-on-replay → exactly-once scoped to same-checkpoint
    recovery):

      ths/delta=<b>   (th, doc_id, n_toks) — the admitted rows: the md5
                      probe column-prunes to th, the survivor view
                      projects (doc_id, shard, n_tokens) from the same
                      files (r17 single-write layout; survivors/ holds
                      only vacuum compactions)

    The cross-run guard (_run_guard) refuses a foreign checkpoint
    ('error') or wipes the state subdirs and recomputes ('restart') —
    batch ids restart across checkpoint lineages, so merging deltas
    across runs would re-admit every text hash. Read the cumulative
    survivor set with read_curation_survivors()."""
    return _state_log_sink(
        stream_df,
        state_dir,
        checkpoint_dir,
        on_new_run,
        "continuous_curation_sink",
        CURATION,
        curation_apply_batch,
    )


def continuous_vector_index_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    on_new_run: str = "error",
) -> DataStreamWriter:
    """Streaming ingest for the persisted vector index — the
    foreachBatch twin of `similarity_index_incremental`'s batch
    contract (operators/vector_index.py) on the
    continuous_minhash_dedup_sink state discipline: the FIRST non-empty
    micro-batch of (vec_id, emb) trains the coarse centroids + residual
    codebooks and seeds the index (the base-slice-trains contract);
    every later batch encodes with the PERSISTED codebooks and appends
    — no retrain, no historical re-encode, first-delivery-wins on
    vec_id, tombstones honored (vector_index_delete composes with this
    sink: deletes are just another delta family in the same state dir).

    Replay semantics: a replayed batch re-derives from the state
    strictly below its own id (vector_index_append) and overwrites its
    own delta. The seed delta carries the SEED BATCH'S REAL id (r13
    ADVICE: empty leading batches are skipped, so the seed can arrive
    as batch K>0 — hard-coding delta=0 mislabeled provenance and made
    a replayed seed anti-join against its own rows and write an empty
    delta=K); a replayed seed batch therefore takes the append path —
    the codebooks exist and were trained on exactly this batch, prior
    deltas strictly below K are empty — and rewrites delta=K with the
    same rows (idempotent by construction). 'Trained' is gated on
    codebooks.parquet, which vector_index_build now renames into place
    ATOMICALLY and LAST (after the codes delta and centroids), so a
    crash mid-build cannot leave a truncated sentinel that flips every
    replay onto the append path against corrupt artifacts (r13 ADVICE)
    — the replayed seed just retrains over the partial state. An EMPTY
    batch before any training is skipped entirely: there is nothing to
    train on, and training on the first NON-empty batch keeps the
    trained artifacts a pure function of the stream prefix.

    The cross-run guard (_run_guard) refuses a foreign checkpoint
    ('error') or wipes the index state and recomputes ('restart') —
    batch ids restart across checkpoint lineages. Query the index with
    vector_index_search / read_index_codes."""
    from cqlcopy_spark.operators.vector_index import (
        VECTOR_INDEX,
        vector_index_append,
        vector_index_build,
    )

    def apply(batch_df: DataFrame, batch_id: int, state_dir: str) -> bool:
        if os.path.exists(os.path.join(state_dir, "codebooks.parquet")):
            vector_index_append(batch_df, batch_id, state_dir)
        elif batch_df.isEmpty():
            return False  # nothing to train on yet — wait for data
        else:
            vector_index_build(batch_df, state_dir, batch_id=batch_id)
        return True

    return _state_log_sink(
        stream_df,
        state_dir,
        checkpoint_dir,
        on_new_run,
        "continuous_vector_index_sink",
        VECTOR_INDEX,
        apply,
    )
