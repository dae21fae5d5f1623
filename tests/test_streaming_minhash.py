"""continuous_minhash_dedup_sink contracts: batch equivalence with
dedup_fuzzy_minhash over the union of micro-batches, exactly-once under
batch replay, and the shared cross-run checkpoint guard.

The LSH pipeline is fully deterministic (fixed permutations, fixed
banding), so candidate generation depends only on each doc's band keys —
not on how the stream is sliced. That makes strict set-equality against
the batch op well-defined: every pair the batch op finds must be found
by exactly one micro-batch (the one where the pair's later-arriving
member lands), with bitwise-identical Jaccard.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from tests.conftest import REPO  # noqa: F401  (sys.path side effect)


def _doc(base: int, n: int = 30, tweak: int | None = None) -> str:
    toks = [f"w{base}_{i}" for i in range(n)]
    if tweak is not None:
        toks[tweak] = f"t{base}_{tweak}"
    return " ".join(toks)


# three micro-batches; pair structure exercises every arrival order:
#   in-batch pair        (1, 2)   — both in batch 0
#   cross, dup_of older  (1, 4)   — 4 arrives after 1
#   cross, dup_of NEWER  (5, 9)   — 5 (smaller id) arrives AFTER 9
#   in-batch pair        (6, 7)   — both in batch 2
#   doc 8 is sub-3-token: no grams, must never appear anywhere
BATCHES = [
    [(1, _doc(1)), (2, _doc(1, tweak=29)), (3, _doc(3)), (9, _doc(9))],
    [(4, _doc(1, tweak=0)), (5, _doc(9, tweak=15))],
    [(6, _doc(6)), (7, _doc(6, tweak=7)), (8, "a b")],
]
EXPECT_PAIRS = {(1, 2), (1, 4), (5, 9), (6, 7), (2, 4)}
# (2,4): both are 1-tweaked variants of base 1 — they share 30-ish of
# ~32 grams (J ~ 0.88) and collide in the unmodified bands, so the
# batch op reports them too; the set above is asserted against the
# batch op's ACTUAL output, this literal is a sanity floor.


def _write_stage(tmp_path) -> str:
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    now = time.time()
    for i, rows in enumerate(BATCHES):
        f = os.path.join(stage, f"b{i}.parquet")
        pd.DataFrame(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
        ).to_parquet(f)
        os.utime(f, (now - 60 * (len(BATCHES) - i), now - 60 * (len(BATCHES) - i)))
    return stage


def _run(spark, stage: str, state: str, ckpt: str, **kw) -> None:
    from cqlcopy_spark.streaming.sinks import continuous_minhash_dedup_sink

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        continuous_minhash_dedup_sink(src, state, ckpt, **kw)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()


def _batch_reference(spark, tmp_path) -> dict[tuple[int, int], float]:
    from cqlcopy_spark.plans.registry import all_queries

    corpus = str(tmp_path / "corpus")
    rows = [r for b in BATCHES for r in b]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(corpus, "documents.parquet")
    )
    out = all_queries()["dedup_fuzzy_minhash"](spark, corpus)
    return {(r["d1"], r["d2"]): r["jaccard"] for r in out.collect()}


def test_minhash_sink_matches_batch_op(spark, tmp_path):
    from cqlcopy_spark.streaming.sinks import read_minhash_pairs

    stage = _write_stage(tmp_path)
    state = str(tmp_path / "state")
    _run(spark, stage, state, str(tmp_path / "ckpt"))

    got_rows = read_minhash_pairs(spark, state).collect()
    got = {
        (min(r["new_doc"], r["dup_of"]), max(r["new_doc"], r["dup_of"])): r["jaccard"]
        for r in got_rows
    }
    assert len(got) == len(got_rows)  # each pair reported exactly once
    want = _batch_reference(spark, tmp_path)
    assert got == want  # keys AND bitwise jaccard
    assert EXPECT_PAIRS <= set(got)
    # each pair is reported BY the later-arriving member
    by_new = {(r["new_doc"], r["dup_of"]) for r in got_rows}
    assert (4, 1) in by_new and (5, 9) in by_new and (7, 6) in by_new
    # the gram-less doc never entered the index or any pair
    assert all(8 not in p for p in got)


def test_minhash_apply_batch_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay: re-running a batch with the SAME batch_id
    must rewrite identical state, because the batch only reads index
    deltas strictly below its own id."""
    from cqlcopy_spark.streaming.sinks import minhash_apply_batch, read_minhash_pairs

    state = str(tmp_path / "state")
    frames = [
        spark.createDataFrame(rows, "doc_id long, text string") for rows in BATCHES
    ]
    for b, df in enumerate(frames):
        minhash_apply_batch(df, b, state)
    first = {
        (r["new_doc"], r["dup_of"], r["jaccard"])
        for r in read_minhash_pairs(spark, state).collect()
    }
    n_hash_rows = spark.read.parquet(os.path.join(state, "hashes")).count()

    minhash_apply_batch(frames[1], 1, state)  # replay the middle batch
    again = {
        (r["new_doc"], r["dup_of"], r["jaccard"])
        for r in read_minhash_pairs(spark, state).collect()
    }
    assert again == first
    assert spark.read.parquet(os.path.join(state, "hashes")).count() == n_hash_rows


def test_minhash_sink_cross_run_guard(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    from cqlcopy_spark.streaming.sinks import read_minhash_pairs

    stage = _write_stage(tmp_path)
    state = str(tmp_path / "state")
    _run(spark, stage, state, str(tmp_path / "ckpt1"))
    want = {
        (r["new_doc"], r["dup_of"]) for r in read_minhash_pairs(spark, state).collect()
    }
    with pytest.raises(StreamingQueryException, match="belongs to"):
        _run(spark, stage, state, str(tmp_path / "ckpt2"))
    # state unharmed by the refused run
    got = {
        (r["new_doc"], r["dup_of"]) for r in read_minhash_pairs(spark, state).collect()
    }
    assert got == want
    # restart wipes the foreign lineage and recomputes the same report
    _run(spark, stage, state, str(tmp_path / "ckpt3"), on_new_run="restart")
    got = {
        (r["new_doc"], r["dup_of"]) for r in read_minhash_pairs(spark, state).collect()
    }
    assert got == want


def _split_corpus(n_batches: int, per_batch: int = 3):
    """Deterministic corpus sliced into n_batches; every batch b>0
    contains one near-dup of a batch-0 doc so cross-batch probes always
    have work."""
    batches = []
    nid = 100
    for b in range(n_batches):
        rows = []
        for i in range(per_batch):
            if b > 0 and i == 0:
                rows.append((nid, _doc(1, tweak=(b % 28) + 1)))
            else:
                rows.append((nid, _doc(nid)))
            nid += 1
        batches.append(rows)
    return batches


def test_minhash_probe_reads_are_bounded_after_compaction(spark, tmp_path):
    """r8 VERDICT item 2: at thousands of production batches the probe
    must NOT rescan every delta. After > COMPACT_EVERY batches the
    state must hold a complete compact/v=<b> dir, and the file set a
    NEW batch reads must be one compacted dir plus at most
    COMPACT_EVERY-1 tail deltas — while the cumulative pair report
    stays equal to the one-shot batch op over the same corpus."""
    from cqlcopy_spark.operators.dedup import _band_rows
    from cqlcopy_spark.plans.registry import all_queries
    from cqlcopy_spark.streaming.sinks import (
        MINHASH_BANDS,
        minhash_apply_batch,
        read_minhash_pairs,
    )
    from cqlcopy_spark.streaming.state_log import (
        COMPACT_EVERY,
        compact_versions,
        delta_ids,
        read_view,
    )

    batches = _split_corpus(7)
    state = str(tmp_path / "state")
    for b, rows in enumerate(batches):
        minhash_apply_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), b, state
        )

    bands_root = os.path.join(state, "bands")
    hashes_root = os.path.join(state, "hashes")
    vs = compact_versions(bands_root)
    assert vs, "no complete compaction after 7 batches"
    v = vs[-1]
    assert v >= COMPACT_EVERY
    # what batch 7 would read: the compact dir + band rows derived from
    # the hashes deltas in [v, 7) (the r17 single-write layout) —
    # bounded by COMPACT_EVERY, not by the batch count
    tail = [i for i in delta_ids(hashes_root, 7) if i >= v]
    assert len(tail) <= COMPACT_EVERY - 1 + (7 - 7)
    assert len(tail) == 7 - v
    # the read itself contains every band row below batch 7 exactly once
    full = read_view(spark, MINHASH_BANDS, state, 7)
    raw = _band_rows(
        spark.read.schema(MINHASH_BANDS.delta_schema).parquet(
            *[
                os.path.join(hashes_root, f"delta={i}")
                for i in delta_ids(hashes_root, 7)
            ]
        )
    )
    assert (
        full.groupBy("doc_id", "band", "key").count().filter("count != 1").count()
        == 0
    )
    assert full.count() == raw.count()

    # end-to-end: cumulative report == one-shot batch op on the union
    corpus = str(tmp_path / "corpus")
    allrows = [r for b in batches for r in b]
    spark.createDataFrame(allrows, "doc_id long, text string").write.parquet(
        os.path.join(corpus, "documents.parquet")
    )
    want = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in all_queries()["dedup_fuzzy_minhash"](spark, corpus).collect()
    }
    got = {
        (min(r["new_doc"], r["dup_of"]), max(r["new_doc"], r["dup_of"])): r["jaccard"]
        for r in read_minhash_pairs(spark, state).collect()
    }
    assert got == want


def test_minhash_out_of_order_replay_ignores_newer_compaction(spark, tmp_path):
    """The compaction-safety contract: a MIDDLE batch replayed after
    later batches (and after compaction) must re-derive from exactly
    its original corpus state — the as-of read must ignore compact
    versions newer than the reading batch and fall back to raw deltas.
    The replay must leave the cumulative report unchanged."""
    from cqlcopy_spark.streaming.sinks import (
        minhash_apply_batch,
        read_minhash_pairs,
    )

    batches = _split_corpus(6)
    state = str(tmp_path / "state")
    frames = [
        spark.createDataFrame(rows, "doc_id long, text string") for rows in batches
    ]
    for b, df in enumerate(frames):
        minhash_apply_batch(df, b, state)
    before = {
        (r["new_doc"], r["dup_of"], r["jaccard"])
        for r in read_minhash_pairs(spark, state).collect()
    }
    assert before
    minhash_apply_batch(frames[1], 1, state)  # replay past the compaction
    after = {
        (r["new_doc"], r["dup_of"], r["jaccard"])
        for r in read_minhash_pairs(spark, state).collect()
    }
    assert after == before


def test_minhash_compaction_is_incremental_and_prunes_versions(spark, tmp_path):
    """Review fix pins: compaction must fire only when COMPACT_EVERY
    tail deltas accumulated SINCE the newest compaction (not on every
    batch once the total delta count passes the threshold — that was
    O(batches²) re-reads), each fire merges the previous compact
    version with the tail (never re-reading all raw deltas), and
    superseded compact versions are deleted (disk = raw deltas + ONE
    compact copy). Raw deltas all survive as replay truth."""
    from cqlcopy_spark.operators.dedup import _band_rows
    from cqlcopy_spark.streaming.sinks import MINHASH_BANDS, minhash_apply_batch
    from cqlcopy_spark.streaming.state_log import compact_versions, delta_ids, read_view

    batches = _split_corpus(9)
    state = str(tmp_path / "state")
    for b, rows in enumerate(batches):
        minhash_apply_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), b, state
        )
    bands_root = os.path.join(state, "bands")
    hashes_root = os.path.join(state, "hashes")
    # fires at batch 4 (deltas 0-3) and batch 8 (v=4 + deltas 4-7);
    # batches 5-7 and 9... (9 batches = ids 0..8, so the last fire is 8)
    assert compact_versions(bands_root) == [8]
    # every raw delta retained for out-of-order replay (the band deltas
    # of the r17 layout ARE the hashes deltas; bands/ holds only the
    # clustered compactions)
    assert delta_ids(hashes_root, 10_000) == list(range(9))
    assert delta_ids(bands_root, 10_000) == []
    # the merged compact + derived tail still equals the raw union
    full = read_view(spark, MINHASH_BANDS, state, 9)
    raw = _band_rows(
        spark.read.schema(MINHASH_BANDS.delta_schema).parquet(
            *[os.path.join(hashes_root, f"delta={i}") for i in range(9)]
        )
    )
    assert full.count() == raw.count()
    assert (
        full.groupBy("doc_id", "band", "key").count().filter("count != 1").count()
        == 0
    )
