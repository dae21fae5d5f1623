"""continuous_curation_sink contracts: batch equivalence with
pipeline_pretrain_pack over doc_id-sliced arrival, exactly-once under
batch replay, first-delivery-wins on re-delivered/duplicate texts, and
the real writeStream path end to end.

The gates are per-document pure functions and the keeper is
deterministic, so strict equality against the batch capstone is
well-defined whenever arrival order is doc_id-ascending (the registered
op's slicing); out-of-order arrival pins the DOCUMENTED divergence —
first delivery wins, not lowest doc_id.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _doc(i: int) -> str:
    """A text that passes both gates: ~20 words, ≥2 gopher stopwords,
    healthy type/token ratio and word lengths."""
    uniq = " ".join(f"word{i}x{j}" for j in range(14))
    return f"the data value table holds {uniq} rows"


def _df(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.withColumn("n_chars", F.length(F.coalesce("text", F.lit(""))).cast("long"))


def _survivor_ids(spark, state):
    from cqlcopy_spark.streaming.sinks import read_curation_survivors

    return {r["doc_id"] for r in read_curation_survivors(spark, state).collect()}


def test_registered_op_hash_equals_oneshot_capstone(spark):
    """The driver contract itself: three sliced batches == the one-shot
    capstone relation, row for row."""
    from cqlcopy_spark.plans.registry import all_queries

    qs = all_queries()
    a = sorted(map(tuple, qs["stream_curation_apply"](spark, SF_SMALL).collect()))
    b = sorted(map(tuple, qs["pipeline_pretrain_pack"](spark, SF_SMALL).collect()))
    assert a == b
    assert len(a) > 0


def test_cross_batch_duplicate_text_dropped(spark, tmp_path):
    """A later batch re-delivering an ADMITTED text under a fresh doc_id
    is dropped by the persisted-hash anti-join; in-batch duplicates
    collapse to the lowest doc_id."""
    from cqlcopy_spark.streaming.sinks import curation_apply_batch

    state = str(tmp_path / "state")
    curation_apply_batch(
        _df(spark, [(1, _doc(1)), (2, _doc(1)), (3, _doc(3))]), 0, state
    )
    curation_apply_batch(
        _df(spark, [(4, _doc(1)), (5, _doc(5))]), 1, state
    )
    assert _survivor_ids(spark, state) == {1, 3, 5}


def test_gate_failures_never_admitted(spark, tmp_path):
    """Documents failing either gate don't reach the survivor log or
    the hash index (a later identical passing text is unaffected)."""
    from cqlcopy_spark.streaming.sinks import curation_apply_batch

    state = str(tmp_path / "state")
    # "a b" fails the ≥10-words gopher floor
    curation_apply_batch(_df(spark, [(1, "a b"), (2, _doc(2))]), 0, state)
    assert _survivor_ids(spark, state) == {2}


def test_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay of a middle batch (after later batches
    landed) rewrites identical state: reads stop strictly below the
    replaying batch id."""
    from cqlcopy_spark.streaming.sinks import curation_apply_batch

    state = str(tmp_path / "state")
    batches = [
        _df(spark, [(1, _doc(1)), (2, _doc(2))]),
        _df(spark, [(3, _doc(3)), (4, _doc(1))]),  # 4 is a dup of 1
        _df(spark, [(5, _doc(5))]),
    ]
    for b, df in enumerate(batches):
        curation_apply_batch(df, b, state)
    first = _survivor_ids(spark, state)
    assert first == {1, 2, 3, 5}
    n_th = spark.read.parquet(os.path.join(state, "ths")).count()

    curation_apply_batch(batches[1], 1, state)  # replay
    assert _survivor_ids(spark, state) == first
    assert spark.read.parquet(os.path.join(state, "ths")).count() == n_th


def test_out_of_order_arrival_is_first_delivery_wins(spark, tmp_path):
    """A SMALLER doc_id arriving after its duplicate was admitted stays
    dropped — the documented divergence from the one-shot keeper, which
    would have picked the smaller id."""
    from cqlcopy_spark.streaming.sinks import curation_apply_batch

    state = str(tmp_path / "state")
    curation_apply_batch(_df(spark, [(7, _doc(7))]), 0, state)
    curation_apply_batch(_df(spark, [(2, _doc(7))]), 1, state)
    assert _survivor_ids(spark, state) == {7}


def test_sink_end_to_end_matches_batch_apply(spark, tmp_path):
    """The real writeStream path (file source → foreachBatch) admits
    the same survivor set as driving the kernel directly."""
    import time

    import pandas as pd

    from cqlcopy_spark.streaming.sinks import continuous_curation_sink

    batches = [
        [(1, _doc(1)), (2, _doc(1)), (3, _doc(3))],
        [(4, _doc(1)), (5, _doc(5))],
    ]
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    now = time.time()
    for i, rows in enumerate(batches):
        f = os.path.join(stage, f"b{i}.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(f)
        os.utime(f, (now - 60 * (len(batches) - i),) * 2)

    src = (
        spark.readStream.schema("doc_id long, text string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    state = str(tmp_path / "state")
    q = (
        continuous_curation_sink(src, state, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    assert _survivor_ids(spark, state) == {1, 3, 5}


def test_takedown_vacuum_then_ingest_above_the_stamp(spark, tmp_path):
    """The supported offline composition: ingest → takedown → vacuum →
    CONTINUED ingest with batch ids strictly above the vacuum stamp.
    The retired doc stays out, its identical text re-delivered under a
    fresh id stays out (content permanence), and new content lands."""
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_takedown_batch,
        curation_vacuum,
    )

    state = str(tmp_path / "state")
    curation_apply_batch(_df(spark, [(1, _doc(1)), (3, _doc(3))]), 0, state)
    curation_apply_batch(_df(spark, [(5, _doc(5))]), 1, state)
    assert _survivor_ids(spark, state) == {1, 3, 5}

    curation_takedown_batch(
        spark.createDataFrame([(3,)], "doc_id long"), 2, state
    )
    assert curation_vacuum(spark, state) == 1  # stamps v=3 on both roots
    assert _survivor_ids(spark, state) == {1, 5}

    # post-vacuum ingest at ids above the stamp: doc 30 carries doc 3's
    # exact retired text, doc 7 is genuinely new
    curation_apply_batch(_df(spark, [(30, _doc(3)), (7, _doc(7))]), 4, state)
    got = _survivor_ids(spark, state)
    assert 7 in got
    assert 30 not in got
    assert 3 not in got


def test_resumed_ingest_below_vacuum_stamp_refused_loudly(spark, tmp_path):
    """The UNSUPPORTED composition fails loudly instead of losing data:
    a first-time survivor write below the vacuumed compaction floor
    would be invisible to every reader (the compact-floor read), so the
    writer's floor guard raises — e.g. a resumed same-checkpoint stream
    whose batch ids restart below an out-of-band vacuum stamp."""
    import pytest

    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_takedown_batch,
        curation_vacuum,
    )

    state = str(tmp_path / "state")
    curation_apply_batch(_df(spark, [(1, _doc(1))]), 0, state)
    curation_takedown_batch(
        spark.createDataFrame([(1,)], "doc_id long"), 50, state
    )
    assert curation_vacuum(spark, state) == 1  # stamps v=51
    with pytest.raises(ValueError, match="below this index root's"):
        curation_apply_batch(_df(spark, [(9, _doc(9))]), 1, state)


def test_single_write_layout_serves_probe_and_survivor_view(spark, tmp_path):
    """r17 single-write layout: each ingest batch lands ONE delta (under
    ths/) carrying the full admitted row; the survivor view derives
    from those files (projected), survivors/ holds no deltas, and the
    hash probe still column-prunes its scan to `th` alone."""
    from cqlcopy_spark.operators.text import _PACK_SHARDS
    from cqlcopy_spark.streaming.sinks import (
        CURATION_THS,
        curation_apply_batch,
        read_curation_survivors,
    )
    from cqlcopy_spark.streaming.state_log import read_view
    from tests.test_plans import plan_of

    state = str(tmp_path / "state")
    curation_apply_batch(
        _df(spark, [(1, _doc(1)), (2, _doc(2))]), 0, state
    )
    # doc_id 51: 51 % 32 = 19 differs from 51 % 16 = 3; a pin with ids
    # below the shard count would pass for any modulus
    curation_apply_batch(_df(spark, [(3, _doc(3)), (51, _doc(51))]), 1, state)
    # one delta per batch, all under ths/, none under survivors/
    assert sorted(os.listdir(os.path.join(state, "ths"))) == [
        "delta=0",
        "delta=1",
    ]
    assert not os.path.isdir(os.path.join(state, "survivors"))
    # the delta carries the full admitted row set
    rows = spark.read.parquet(os.path.join(state, "ths", "delta=0"))
    assert set(rows.columns) == {"th", "doc_id", "n_toks"}
    # the survivor view is the deterministic projection of those rows
    view = {
        (r["doc_id"], r["shard"], r["n_tokens"])
        for r in read_curation_survivors(spark, state).collect()
    }
    expect = {
        (r["doc_id"], r["doc_id"] % _PACK_SHARDS, r["n_toks"])
        for b in (0, 1)
        for r in spark.read.parquet(
            os.path.join(state, "ths", f"delta={b}")
        ).collect()
    }
    assert view == expect and view
    assert any(d >= _PACK_SHARDS for d, _, _ in view)  # the pin is live
    # probe-side column pruning: the th index read touches ONLY th
    probe = read_view(spark, CURATION_THS, state, 2)
    p = plan_of(probe)
    assert "ReadSchema: struct<th:string>" in p, p


def test_vacuum_stamp_clears_every_compaction_the_view_reads(spark, tmp_path):
    """A crash in curation_apply_batch after ths/compact/v=b but before
    ths/delta=b leaves a compaction above every delta id. The vacuum
    stamp covers every delta id AND every compaction of every root the
    survivor view reads, so the new survivors compaction lands above b."""
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_takedown_batch,
        curation_vacuum,
    )
    from cqlcopy_spark.streaming.state_log import compact_versions

    state = str(tmp_path / "state")
    curation_apply_batch(_df(spark, [(1, _doc(1)), (2, _doc(2))]), 0, state)
    curation_takedown_batch(
        spark.createDataFrame([(1,)], "doc_id long"), 1, state
    )
    b = 7  # the crashed batch: its ths compaction, no ths/delta=7
    spark.createDataFrame([("x",)], "th string").write.parquet(
        os.path.join(state, "ths", "compact", f"v={b}")
    )
    assert not os.path.isdir(os.path.join(state, "ths", f"delta={b}"))
    assert curation_vacuum(spark, state) == 1
    assert compact_versions(os.path.join(state, "survivors"))[-1] > b


def test_stale_delta_layout_fails_loudly(spark, tmp_path):
    """An older layout kept survivor deltas under survivors/ and band
    deltas under bands/; this layout derives both views from ths/ and
    hashes/. Such a state must raise, naming the directory, from the
    apply kernels and the readers alike, never read as NULL columns."""
    import pytest

    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        minhash_apply_batch,
        read_curation_survivors,
        read_minhash_pairs,
    )

    cur, mh = str(tmp_path / "cur"), str(tmp_path / "mh")
    old_layouts = ((cur, ("ths", "survivors")), (mh, ("hashes", "bands", "pairs")))
    for state, subs in old_layouts:
        for sub in subs:
            os.makedirs(os.path.join(state, sub, "delta=0"))
    docs = _df(spark, [(1, _doc(1))])
    calls = (
        (lambda: curation_apply_batch(docs, 1, cur), "survivors"),
        (lambda: read_curation_survivors(spark, cur), "survivors"),
        (lambda: minhash_apply_batch(docs.select("doc_id", "text"), 1, mh), "bands"),
        (lambda: read_minhash_pairs(spark, mh), "bands"),
    )
    for call, sub in calls:
        with pytest.raises(ValueError, match=f"stale state layout: .*{sub}"):
            call()
