"""minhash_takedown_batch / minhash_vacuum — right-to-be-forgotten for
the streaming dedup index: mid-stream probe masking, id permanence,
masked reads, and the three-root vacuum's invariance + crash contract.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _pairs(spark, state):
    from cqlcopy_spark.streaming.sinks import read_minhash_pairs

    return {
        (r["new_doc"], r["dup_of"])
        for r in read_minhash_pairs(spark, state).collect()
    }


@pytest.fixture()
def ingested(spark):
    from cqlcopy_spark.operators.dedup import _streamed_minhash_state

    return _streamed_minhash_state(spark, SF_SMALL)


def test_masked_read_drops_pairs_on_either_side(spark, ingested):
    from cqlcopy_spark.streaming.sinks import minhash_takedown_batch

    state = ingested
    before = _pairs(spark, state)
    assert before, "fixture precondition: some near-dup pairs exist"
    victim = min(d for p in before for d in p)
    minhash_takedown_batch(
        spark.createDataFrame([(victim,)], "doc_id long"), 3, state
    )
    after = _pairs(spark, state)
    assert all(victim not in p for p in after)
    assert after == {p for p in before if victim not in p}


def test_midstream_takedown_blocks_future_pairing(spark):
    """A doc taken down between batches no longer pairs with later
    arrivals: deliver a doc, retire it, then deliver an exact copy of
    its text under a fresh id — no pair is emitted (the probe index is
    masked), and the copy indexes as new content."""
    import atexit
    import shutil
    import tempfile

    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.streaming.sinks import (
        minhash_apply_batch,
        minhash_takedown_batch,
        read_minhash_pairs,
    )

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    # a doc long enough to carry 3-grams
    doc = d.filter(F.size(F.split("text", " ")) >= 10).limit(1)
    doc_id = doc.first()["doc_id"]
    state = tempfile.mkdtemp(prefix="minhash_td_state_")
    atexit.register(shutil.rmtree, state, ignore_errors=True)
    minhash_apply_batch(doc, 0, state)
    minhash_takedown_batch(
        spark.createDataFrame([(doc_id,)], "doc_id long"), 1, state
    )
    clone = doc.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    minhash_apply_batch(clone, 2, state)
    assert read_minhash_pairs(spark, state).count() == 0
    # the clone entered the index as new content (its signature row is
    # there), so a THIRD identical delivery pairs against the clone,
    # never the retired original
    clone2 = doc.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    minhash_apply_batch(clone2, 3, state)
    pairs = {
        (r["new_doc"], r["dup_of"])
        for r in read_minhash_pairs(spark, state).collect()
    }
    assert pairs == {(doc_id + 2_000_000, doc_id + 1_000_000)}


def test_retired_id_never_reindexed(spark):
    """Id permanence: a re-delivery of a taken-down doc_id is dropped by
    the admission guard — its signature never re-enters the index."""
    import atexit
    import shutil
    import tempfile

    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.streaming.sinks import (
        minhash_apply_batch,
        minhash_takedown_batch,
    )

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    doc = d.filter(F.size(F.split("text", " ")) >= 10).limit(1)
    doc_id = doc.first()["doc_id"]
    state = tempfile.mkdtemp(prefix="minhash_perm_state_")
    atexit.register(shutil.rmtree, state, ignore_errors=True)
    minhash_apply_batch(doc, 0, state)
    minhash_takedown_batch(
        spark.createDataFrame([(doc_id,)], "doc_id long"), 1, state
    )
    minhash_apply_batch(doc, 2, state)  # re-delivery of the retired id
    delta2 = os.path.join(state, "hashes", "delta=2")
    assert spark.read.parquet(delta2).count() == 0


def test_vacuum_prunes_all_three_roots_and_keeps_view(spark, ingested):
    from cqlcopy_spark.operators.dedup import _minhash_takedown_target
    from cqlcopy_spark.streaming.sinks import (
        TAKEDOWNS,
        minhash_takedown_batch,
        minhash_vacuum,
    )
    from cqlcopy_spark.streaming.state_log import View, read_view

    state = ingested
    minhash_takedown_batch(
        _minhash_takedown_target(spark, SF_SMALL), 3, state
    )
    before = _pairs(spark, state)
    td = {r["doc_id"] for r in read_view(spark, TAKEDOWNS, state).collect()}
    assert minhash_vacuum(spark, state) > 0
    # mask swapped empty; view unchanged
    assert read_view(spark, TAKEDOWNS, state).count() == 0
    assert _pairs(spark, state) == before
    # physical: no retired id in any data root's current resolution
    for sub, schema, cols in (
        ("bands", "doc_id long, band int, key string", ["doc_id"]),
        ("hashes", "doc_id long, hashes array<long>", ["doc_id"]),
        ("pairs", "new_doc long, dup_of long, jaccard double", ["new_doc", "dup_of"]),
    ):
        phys = read_view(spark, View(sub, schema, ()), state)
        for c in cols:
            hit = phys.filter(F.col(c).isin(list(td))).count()
            assert hit == 0, (sub, c, hit)
    # idempotent no-op fast path
    assert minhash_vacuum(spark, state) == 0
