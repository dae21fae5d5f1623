"""Vector-index tombstone lifecycle (vector_index_delete): permanence
under re-adds, replay idempotence, reader/search exclusion, and the
lifecycle verify twin's emptiness + planted-corruption liveness."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL


def _slices(spark):
    from cqlcopy_spark.operators.vector_index import _sliced_corpus

    return _sliced_corpus(spark, SF_SMALL)


def _ids(df):
    return {r["vec_id"] for r in df.select("vec_id").collect()}


@pytest.fixture()
def state(spark, tmp_path):
    from cqlcopy_spark.operators.vector_index import (
        vector_index_append,
        vector_index_build,
    )

    s = str(tmp_path / "vidx")
    _, (base, b1, _) = _slices(spark)
    vector_index_build(base, s)
    vector_index_append(b1, 1, s)
    return s


def test_delete_hides_ids_from_readers_and_search(spark, state):
    from cqlcopy_spark.operators.similarity import _collect_queries
    from cqlcopy_spark.operators.vector_index import (
        read_index_codes,
        vector_index_delete,
        vector_index_search,
    )

    e, _ = _slices(spark)
    before = _ids(read_index_codes(spark, state))
    doomed = sorted(before)[::3]
    vector_index_delete(
        spark.createDataFrame([(i,) for i in doomed], "vec_id long"), 2, state
    )
    after = _ids(read_index_codes(spark, state))
    assert after == before - set(doomed)
    out = vector_index_search(spark, state, _collect_queries(e))
    assert out.count() > 0
    assert not ({r["n_id"] for r in out.collect()} & set(doomed))


def test_tombstone_wins_over_readd(spark, state):
    from cqlcopy_spark.operators.vector_index import (
        read_index_codes,
        vector_index_append,
        vector_index_delete,
    )

    _, (base, _, b2) = _slices(spark)
    victim = min(_ids(read_index_codes(spark, state)))
    vector_index_delete(
        spark.createDataFrame([(victim,)], "vec_id long"), 2, state
    )
    readd = base.filter(base.vec_id == victim).selectExpr(
        "vec_id", "transform(emb, x -> x + 1.0) AS emb"
    )
    vector_index_append(readd.unionByName(b2), 3, state)
    after = _ids(read_index_codes(spark, state))
    assert victim not in after
    assert _ids(b2) <= after  # the genuine batch still landed


def test_delete_replay_is_idempotent(spark, state):
    from cqlcopy_spark.operators.vector_index import (
        read_index_codes,
        vector_index_delete,
    )

    victim = min(_ids(read_index_codes(spark, state)))
    dd = spark.createDataFrame([(victim,)], "vec_id long")
    vector_index_delete(dd, 2, state)
    first = _ids(read_index_codes(spark, state))
    vector_index_delete(dd, 2, state)  # at-least-once replay
    assert _ids(read_index_codes(spark, state)) == first
    assert (
        spark.read.parquet(os.path.join(state, "tombstones")).count() == 1
    )


def test_lifecycle_verify_twin_is_empty(spark):
    from cqlcopy_spark.operators.vector_index import (
        similarity_index_delete_verify,
    )

    assert similarity_index_delete_verify(spark, SF_SMALL).count() == 0


def test_planted_resurrection_and_phantom_are_flagged(spark):
    """Corrupt the lifecycle state the twin checks two ways: (a) write
    a tombstoned id's row into a LATER codes delta, bypassing the
    append guard — the 'resurrected' family must flag exactly that id
    (the reader view stays clean, so only the raw provenance check can
    catch it); (b) inject a phantom vec_id that exists in no corpus row
    and no tombstone — the 'extra' family must flag it (r13 review: it
    previously matched no family while searches served it)."""
    from pyspark.sql import functions as F

    from cqlcopy_spark.operators.vector_index import (
        _delete_violations,
        _lifecycle_state,
        INDEX_TOMBSTONES,
        read_index_codes,
    )
    from cqlcopy_spark.streaming.state_log import read_view

    e, state = _lifecycle_state(spark, SF_SMALL)
    assert _delete_violations(spark, e, state).count() == 0

    victim = min(_ids(read_view(spark, INDEX_TOMBSTONES, state)))
    row = spark.read.parquet(os.path.join(state, "codes", "delta=0")).filter(
        F.col("vec_id") == victim
    )
    assert row.count() == 1
    phantom = 10_000_000_019  # far outside any fixture id space
    row.unionByName(row.withColumn("vec_id", F.lit(phantom))).write.mode(
        "overwrite"
    ).parquet(os.path.join(state, "codes", "delta=4"))
    viol = _delete_violations(spark, e, state).collect()
    assert {(r["vec_id"], r["kind"]) for r in viol} == {
        (victim, "resurrected"),
        (phantom, "extra"),
    }
    # the reader never served the tombstoned id even while corrupted
    assert victim not in _ids(read_index_codes(spark, state))
