"""vector_index_vacuum — the offline index-version swap (r13 VERDICT
item 5): physical pruning, reader-view invariance, replay truth in the
raw deltas, planted-corruption liveness for every violation family of
similarity_index_vacuum_verify, and the post-vacuum-resurrection check
the reader layer is structurally blind to.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def vacuumed(spark):
    """(corpus frame, state dir, qlist, pre-vacuum snapshot, n_pruned):
    the full delete lifecycle, snapshotted, then vacuumed."""
    from cqlcopy_spark.operators.similarity import _collect_queries
    from cqlcopy_spark.operators.vector_index import (
        _lifecycle_state,
        _pre_vacuum_snapshot,
        vector_index_vacuum,
    )

    e, state = _lifecycle_state(spark, SF_SMALL)
    qlist = _collect_queries(e)
    snap = _pre_vacuum_snapshot(spark, state)
    n_pruned = vector_index_vacuum(spark, state)
    return e, state, qlist, snap, n_pruned


def test_vacuum_prunes_and_preserves_reader_view(spark, vacuumed):
    from cqlcopy_spark.operators.vector_index import INDEX_CODES, read_index_codes
    from cqlcopy_spark.streaming.state_log import read_view

    e, state, qlist, (pre_view_dir, raw_tombs), n_pruned = vacuumed
    n_tombs = raw_tombs.count()
    assert n_tombs > 0, "lifecycle precondition: something was deleted"
    # physical pruning happened and was counted
    assert n_pruned > 0
    phys = read_view(spark, INDEX_CODES, state)
    assert phys.join(raw_tombs, "vec_id", "left_semi").count() == 0
    # reader view bitwise unchanged (count + per-id membership)
    from cqlcopy_spark.operators.vector_index import _CODES_SCHEMA

    pre_view = spark.read.schema(_CODES_SCHEMA).parquet(pre_view_dir)
    post_view = read_index_codes(spark, state)
    assert pre_view.exceptAll(post_view).count() == 0
    assert post_view.exceptAll(pre_view).count() == 0


def test_vacuum_verify_families_empty_after_clean_vacuum(spark, vacuumed):
    from cqlcopy_spark.operators.vector_index import _vacuum_violations

    e, state, qlist, (pre_view_dir, raw_tombs), _ = vacuumed
    v = _vacuum_violations(spark, state, qlist, pre_view_dir, raw_tombs)
    assert v.count() == 0


def test_vacuum_idempotent(spark, vacuumed):
    """A second vacuum is a NO-OP: nothing pruned, the view unchanged,
    and no fresh corpus rewrite (the fast path — a re-run must not pay
    a version swap for nothing)."""
    from cqlcopy_spark.operators.vector_index import (
        read_index_codes,
        vector_index_vacuum,
    )
    from cqlcopy_spark.streaming.state_log import compact_versions

    e, state, qlist, snap, _ = vacuumed
    before = read_index_codes(spark, state).count()
    vids_before = compact_versions(os.path.join(state, "codes"))
    assert vector_index_vacuum(spark, state) == 0
    assert compact_versions(os.path.join(state, "codes")) == vids_before
    assert read_index_codes(spark, state).count() == before


def test_planted_dead_row_fires(spark, vacuumed):
    """Liveness: a tombstoned row smuggled back into the vacuumed codes
    compaction is flagged 'dead_row' (the vacuousness guard — a no-op
    vacuum cannot pass)."""
    from cqlcopy_spark.operators.vector_index import (
        _CODES_SCHEMA,
        _vacuum_violations,
    )
    from cqlcopy_spark.streaming.state_log import compact_versions

    e, state, qlist, (pre_view_dir, raw_tombs), _ = vacuumed
    doomed_id = raw_tombs.agg(F.min("vec_id")).first()[0]
    vid = compact_versions(os.path.join(state, "codes"))[-1]
    planted = spark.createDataFrame(
        [(int(doomed_id), [0.0] * 64, 0, "0-0-0-0-0-0-0-0")], _CODES_SCHEMA
    )
    planted.write.mode("append").parquet(
        os.path.join(state, "codes", "compact", f"v={vid}")
    )
    v = _vacuum_violations(spark, state, qlist, pre_view_dir, raw_tombs)
    kinds = {
        (r["vec_id"], r["kind"]) for r in v.filter(F.col("kind") == "dead_row").collect()
    }
    assert (doomed_id, "dead_row") in kinds


def test_planted_tombstone_residue_fires(spark, vacuumed):
    """Liveness for the crash-between-swaps state: removing the empty
    tombstone compaction resurfaces every raw tombstone as
    'tombstone_residue' (and nothing else — the codes side is already
    pruned, so the view stays consistent)."""
    import shutil

    from cqlcopy_spark.operators.vector_index import _vacuum_violations
    from cqlcopy_spark.streaming.state_log import compact_versions

    e, state, qlist, (pre_view_dir, raw_tombs), _ = vacuumed
    tomb_root = os.path.join(state, "tombstones")
    vid = compact_versions(tomb_root)[-1]
    shutil.rmtree(os.path.join(tomb_root, "compact", f"v={vid}"))
    v = _vacuum_violations(spark, state, qlist, pre_view_dir, raw_tombs).persist()
    residue = {r["vec_id"] for r in v.filter(F.col("kind") == "tombstone_residue").collect()}
    assert residue == {r["vec_id"] for r in raw_tombs.collect()}
    assert v.filter(F.col("kind") != "tombstone_residue").count() == 0
    v.unpersist()


def test_post_vacuum_resurrection_lands_and_raw_deltas_flag_it(spark, vacuumed):
    """The horizon claim is caller-owned: after the vacuum prunes a
    tombstone, a producer that re-delivers the retired id DOES land it
    (by design — the guard consults the vacuumed state). Reader-level
    checks are structurally blind to this (the tombstone is gone), but
    the RAW deltas retain both sides, so the delete twin's
    'resurrected' invariant (codes delta written after the id's
    tombstone batch) fires — the planted liveness the vacuum twin's
    docstring points at."""
    from pyspark.sql.functions import col
    from cqlcopy_spark.operators.vector_index import (
        INDEX_CODES,
        INDEX_TOMBSTONES,
        read_index_codes,
        vector_index_append,
    )
    from cqlcopy_spark.streaming.state_log import read_provenance

    e, state, qlist, (pre_view_dir, raw_tombs), _ = vacuumed
    doomed_id = int(raw_tombs.agg(F.min("vec_id")).first()[0])
    readd = e.filter(F.col("vec_id") == doomed_id).selectExpr(
        "vec_id", "transform(emb, x -> x + 2.0) AS emb"
    )
    assert readd.count() == 1
    vector_index_append(readd, 9, state)
    # it LANDS: the pruned guard no longer blocks it
    assert (
        read_index_codes(spark, state)
        .filter(F.col("vec_id") == doomed_id)
        .count()
        == 1
    )
    codes_prov = read_provenance(spark, INDEX_CODES, state, "b")
    tomb_prov = read_provenance(spark, INDEX_TOMBSTONES, state, "b").select(
        "vec_id", col("b").alias("tb")
    )
    resurrected = (
        codes_prov.join(tomb_prov, "vec_id").filter(col("b") > col("tb"))
    )
    assert doomed_id in {r["vec_id"] for r in resurrected.collect()}


def test_first_time_write_below_vacuum_floor_refused(spark, vacuumed):
    """A NEW append or delete numbered below the vacuum stamp would be
    invisible to every reader (the compact-floor read) — the guard turns
    the silent loss into an error. Replays (existing delta dirs) pass:
    test_replay_below_vacuum_reads_pre_vacuum_truth below re-runs batch
    3 through the same code path."""
    from cqlcopy_spark.operators.vector_index import (
        vector_index_append,
        vector_index_delete,
    )

    e, state, qlist, snap, _ = vacuumed
    fresh = e.limit(1)
    with pytest.raises(ValueError, match="below this index root's"):
        # batch 1 exists as a delta (replayable); batch 2 was the
        # TOMBSTONE batch, so codes/delta=2 does not exist — an append
        # numbered 2 is a first-time write below the floor
        vector_index_append(fresh, 2, state)
    with pytest.raises(ValueError, match="below this index root's"):
        # tombstones/delta=1 does not exist either (batch 1 appended)
        vector_index_delete(fresh.select("vec_id"), 1, state)


def test_replay_below_vacuum_reads_pre_vacuum_truth(spark, vacuumed):
    """Raw deltas are replay truth: a same-checkpoint replay of the last
    pre-vacuum batch (batch 3 — poisoned re-adds + final append) rewrites
    its delta with exactly the same row set, because the as-of read
    only consults compactions ≤ the replaying batch and the vacuum
    version is stamped strictly above every delta."""
    from cqlcopy_spark.operators.vector_index import (
        _CODES_SCHEMA,
        _sliced_corpus,
        vector_index_append,
    )

    e, state, qlist, snap, _ = vacuumed
    delta3 = os.path.join(state, "codes", "delta=3")
    before = {
        (r["vec_id"], r["cell"], r["codes"])
        for r in spark.read.schema(_CODES_SCHEMA).parquet(delta3).collect()
    }
    # reconstruct batch 3's payload exactly as _lifecycle_state sent it
    _, (base, b1, b2) = _sliced_corpus(spark, SF_SMALL)
    doomed = (
        base.unionByName(b1)
        .select("vec_id")
        .filter(F.pmod(F.col("vec_id"), F.lit(3)) == 1)
    )
    poisoned = (
        base.unionByName(b1)
        .join(doomed, "vec_id", "left_semi")
        .selectExpr("vec_id", "transform(emb, x -> x + 1.0) AS emb")
    )
    vector_index_append(poisoned.unionByName(b2), 3, state)
    after = {
        (r["vec_id"], r["cell"], r["codes"])
        for r in spark.read.schema(_CODES_SCHEMA).parquet(delta3).collect()
    }
    assert before == after
