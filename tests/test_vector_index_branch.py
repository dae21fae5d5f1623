"""vector_index_clone / similarity_index_branch_verify — forking the
persisted vector index: fork faithfulness, checker liveness on planted
corruption, divergence isolation, and the cloned-tombstone guard.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def forked(spark):
    """(corpus, trunk, branch, final payload): the delete lifecycle,
    forked at batch 3 with the final batch re-delivered to the branch
    as a fresh checkpoint's batch 0."""
    from cqlcopy_spark.operators.vector_index import (
        _lifecycle_state_and_final,
        vector_index_append,
        vector_index_clone,
    )

    e, trunk, final = _lifecycle_state_and_final(spark, SF_SMALL)
    branch = _state_tempdir()
    vector_index_clone(spark, trunk, branch, as_of=3)
    vector_index_append(final, 0, branch)
    return e, trunk, branch, final


def _state_tempdir():
    from cqlcopy_spark.catalog import session_tempdir

    return session_tempdir("vector_index_state_")


def test_branch_view_equals_trunk(spark, forked):
    from cqlcopy_spark.operators.vector_index import _branch_violations

    e, trunk, branch, final = forked
    assert _branch_violations(spark, trunk, branch).count() == 0
    # the fresh checkpoint's batch 0 landed AT the fork point
    assert os.path.isdir(os.path.join(branch, "codes", "delta=3"))


def test_planted_branch_corruption_fires(spark, forked):
    """Liveness: dropping one row from the branch's cloned pre-fork
    file set surfaces as missing_in_branch; smuggling a foreign row in
    surfaces as extra_in_branch. (The r16 zero-copy clone carries the
    trunk's delta dirs verbatim instead of materializing a base
    compaction — corrupt the first resolved pre-fork dir, wherever the
    clone put it.)"""
    from cqlcopy_spark.operators.vector_index import (
        _CODES_SCHEMA,
        INDEX_CODES,
        _branch_violations,
    )
    from cqlcopy_spark.streaming.state_log import resolve

    e, trunk, branch, final = forked
    comp = sum(resolve(INDEX_CODES, branch, 3), [])[0]
    rows = spark.read.schema(_CODES_SCHEMA).parquet(comp)
    victim = rows.agg(F.min("vec_id")).first()[0]
    kept = rows.filter(F.col("vec_id") != victim)
    import shutil

    tmp = comp + ".new"
    kept.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(comp)
    os.rename(tmp, comp)
    planted = spark.createDataFrame(
        [(99_999_999, [0.0] * 64, 0, "0-0-0-0-0-0-0-0")], _CODES_SCHEMA
    )
    planted.write.mode("append").parquet(comp)
    v = _branch_violations(spark, trunk, branch).collect()
    kinds = {(r["vec_id"], r["kind"]) for r in v}
    assert (victim, "missing_in_branch") in kinds
    assert (99_999_999, "extra_in_branch") in kinds


def test_branch_divergence_isolation(spark, forked):
    """Branch-only appends/deletes never appear in the trunk view."""
    from cqlcopy_spark.operators.vector_index import (
        read_index_codes,
        vector_index_append,
        vector_index_delete,
    )

    e, trunk, branch, final = forked
    trunk_before = {
        r["vec_id"] for r in read_index_codes(spark, trunk).collect()
    }
    mx = e.agg(F.max("vec_id")).first()[0]
    fresh = e.limit(3).selectExpr(f"vec_id + {mx + 1} AS vec_id", "emb")
    vector_index_append(fresh, 1, branch)
    victim = min(trunk_before)
    vector_index_delete(
        spark.createDataFrame([(victim,)], "vec_id long"), 2, branch
    )
    assert {
        r["vec_id"] for r in read_index_codes(spark, trunk).collect()
    } == trunk_before
    b = {r["vec_id"] for r in read_index_codes(spark, branch).collect()}
    assert victim not in b and b & {r["vec_id"] for r in fresh.collect()}


def test_branch_guard_consults_cloned_tombstones(spark, forked):
    """A deleted-on-trunk id re-delivered to the BRANCH is dropped: the
    fork carried the tombstones, so permanence crosses the fork."""
    from cqlcopy_spark.operators.vector_index import (
        INDEX_TOMBSTONES,
        read_index_codes,
        vector_index_append,
    )
    from cqlcopy_spark.streaming.state_log import read_view

    e, trunk, branch, final = forked
    doomed_id = int(
        read_view(spark, INDEX_TOMBSTONES, branch).agg(F.min("vec_id")).first()[0]
    )
    readd = e.filter(F.col("vec_id") == doomed_id).selectExpr(
        "vec_id", "transform(emb, x -> x + 5.0) AS emb"
    )
    vector_index_append(readd, 1, branch)
    assert (
        read_index_codes(spark, branch)
        .filter(F.col("vec_id") == doomed_id)
        .count()
        == 0
    )
