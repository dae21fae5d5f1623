"""curation_state_clone — branching a curation state at an as-of point:
fork faithfulness, divergence isolation, epoch composition for fresh
checkpoints, and forking across a vacuumed trunk.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _ids(df):
    return {r["doc_id"] for r in df.collect()}


@pytest.fixture()
def trunk(spark):
    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.operators.text import _streamed_curation_state

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text", "n_chars")
    return d, _streamed_curation_state(spark, SF_SMALL)


def test_branch_continuation_reproduces_trunk(spark, trunk):
    """Fork at 2, deliver the third slice to the branch as a fresh
    checkpoint's batch 0 → the branch's live view equals the trunk's."""
    from cqlcopy_spark.catalog import session_tempdir
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_state_clone,
        read_curation_survivors,
    )

    d, state = trunk
    mx = d.agg(F.max("doc_id")).first()[0] or 0
    branch = session_tempdir("curation_stream_state_")
    curation_state_clone(spark, state, branch, as_of=2)
    curation_apply_batch(d.filter(F.col("doc_id") > 2 * (mx // 3)), 0, branch)
    b = {tuple(r) for r in read_curation_survivors(spark, branch).collect()}
    t = {tuple(r) for r in read_curation_survivors(spark, state).collect()}
    assert b == t and b
    # the fresh checkpoint's batch 0 landed AT the fork point
    # r17 single-write layout: the admitted-row delta lands under ths/
    assert os.path.isdir(os.path.join(branch, "ths", "delta=2"))


def test_branch_divergence_isolation(spark, trunk):
    """Branch-only ingest and takedowns never leak into the trunk, and
    trunk state after the fork never leaks into the branch."""
    from cqlcopy_spark.catalog import session_tempdir
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_state_clone,
        curation_takedown_batch,
        read_curation_survivors,
    )

    d, state = trunk
    trunk_before = _ids(read_curation_survivors(spark, state))
    branch = session_tempdir("curation_stream_state_")
    curation_state_clone(spark, state, branch, as_of=2)
    mx = d.agg(F.max("doc_id")).first()[0] or 0
    # divergent branch content: salted third slice under fresh ids
    div = d.filter(F.col("doc_id") > 2 * (mx // 3)).select(
        (F.col("doc_id") + mx + 1).alias("doc_id"),
        F.concat(F.lit("branch-only "), "text").alias("text"),
        (F.col("n_chars") + 12).alias("n_chars"),
    )
    curation_apply_batch(div, 0, branch)
    victim = min(_ids(read_curation_survivors(spark, branch)))
    curation_takedown_batch(
        spark.createDataFrame([(victim,)], "doc_id long"), 1, branch
    )
    # trunk untouched
    assert _ids(read_curation_survivors(spark, state)) == trunk_before
    # branch saw its own ingest + takedown, none of the trunk's slice 3
    b = _ids(read_curation_survivors(spark, branch))
    assert victim not in b
    assert b - trunk_before  # divergent docs admitted
    third = trunk_before - _ids(
        read_curation_survivors(spark, state, as_of=2)
    )
    assert not (b & third)  # trunk's post-fork admissions absent


def test_branch_from_vacuumed_trunk_serves_historical_truth(spark, trunk):
    """Forking at a HISTORICAL point after the trunk was taken-down and
    vacuumed still reproduces the pre-takedown as-of view — the branch
    reads the retained raw deltas, not the vacuum version."""
    from cqlcopy_spark.catalog import session_tempdir
    from cqlcopy_spark.streaming.sinks import (
        curation_state_clone,
        curation_takedown_batch,
        curation_vacuum,
        read_curation_survivors,
    )

    d, state = trunk
    want = {
        tuple(r)
        for r in read_curation_survivors(spark, state, as_of=2).collect()
    }
    doomed = sorted(_ids(read_curation_survivors(spark, state)))[:5]
    curation_takedown_batch(
        spark.createDataFrame([(i,) for i in doomed], "doc_id long"), 3, state
    )
    assert curation_vacuum(spark, state) > 0
    branch = session_tempdir("curation_stream_state_")
    curation_state_clone(spark, state, branch, as_of=2)
    got = {tuple(r) for r in read_curation_survivors(spark, branch).collect()}
    assert got == want
