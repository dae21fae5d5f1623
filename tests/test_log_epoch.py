"""Persisted log-epoch counter (r14 VERDICT item 4): a vacuum with
bump_epoch=True raises the state dir's epoch to its stamp, and every
batch kernel maps checkpoint-owned batch ids to effective id = batch id
+ epoch — so the SAME checkpoint can resume ingest after a vacuum
stamped above its small restart ids (previously a loud
_below_floor_guard error, which remains the default-no-epoch behavior,
pinned in test_vector_index_vacuum.py::
test_first_time_write_below_vacuum_floor_refused).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def epoch_vacuumed(spark):
    """(corpus frame, state dir, epoch): the full vector-index delete
    lifecycle, vacuumed WITH an epoch bump."""
    from cqlcopy_spark.operators.vector_index import (
        _lifecycle_state,
        vector_index_vacuum,
    )
    from cqlcopy_spark.streaming.sinks import log_epoch

    e, state = _lifecycle_state(spark, SF_SMALL)
    n = vector_index_vacuum(spark, state, bump_epoch=True)
    assert n > 0  # lifecycle precondition: the vacuum pruned something
    return e, state, log_epoch(state)


def test_epoch_equals_vacuum_stamp(spark, epoch_vacuumed):
    """The epoch lands exactly on the vacuum's compaction version:
    resumed batch 0 maps to the stamp itself (a reader at that id sees
    exactly the vacuumed state), later batches strictly above."""
    from cqlcopy_spark.streaming.state_log import compact_versions

    e, state, epoch = epoch_vacuumed
    assert epoch == compact_versions(os.path.join(state, "codes"))[-1]
    assert epoch == compact_versions(os.path.join(state, "tombstones"))[-1]


def test_checkpoint_resume_after_epoch_vacuum_continues_ingest(
    spark, epoch_vacuumed
):
    """The headline: a resumed checkpoint's batch 0 (the id that raised
    via _below_floor_guard without an epoch) now lands, is visible to
    readers, and files its raw delta at epoch+0."""
    from cqlcopy_spark.operators.vector_index import (
        read_index_codes,
        vector_index_append,
    )

    e, state, epoch = epoch_vacuumed
    mx = e.agg(F.max("vec_id")).first()[0]
    fresh = e.limit(4).selectExpr(
        f"vec_id + {mx + 1} AS vec_id", "emb"
    )
    before = read_index_codes(spark, state).count()
    vector_index_append(fresh, 0, state)  # checkpoint restarts at 0
    assert os.path.isdir(os.path.join(state, "codes", f"delta={epoch}"))
    after = read_index_codes(spark, state)
    assert after.count() == before + 4
    assert after.filter(F.col("vec_id") > mx).count() == 4


def test_replay_under_same_epoch_is_idempotent(spark, epoch_vacuumed):
    """Replay-below-epoch idempotence: re-running the SAME post-vacuum
    batch rewrites its effective delta byte-for-byte (row-set equal) and
    the reader view is unchanged — the standard at-least-once contract,
    preserved through the id mapping."""
    from cqlcopy_spark.operators.vector_index import (
        _CODES_SCHEMA,
        read_index_codes,
        vector_index_append,
    )

    e, state, epoch = epoch_vacuumed
    mx = e.agg(F.max("vec_id")).first()[0]
    fresh = e.limit(4).selectExpr(f"vec_id + {mx + 1} AS vec_id", "emb")
    vector_index_append(fresh, 0, state)
    delta = os.path.join(state, "codes", f"delta={epoch}")
    first = {
        (r["vec_id"], r["cell"], r["codes"])
        for r in spark.read.schema(_CODES_SCHEMA).parquet(delta).collect()
    }
    n_view = read_index_codes(spark, state).count()
    vector_index_append(fresh, 0, state)  # the replay
    second = {
        (r["vec_id"], r["cell"], r["codes"])
        for r in spark.read.schema(_CODES_SCHEMA).parquet(delta).collect()
    }
    assert first == second and len(first) == 4
    assert read_index_codes(spark, state).count() == n_view


def test_post_epoch_delete_masks_under_small_ids(spark, epoch_vacuumed):
    """The delete kernel shares the mapping: a post-vacuum takedown sent
    as checkpoint batch 1 masks rows appended as batch 0."""
    from cqlcopy_spark.operators.vector_index import (
        read_index_codes,
        vector_index_append,
        vector_index_delete,
    )

    e, state, epoch = epoch_vacuumed
    mx = e.agg(F.max("vec_id")).first()[0]
    fresh = e.limit(4).selectExpr(f"vec_id + {mx + 1} AS vec_id", "emb")
    vector_index_append(fresh, 0, state)
    vector_index_delete(fresh.select("vec_id").limit(2), 1, state)
    assert os.path.isdir(
        os.path.join(state, "tombstones", f"delta={epoch + 1}")
    )
    after = read_index_codes(spark, state).filter(F.col("vec_id") > mx)
    assert after.count() == 2


def test_bump_is_monotone_and_idempotent(spark, epoch_vacuumed):
    """Re-running the vacuum (no-op fast path) with bump_epoch=True
    recomputes the same epoch; the epoch never decreases."""
    from cqlcopy_spark.operators.vector_index import vector_index_vacuum
    from cqlcopy_spark.streaming.sinks import log_epoch

    e, state, epoch = epoch_vacuumed
    assert vector_index_vacuum(spark, state, bump_epoch=True) == 0
    assert log_epoch(state) == epoch


def test_curation_epoch_resume_and_view(spark):
    """The curation twin: takedown → curation_vacuum(bump_epoch=True) →
    the same checkpoint's batch 0 re-ingests NEW docs; the survivor view
    is the vacuumed view plus the newly admitted rows, and a replay of
    the post-vacuum batch leaves it unchanged."""
    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.operators.text import _streamed_curation_state
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_takedown_batch,
        curation_vacuum,
        log_epoch,
        read_curation_survivors,
    )

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text", "n_chars")
    state = _streamed_curation_state(spark, SF_SMALL)
    before = {
        r["doc_id"] for r in read_curation_survivors(spark, state).collect()
    }
    doomed = sorted(before)[: max(1, len(before) // 5)]
    curation_takedown_batch(
        spark.createDataFrame([(i,) for i in doomed], "doc_id long"), 3, state
    )
    assert curation_vacuum(spark, state, bump_epoch=True) == len(doomed)
    epoch = log_epoch(state)
    assert epoch > 0
    # resume: NEW docs (fresh ids + salted text so the hash index
    # doesn't drop them) arrive as checkpoint batch 0
    mx = d.agg(F.max("doc_id")).first()[0]
    survivors_pre = read_curation_survivors(spark, state).count()
    newdocs = d.limit(50).select(
        (F.col("doc_id") + mx + 1).alias("doc_id"),
        F.concat(F.lit("epoch-resume "), "text").alias("text"),
        (F.col("n_chars") + 13).alias("n_chars"),
    )
    curation_apply_batch(newdocs, 0, state)
    # r17 single-write layout: the admitted-row delta lands under ths/
    assert os.path.isdir(os.path.join(state, "ths", f"delta={epoch}"))
    view = read_curation_survivors(spark, state)
    n_new = view.filter(F.col("doc_id") > mx).count()
    assert n_new > 0
    assert view.count() == survivors_pre + n_new
    assert not {r["doc_id"] for r in view.collect()} & set(doomed)
    curation_apply_batch(newdocs, 0, state)  # replay
    assert read_curation_survivors(spark, state).count() == survivors_pre + n_new
