"""curation_takedown_batch / stream_curation_takedown — the
right-to-be-forgotten lifecycle over the streamed curation state:
post-admission masking, content permanence (identical text never
re-enters under any id), no duplicate resurrection, replay idempotence.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def curated(spark):
    """(documents frame, state dir) after the three-slice ingest."""
    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.operators.text import _streamed_curation_state

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text", "n_chars")
    state = _streamed_curation_state(spark, SF_SMALL)
    return d, state


def _survivor_ids(spark, state):
    from cqlcopy_spark.streaming.sinks import read_curation_survivors

    return {r["doc_id"] for r in read_curation_survivors(spark, state).collect()}


def test_takedown_masks_admitted_ids(spark, curated):
    from cqlcopy_spark.streaming.sinks import curation_takedown_batch

    d, state = curated
    before = _survivor_ids(spark, state)
    doomed = sorted(before)[: max(1, len(before) // 5)]
    curation_takedown_batch(
        spark.createDataFrame([(i,) for i in doomed], "doc_id long"), 3, state
    )
    after = _survivor_ids(spark, state)
    assert after == before - set(doomed)


def test_identical_content_stays_out_after_takedown(spark, curated):
    """Content permanence: the admitted-text index is NOT freed by a
    takedown, so the identical text re-delivered under a FRESH doc_id is
    dropped by first-delivery-wins."""
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_takedown_batch,
    )

    d, state = curated
    before = _survivor_ids(spark, state)
    victim = min(before)
    curation_takedown_batch(
        spark.createDataFrame([(victim,)], "doc_id long"), 3, state
    )
    # re-deliver the victim's exact text under a brand-new id
    clone = (
        d.filter(F.col("doc_id") == victim)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "n_chars"
        )
    )
    curation_apply_batch(clone, 4, state)
    after = _survivor_ids(spark, state)
    assert victim + 1_000_000 not in after
    assert after == before - {victim}


def test_new_content_under_taken_down_id_stays_masked(spark, curated):
    """The doc_id mask wins forever: even if genuinely NEW text is
    re-delivered under a taken-down id (an id-discipline violation) and
    admitted into the deltas, the reader never serves it."""
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_takedown_batch,
    )

    d, state = curated
    before = _survivor_ids(spark, state)
    victim = min(before)
    curation_takedown_batch(
        spark.createDataFrame([(victim,)], "doc_id long"), 3, state
    )
    fresh_text = "completely new takedown-test content " * 40
    redelivery = spark.createDataFrame(
        [(victim, fresh_text, len(fresh_text))], "doc_id long, text string, n_chars long"
    )
    curation_apply_batch(redelivery, 4, state)
    assert victim not in _survivor_ids(spark, state)


def test_keeper_takedown_does_not_resurrect_duplicates(spark, curated):
    """Post-admission masking: taking down an md5 keeper must NOT
    promote its duplicate — the duplicate's hash is already in the
    admitted-text index, and the oracle's exclusion sits AFTER rn = 1.
    Uses a synthetic duplicate delivered in a later batch (dropped by
    first-delivery-wins), then takes the keeper down."""
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_takedown_batch,
    )

    d, state = curated
    before = _survivor_ids(spark, state)
    keeper = min(before)
    dup_id = keeper + 2_000_000
    dup = d.filter(F.col("doc_id") == keeper).select(
        F.lit(dup_id).alias("doc_id"), "text", "n_chars"
    )
    curation_apply_batch(dup, 4, state)  # dropped: hash already admitted
    assert dup_id not in _survivor_ids(spark, state)
    curation_takedown_batch(
        spark.createDataFrame([(keeper,)], "doc_id long"), 5, state
    )
    after = _survivor_ids(spark, state)
    assert keeper not in after
    assert dup_id not in after  # no resurrection
    assert after == before - {keeper}


def test_takedown_replay_idempotent(spark, curated):
    from cqlcopy_spark.streaming.sinks import curation_takedown_batch

    d, state = curated
    doomed = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    curation_takedown_batch(doomed, 3, state)
    delta = os.path.join(state, "takedowns", "delta=3")
    first = {r["doc_id"] for r in spark.read.parquet(delta).collect()}
    curation_takedown_batch(doomed, 3, state)  # replay
    second = {r["doc_id"] for r in spark.read.parquet(delta).collect()}
    assert first == second == {1, 2, 3}


def test_takedown_of_never_admitted_ids_is_a_view_noop(spark, curated):
    """Taking down ids that were never admitted is legal and must leave
    the survivor view exactly as it was — the mask only ever REMOVES
    admitted rows, it cannot perturb unrelated ones."""
    from cqlcopy_spark.streaming.sinks import curation_takedown_batch

    d, state = curated
    before = _survivor_ids(spark, state)
    ghosts = [max(before) + 5_000_000 + i for i in range(3)]
    assert not set(ghosts) & before
    curation_takedown_batch(
        spark.createDataFrame([(g,) for g in ghosts], "doc_id long"), 3, state
    )
    assert _survivor_ids(spark, state) == before


def test_takedown_free_state_keeps_plain_union_plan(spark, curated):
    """No takedowns dir → read_curation_survivors returns the plain
    union, byte for byte (no vestigial anti-join node)."""
    from cqlcopy_spark.streaming.sinks import read_curation_survivors
    from tests.test_plans import plan_of

    d, state = curated
    p = plan_of(read_curation_survivors(spark, state))
    assert "Join" not in p, p


def test_curation_vacuum_prunes_and_preserves_view(spark, curated):
    """curation_vacuum = the shared state_log.vacuum discipline on
    (survivors, takedowns): masked rows physically pruned, reader view
    bitwise unchanged, raw deltas retained, re-run a no-op."""
    from cqlcopy_spark.streaming.sinks import (
        TAKEDOWNS,
        curation_takedown_batch,
        curation_vacuum,
        read_curation_survivors,
    )
    from cqlcopy_spark.streaming.state_log import compact_versions, delta_ids, read_view

    d, state = curated
    before = _survivor_ids(spark, state)
    doomed = sorted(before)[: max(1, len(before) // 4)]
    curation_takedown_batch(
        spark.createDataFrame([(i,) for i in doomed], "doc_id long"), 3, state
    )
    view_before = {
        tuple(r) for r in read_curation_survivors(spark, state).collect()
    }
    # r17 single-write layout: the raw survivor deltas ARE the ths
    # admitted-row deltas
    raw_deltas_before = delta_ids(os.path.join(state, "ths"), 1 << 62)

    n = curation_vacuum(spark, state)
    assert n == len(doomed)  # every doomed id was an admitted survivor
    # physical pruning: the compacted survivors carry no doomed id
    surv_root = os.path.join(state, "survivors")
    vid = compact_versions(surv_root)[-1]
    phys = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(surv_root, "compact", f"v={vid}")
        ).collect()
    }
    assert phys.isdisjoint(doomed)
    # reader view bitwise unchanged; takedown mask emptied
    view_after = {
        tuple(r) for r in read_curation_survivors(spark, state).collect()
    }
    assert view_after == view_before
    assert (
        read_view(spark, TAKEDOWNS, state).count()
        == 0
    )
    # raw deltas retained as replay truth
    assert delta_ids(os.path.join(state, "ths"), 1 << 62) == raw_deltas_before
    # idempotent no-op re-run
    assert curation_vacuum(spark, state) == 0


def test_takedown_mask_compaction_cadence_bounds_reader_file_set(spark, curated):
    """r15 VERDICT item 4 / r16 item 3: the takedown MASK root rides the
    same COMPACT_EVERY cadence as the data roots (the shared
    state_log.write_mask kernel compacts it on the write path — one code
    path for the curation AND minhash masks), so a reader between
    vacuums resolves ONE compacted mask dir plus a bounded tail, never
    a file set growing with lifetime takedown batches. Nine takedown
    batches against one curated state: the mask compacts, raw deltas
    survive as replay truth, the masked view equals the union of all
    nine batches, and the reader's resolved file set is bounded."""
    from cqlcopy_spark.streaming.sinks import TAKEDOWNS, curation_takedown_batch
    from cqlcopy_spark.streaming.state_log import (
        COMPACT_EVERY,
        compact_versions,
        delta_ids,
        resolve,
    )

    d, state = curated
    before = sorted(_survivor_ids(spark, state))
    assert len(before) >= 9
    doomed_by_batch = [before[i::9][:2] for i in range(9)]
    for b, ids in enumerate(doomed_by_batch):
        curation_takedown_batch(
            spark.createDataFrame([(i,) for i in ids], "doc_id long"),
            3 + b,
            state,
        )
    td_root = os.path.join(state, "takedowns")
    vs = compact_versions(td_root)
    assert vs and vs[-1] >= 3 + COMPACT_EVERY  # the cadence fired
    assert len(vs) == 1  # superseded mask compactions deleted
    # raw mask deltas all retained (replay truth / provenance)
    assert delta_ids(td_root, 1 << 62) == list(range(3, 12))
    # what the NEXT batch's read resolves: one compact dir + a tail
    # bounded by the cadence, not by the 9 batches on disk
    paths = sum(resolve(TAKEDOWNS, state, 12), [])
    tail = [p for p in paths if "delta=" in p]
    assert len(paths) == 1 + len(tail) and len(tail) <= COMPACT_EVERY
    # the masked view is exactly the cumulative exclusion
    doomed_all = {i for ids in doomed_by_batch for i in ids}
    assert _survivor_ids(spark, state) == set(before) - doomed_all
