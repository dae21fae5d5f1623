"""Streaming decontamination gate (r14 VERDICT item 6) + the
driver-checked curation vacuum entry (item 5): the live curation ingest
gains the eval-contamination excision the one-shot capstone family has,
and the batch/stream twins must produce the identical relation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_stream_decontam_hash_equals_batch_twin(spark):
    """The headline contract: the streamed decontaminated ingest packs
    to EXACTLY the one-shot decontaminated capstone's relation (the
    stream_curation_apply == pipeline_pretrain_pack precedent)."""
    from cqlcopy_spark.operators.text import (
        pipeline_pretrain_pack_decontam,
        stream_curation_decontam,
    )

    assert _rows(stream_curation_decontam(spark, SF_SMALL)) == _rows(
        pipeline_pretrain_pack_decontam(spark, SF_SMALL)
    )


def test_decontam_gate_drops_flagged_and_bench_docs(spark):
    """Membership rule parity with contamination_excise: no admitted
    survivor is a bench doc or shares a verbatim char window with one."""
    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.operators.text import (
        _bench_split,
        _streamed_curation_state,
        _substring_pairs,
    )
    from cqlcopy_spark.streaming.sinks import read_curation_survivors

    state = _streamed_curation_state(spark, SF_SMALL, decontam=True)
    surv = read_curation_survivors(spark, state)
    d = table(spark, SF_SMALL, "documents")
    bench_docs, _ = _bench_split(d)
    flagged = _substring_pairs(d).select("doc_id")
    assert surv.join(bench_docs, "doc_id", "left_semi").count() == 0
    assert surv.join(flagged, "doc_id", "left_semi").count() == 0


def test_decontam_free_state_is_unchanged(spark):
    """Without the eval index the kernel is byte-identical to before:
    the gate arms only when eval_windows exists (no vestigial join, no
    behavior change for every existing state dir)."""
    from cqlcopy_spark.operators.text import _streamed_curation_state
    from cqlcopy_spark.streaming.sinks import read_curation_survivors

    plain = _streamed_curation_state(spark, SF_SMALL)
    armed = _streamed_curation_state(spark, SF_SMALL, decontam=True)
    n_plain = read_curation_survivors(spark, plain).count()
    n_armed = read_curation_survivors(spark, armed).count()
    # the armed ingest admits strictly fewer docs (something is flagged
    # at this SF — the gate is live, not vacuous)
    assert n_armed < n_plain


def test_half_written_eval_index_fails_loudly(spark, tmp_path):
    """A crashed decontamination_index_write leaves eval_windows/ with no
    _SUCCESS (here: only the committer's _temporary/). The gate must not
    arm over the few or no windows it holds and admit contaminated docs:
    the kernel raises and names the writer to re-run."""
    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.streaming.sinks import curation_apply_batch

    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, "eval_windows", "_temporary", "0"))
    d = table(spark, SF_SMALL, "documents").select("doc_id", "text", "n_chars")
    with pytest.raises(ValueError, match="decontamination_index_write"):
        curation_apply_batch(d, 0, state)


def test_decontam_flag_is_slice_invariant(spark):
    """Flag decisions are per-document pure functions, so a re-sliced
    ingest (different batch boundaries) admits the identical survivor
    set."""
    import atexit
    import shutil
    import tempfile

    from cqlcopy_spark.catalog import table
    from cqlcopy_spark.operators.text import _bench_split
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        decontamination_index_write,
        read_curation_survivors,
    )

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text", "n_chars")
    mx = d.agg(F.max("doc_id")).first()[0] or 0

    def ingest(cuts):
        state = tempfile.mkdtemp(prefix="decontam_slice_state_")
        atexit.register(shutil.rmtree, state, ignore_errors=True)
        decontamination_index_write(_bench_split(d)[0], state)
        lo = -(1 << 62)
        for b, hi in enumerate(list(cuts) + [1 << 62]):
            curation_apply_batch(
                d.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi)),
                b,
                state,
            )
            lo = hi
        return {
            r["doc_id"]
            for r in read_curation_survivors(spark, state).collect()
        }

    assert ingest([mx // 3, 2 * (mx // 3)]) == ingest([mx // 5, mx // 2])


def test_stream_curation_vacuum_matches_takedown_view(spark):
    """r14 VERDICT item 5: the vacuum between takedown and pack is
    reader-view INVARIANT — the registered op's relation equals
    stream_curation_takedown's (same oracle SQL; asserted engine-side
    here too)."""
    from cqlcopy_spark.operators.text import (
        stream_curation_takedown,
        stream_curation_vacuum,
    )

    assert _rows(stream_curation_vacuum(spark, SF_SMALL)) == _rows(
        stream_curation_takedown(spark, SF_SMALL)
    )
