"""1 GB-driver-heap smoke (r8 VERDICT item 6; CLAUDE.md invariant).

The grading harness runs a DEFAULT driver heap (the verify session sets
no driver-memory config → JVM default 1g), while session_builder's
tests run at 8g — bpe_verify once OOMed exactly in that gap by
materializing an 8-level merge-fold lineage per violation branch. Every
round's NEW heavy-lineage ops must therefore complete under the
driver's exact session shape, not just the test session's.

This spawns a fresh subprocess (driver memory is fixed at JVM launch —
an existing session can't be re-shrunk) with the verify skill's session
config and runs the r8-new heavy ops end-to-end at the driver's sf0.01,
collecting results the way the driver's hash compare does.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_MEDIUM

_ENTRY = str(Path(__file__).resolve().parents[1] / "__spark_entry__.py")

# the r8-new ops VERDICT flagged for this smoke (heavy lineage: clustered
# cosine verdicts, corpus-wide span argmin, sequential micro-batch LSH
# probe, multi-gate funnel reusing four ops' expressions) PLUS every
# r9-new heavy-lineage op — the invariant is "every NEW heavy op runs
# under the driver's exact 1g session", so this list grows each round
HEAVY_OPS = [
    "dedup_semdedup",
    "dedup_spans",
    "stream_minhash_incremental",
    "curation_funnel",
    # r9: persisted corpus-wide window explosion + LOCF scan
    "dedup_substrings",
    # r9: per-iteration driver collects, double-persisted corpus,
    # 8x64-literal JVM distance folds in the verifier
    "embedding_kmeans_verify",
    # r9: unhinted node joins (the heavier of the two pages variants)
    "graph_triangles_pages",
    # r9 late additions: full-corpus minhash signatures + gram-hash
    # array re-attach verify join (the lineage family that OOMed
    # bpe_verify's class), and the posting-list retrieval fold
    "contamination_neardup",
    "bm25_retrieval",
    # r10 assessment: the round's new ops (epoch_reshuffle,
    # domain_upsample) are single-window / map+explode lineages with no
    # persist, no collect, no iterative fold — below this list's
    # heavy-lineage bar. epoch_reshuffle is included anyway as the
    # round's representative (doc-count × epochs window ranks are the
    # largest r10-new intermediate).
    "epoch_reshuffle",
    # r11: gained a persisted shared intermediate + histogram-cutoff
    # broadcast (prefilter-before-window rewrite)
    "token_budget_select",
    # r11: corpus char-window explode + broadcast bench join + distinct
    # agg, then an anti join on top — the round's heaviest new lineage
    "contamination_excise",
    # r11: Arrow encode + the 128-fold SQL-text distance recompute with
    # filtered-array explode (the verify-twin lineage family)
    "embedding_pq_verify",
    # r12: ADC search — train+encode lineage feeding a second Arrow
    # stage (per-partition top-CAND state) plus the brute-force exact
    # pair recompute in the verify twin (persisted three-branch check)
    "embedding_pq_search_verify",
    # r12: three-gate union — two broadcast bench indexes + the
    # persisted minhash band probe in one plan
    "decontamination_report",
    # r12: composed IVF+PQ — coarse train + residual encode + masked ADC
    # lineage, then the brute-force exact recompute in the verify twin
    "similarity_ivfpq_verify",
    # r12 eval metrics (classifier_eval_auc / classifier_calibration)
    # are map + two-level aggregate lineages with no persist/collect —
    # below the heavy bar; AUC included as the round's representative
    # (its window + rollup is the largest new intermediate)
    "classifier_eval_auc",
    # r12 persist-bearing lineages (review finding): the persisted
    # Q×N ranked-sims relation feeding two branches, and the persisted
    # BM25 corpus + dense NLJ half composed in one plan
    "triplet_mining",
    "rag_hybrid_retrieval",
    # r12: iterative driver-collect lineage (histogram narrowing with a
    # persisted value column) — the kmeans-class pattern
    "order_statistic_select",
    # r12 capstone: two token folds + md5 dedup join + pack window in
    # one plan — the round's heaviest composition
    "pipeline_pretrain_pack",
    # r13: persisted-index build (train + 3 Arrow encodes + parquet
    # state) PLUS the one-shot full-corpus re-encode and full-outer
    # parity joins in one driver session — the round's heaviest lineage
    "similarity_index_verify",
    # r13: three serial gate+keeper micro-batches over persisted state
    # feeding the shared pack kernel (the streamed capstone)
    "stream_curation_apply",
    # r13: the full index lifecycle — build + 3 Arrow encodes + delete +
    # poisoned re-adds + one-shot survivor re-encode + raw-delta
    # provenance joins in one session
    "similarity_index_delete_verify",
    # r14: the delete lifecycle PLUS a corpus-sized view snapshot write,
    # the vacuum's anti-join rewrite, two searches and four exceptAll
    # drift families in one session — the round's heaviest lineage
    "similarity_index_vacuum_verify",
    # r14: persisted-index build + search + the Q×N exact ranking and
    # two persisted ≤Q×k metric inputs in one plan (the promotion gate)
    "similarity_index_eval",
    # r14: the streamed-capstone lifecycle plus a takedown delta and the
    # masked-view pack (stream_curation_apply's cost class + one batch)
    "stream_curation_takedown",
    # r15: the takedown lifecycle PLUS the corpus-sized vacuum rewrite
    # (anti-join + repartition + both compaction swaps) in one session
    "stream_curation_vacuum",
    # r15: the streamed lifecycle with the per-batch decontamination
    # probe armed (batch char-window explode + broadcast eval join per
    # micro-batch) — and its one-shot twin composing the excision
    # anti-join atop the capstone's two token folds + dedup + pack
    "stream_curation_decontam",
    "pipeline_pretrain_pack_decontam",
    # r15: two-slice ingest + takedown + epoch-bumped vacuum + resumed
    # batch-0 ingest + pack — the epoch lever's full lifecycle
    "stream_curation_epoch_resume",
    # r15: full trunk lifecycle + three as-of compaction rewrites (the
    # fork) + a branch ingest batch + pack in one session
    "stream_curation_branch",
    # r15: the delete lifecycle TWICE over (trunk + forked branch with
    # the final batch re-encoded) + two full-row exceptAll diffs
    "similarity_index_branch_verify",
    # r15: the full minhash streamed lifecycle + the three-root vacuum
    # (two corpus-sized count jobs + three clustered rewrites) + the
    # double-masked pair read in one session
    "stream_minhash_vacuum",
]

_SCRIPT = r"""
import importlib.util, sys
entry, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
spec = importlib.util.spec_from_file_location('__spark_entry__', entry)
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
# EXACTLY the verify/driver session: local[8], shuffle 8, NO driver-memory
spark = (SparkSession.builder.master('local[8]')
         .config('spark.sql.shuffle.partitions', '8')
         .config('spark.sql.session.timeZone', 'UTC')
         .config('spark.ui.enabled', 'false').getOrCreate())
heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
assert heap < 1.2 * 1024**3, f'driver heap {heap} is not the default ~1g'
qs = mod.queries()
for name in names:
    rows = qs[name](spark, sf_dir).collect()
    print(name, 'rows:', len(rows), flush=True)
spark.stop()
print('HEAP_SMOKE_OK')
"""


def test_heavy_ops_complete_at_default_driver_heap():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, _ENTRY, SF_MEDIUM, *HEAVY_OPS],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "HEAP_SMOKE_OK" in proc.stdout
    for name in HEAVY_OPS:
        assert f"{name} rows:" in proc.stdout
