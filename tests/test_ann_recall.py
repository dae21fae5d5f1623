"""ANN recall floors: the approximate similarity paths must actually
find a usable fraction of the true neighbors. Both pipelines are fully
deterministic (hash-derived planes / seeded k-means), so these are
stable assertions, not flaky statistical ones."""

from __future__ import annotations

import pytest

from cqlcopy_spark.plans.registry import all_queries
from tests.conftest import SF_MEDIUM

QUERIES = all_queries()


def _pairs(spark, name):
    return {(r["q_id"], r["n_id"]) for r in QUERIES[name](spark, SF_MEDIUM).collect()}


@pytest.mark.parametrize(
    "ann,floor",
    [("similarity_ann_lsh", 0.2), ("similarity_ann_ivf", 0.2)],
)
def test_ann_recall_floor(spark, ann, floor):
    exact = _pairs(spark, "similarity_topk")
    approx = _pairs(spark, ann)
    recall = len(exact & approx) / len(exact)
    assert recall >= floor, f"{ann} recall@{5}={recall:.2f} < {floor}"


def test_blocked_embedding_dedup_recall_and_precision(spark):
    """Cell-blocked near-dup must be a strict SUBSET of the exact
    block-pair answer (within-cell cosines are exact — no false pairs)
    with recall above the floor its 2-cell multi-assignment buys.
    Deterministic end-to-end, so these are stable assertions."""
    exact = {
        (r["v1"], r["v2"])
        for r in QUERIES["dedup_embedding_cosine"](spark, SF_MEDIUM).collect()
    }
    blocked = {
        (r["v1"], r["v2"])
        for r in QUERIES["dedup_embedding_blocked"](spark, SF_MEDIUM).collect()
    }
    assert blocked <= exact  # precision 1.0 by construction
    recall = len(blocked & exact) / len(exact)
    assert recall >= 0.5, f"recall={recall:.2f}"


def test_ann_verify_query_is_empty_and_checker_is_live(spark):
    """similarity_ann_verify must emit ZERO violations on the real
    pipelines — and the checker itself must be LIVE: a planted
    corruption (wrong cosine, shuffled rank, over-k query) produces
    exactly the matching violation rows. An always-empty checker would
    pass the driver trivially; this pins that it cannot."""
    from pyspark.sql import functions as F

    from cqlcopy_spark.operators.similarity import _ann_violations

    assert QUERIES["similarity_ann_verify"](spark, SF_MEDIUM).count() == 0

    exact = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7)],
        "q_id long, n_id long, cosine double",
    )
    # out: pair (1,11) reports a cosine that is NOT the exact value,
    # (1,13) is a pair the exact set doesn't even contain, and the two
    # rank fields are swapped relative to (cosine DESC, n_id) order
    out = spark.createDataFrame(
        [(1, 10, 0.9, 2), (1, 11, 0.81, 1), (1, 13, 0.5, 3)],
        "q_id long, n_id long, cosine double, rank int",
    )
    got = {
        (r["n_id"], r["kind"])
        for r in _ann_violations(out, exact, "x").collect()
    }
    assert (11, "refine_not_exact") in got
    assert (13, "refine_not_exact") in got  # phantom pair
    assert (10, "rank_inconsistent") in got and (11, "rank_inconsistent") in got

    # over-k: 6 rows for one query with K=5
    out6 = spark.createDataFrame(
        [(2, 20 + i, 0.5 - i / 100, i + 1) for i in range(6)],
        "q_id long, n_id long, cosine double, rank int",
    )
    exact6 = out6.select("q_id", "n_id", "cosine")
    got6 = {(r["q_id"], r["kind"]) for r in _ann_violations(out6, exact6, "x").collect()}
    assert got6 == {(2, "over_k")}


@pytest.mark.parametrize("ann", ["similarity_ann_lsh", "similarity_ann_ivf"])
def test_ann_refine_containment_in_duckdb(spark, ann):
    """The DuckDB-side containment twin (r5 VERDICT item 3): DuckDB
    independently brute-forces every exact pair cosine and verifies the
    ANN output is a SUBSET of that pair set at the BITWISE-identical
    cosine — 'rows plausible' upgraded to 'refine provably exact' by an
    engine that shares no code with the Spark pipeline."""
    import duckdb
    import pandas as pd

    out = QUERIES[ann](spark, SF_MEDIUM).toPandas()
    assert len(out) > 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_MEDIUM}/embeddings.parquet'"
    )
    con.register("ann_out", out)
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, len(q.emb) + 1), i -> q.emb[i] * n.emb[i])), "
        "(a, b) -> a + b)"
    )
    bad = con.execute(f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        nn AS (SELECT vec_id, emb,
                      sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(emb, v -> v * v)), (a, b) -> a + b)) AS nrm
               FROM e),
        v AS (SELECT * FROM nn WHERE nrm > 0),
        ex AS (
          SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                 {dot} / (q.nrm * n.nrm) AS cosine
          FROM v q JOIN v n ON n.vec_id != q.vec_id
          WHERE q.vec_id IN (SELECT DISTINCT q_id FROM ann_out)
        )
        SELECT a.q_id, a.n_id, a.cosine, ex.cosine AS exact_cosine
        FROM ann_out a LEFT JOIN ex USING (q_id, n_id)
        WHERE ex.cosine IS NULL OR a.cosine != ex.cosine
    """).fetchall()
    assert bad == [], bad[:5]


def test_neardup_kernel_drops_zero_norm_vectors(spark, tmp_path):
    """All three near-dup ops share one pair kernel: on a corpus with two
    all-zero vectors, an exact-duplicate pair and a scaled-copy pair, no
    output row names a zero-norm id (a zero vector has no cosine — NaN
    would otherwise pass or fail compares engine by engine), both planted
    pairs are in the exhaustive answer, and every blocked pair and every
    semdedup (pruned_by, vec_id) verdict carries the exhaustive cosine
    bit for bit."""
    import numpy as np
    import pandas as pd

    import cqlcopy_spark.operators.similarity as sim

    rng = np.random.default_rng(11)
    X = rng.standard_normal((60, 64)).astype("float32")
    zero = {12, 13}
    for z in zero:
        X[z] = 0.0
    X[21] = X[20]  # exact duplicate
    X[31] = X[30] * np.float32(3.0)  # scaled copy
    pd.DataFrame(
        {"vec_id": np.arange(len(X)), "embedding": list(X),
         "label": np.zeros(len(X), dtype="int32")}
    ).to_parquet(tmp_path / "embeddings.parquet")
    sf = str(tmp_path)

    exact = {
        (r["v1"], r["v2"]): r["cosine"]
        for r in sim.dedup_embedding_cosine(spark, sf).collect()
    }
    blocked = sim.dedup_embedding_blocked(spark, sf).collect()
    sem = sim.dedup_semdedup(spark, sf).collect()

    assert {(20, 21), (30, 31)} <= set(exact), sorted(exact)
    named = {v for p in exact for v in p}
    named |= {r["v1"] for r in blocked} | {r["v2"] for r in blocked}
    named |= {r["vec_id"] for r in sem} | {r["pruned_by"] for r in sem}
    assert not named & zero
    assert len(sem) == len(X) - len(zero)
    assert (20, 21) in {(r["v1"], r["v2"]) for r in blocked}  # same cells
    for r in blocked:
        assert exact.get((r["v1"], r["v2"])) == r["cosine"], r
    pruned = [r for r in sem if not r["keep"]]
    assert pruned
    for r in pruned:
        assert exact.get((r["pruned_by"], r["vec_id"])) == r["prune_cos"], r
