"""Similarity search over embeddings (SURVEY.md §2C op 31 + ANN extension).

Two paths, mirroring how a production vector pipeline is built:

- `similarity_topk` — exact brute force for a SMALL query set: broadcast
  the Q query vectors, one streaming pass over the N corpus vectors,
  per-query top-k via window. At 100 TB this is the right plan when
  Q is small (the corpus is scanned once, never shuffled; only Q×k rows
  survive to the window). Fully oracle-checked: the dot product is a
  sequential left-to-right fold in BOTH engines, so doubles match
  bitwise.

- `similarity_ann_lsh` — the scale path for large Q or all-pairs:
  random-hyperplane (SimHash-for-cosine) signatures bucket the corpus;
  candidates only join within a bucket. Hyperplane components are
  derived from md5 bits — deterministic, no runtime randomness — but not
  expressible in DuckDB, and ANN recall < 1 by design ⇒ rows-only check.

The exact path is pure JVM higher-order array functions; the LSH
signature stage is an Arrow-batched matmul kernel (one BLAS call per
batch — the interpreted-lambda formulation was ~100× slower per row;
see _lsh_banded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col
from pyspark.sql.window import Window

from cqlcopy_spark.catalog import table
from cqlcopy_spark.plans.registry import register

_N_QUERIES = 8  # vec_id < 8 are the query vectors
_TOP_K = 5


def _dot(x, y):
    """Sequential fold — matches DuckDB's list_reduce order exactly."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def _emb_double(c):
    return col(c).cast("array<double>")


def _emb_matrix(vecs) -> "np.ndarray":
    """(n, d) float64 matrix of n equal-length vectors, cut from ONE
    flattened buffer instead of n per-row arrays stacked. Bit-identical
    to the per-row stack; raises on n == 0 like np.stack."""
    import numpy as np

    vecs = list(vecs)
    flat = np.asarray(np.concatenate(vecs), dtype=np.float64)
    return flat.reshape(len(vecs), len(vecs[0]))


def _seq_norm(X: "np.ndarray") -> "np.ndarray":
    """Per-row L2 norms of an (n, d) matrix: squares summed dimension-
    ascending, then sqrt — the JVM `_dot` / DuckDB list_reduce order, so
    every numpy-side norm is bitwise the engines' norm."""
    import numpy as np

    acc = np.zeros(X.shape[0])
    for k in range(X.shape[1]):
        acc += X[:, k] * X[:, k]
    return np.sqrt(acc)


def _corpus_rows(sf_dir: str, e: DataFrame) -> int:
    """Embeddings row count for sizing only: the parquet footer (exact,
    no Spark job; guide §6), `e.count()` for tables without one."""
    from cqlcopy_spark.catalog import parquet_table_rows

    n = parquet_table_rows(sf_dir, "embeddings")
    return e.count() if n is None else n


def _sized_scan(e: DataFrame, n: int) -> DataFrame:
    """`e` repartitioned to the corpus: one Arrow batch handles ~20k
    vectors fine, so a tiny bench corpus stays on one Python worker
    while a cluster-scale corpus fans out to every core."""
    par = e.sparkSession.sparkContext.defaultParallelism
    return e.repartition(max(1, min(par, n // 20_000 + 1)))


_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len({x}) + 1), i -> {x}[i] * {y}[i])), (a, b) -> a + b)"
)


def _sql_dot(x: str, y: str) -> str:
    return _DOT_SQL.format(x=x, y=y)


# The e→n0→n→q→sims→ranked CTE chain is the ORACLE twin of _ranked_sims
# — ONE definition shared by _TOPK_ORACLE and _triplet_oracle, mirroring
# the Spark-side factoring (a drift in any copy silently breaks the
# dependent op's driver hash while similarity_topk still passes).
_SQL_RANKED_CTES = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
n0 AS (SELECT vec_id, emb, sqrt({_sql_dot('emb', 'emb')}) AS nrm FROM e),
n AS (SELECT * FROM n0 WHERE nrm > 0),
q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < {_N_QUERIES}),
sims AS (
  SELECT q.q_id, n.vec_id AS n_id,
         {_sql_dot('q.q_emb', 'n.emb')} / (q.q_nrm * n.nrm) AS cosine
  FROM q CROSS JOIN n
  WHERE n.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
  FROM sims
)"""

_TOPK_ORACLE = f"""
WITH {_SQL_RANKED_CTES}
SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {_TOP_K}
"""


@register("similarity_topk", oracle=_TOPK_ORACLE)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for {Q} query vectors against the corpus.
    Physical shape: broadcast-nested-loop of Q (tiny) × corpus scan —
    the corpus is read once and never shuffled; the window sees ≤ Q × N
    rows but AQE keeps partitions balanced and only Q × k rows survive."""
    return _dense_topk(spark, sf_dir)


def _dense_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity_topk's exact relation, factored so the dense half of
    rag_hybrid_retrieval is the standalone op's expression verbatim (the
    same no-drift treatment as text._bm25_corpus on the lexical half)."""
    return (
        _ranked_sims(spark, sf_dir)
        .filter(col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


def _ranked_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full per-query exact-cosine ranking (every non-self, non-zero-norm
    corpus vector), shared by _dense_topk (rank ≤ k) and triplet_mining
    (positives at rank 1, negatives beyond rank k)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    # zero-norm (all-zero) vectors have no cosine: 0/0 is NaN, which
    # Spark ORDERS ABOVE every real value while DuckDB does not — exclude
    # them on BOTH sides (oracle mirrors with WHERE nrm > 0)
    n = e.withColumn("nrm", F.sqrt(_dot(col("emb"), col("emb")))).filter(
        col("nrm") > 0
    )
    q = (
        n.filter(col("vec_id") < _N_QUERIES)
        .select(
            col("vec_id").alias("q_id"),
            col("emb").alias("q_emb"),
            col("nrm").alias("q_nrm"),
        )
    )
    sims = (
        n.join(broadcast(q), col("vec_id") != col("q_id"))
        .select(
            "q_id",
            col("vec_id").alias("n_id"),
            (_dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(col("cosine").desc(), col("n_id"))
    return sims.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# ANN: random-hyperplane LSH buckets
# ---------------------------------------------------------------------------

# (m=5, L=6) tuned for a hard corpus (near-random embeddings, top cosine
# ≈ 0.5): per-plane agreement p ≈ 2/3 at 60° gives table hit p^5 ≈ 0.13,
# recall ≈ 1-(1-0.13)^6 ≈ 0.57 for the best neighbor at ~19% candidate
# volume. Easy corpora (planted near-dups at cosine ≥ 0.9) allow far
# stingier settings.
_N_PLANES = 5  # per table: 32 buckets
_N_TABLES = 6  # independent tables; a neighbor need collide in only one


_EMB_DIM = 64  # fixture embedding dimension (FIXTURES.md)


def _plane_signs(p: int) -> list[float]:
    """Deterministic ±1 sign vector for hyperplane p — computed ONCE on
    the driver (md5 bits), embedded as literals. The signs are row-
    independent constants; deriving them with runtime hash expressions
    would cost planes×dim hash calls per row for identical output."""
    import hashlib

    digest = hashlib.md5(f"plane:{p}".encode()).digest() * ((_EMB_DIM // 128) + 2)
    bits = int.from_bytes(digest[: _EMB_DIM // 8 + 1], "big")
    return [1.0 if (bits >> i) & 1 else -1.0 for i in range(_EMB_DIM)]


def _lsh_banded(e: DataFrame) -> DataFrame:
    """(vec_id, emb, nrm, t, sig): one m-bit hyperplane signature per
    table, already exploded to one row per (vector, table). Multi-table
    is the standard recall lever for hyperplane LSH — recall ≈
    1 - (1 - p^m)^L for per-plane agreement probability p.

    Computed as ONE Arrow-batched matmul: (batch × dim) @ (dim ×
    planes·tables), sign-threshold, bit-pack per table. The earlier
    all-builtin formulation (30 aggregate(zip_with) folds per row) was
    ~1.8 ms/row because higher-order lambdas are interpreted per
    element — the vectorized kernel is the same math at BLAS speed,
    and signature determinism is unchanged run-to-run (fixed plane
    matrix, fixed batch math). The norm rides along with the SAME
    sequential per-dimension accumulation as the JVM fold, so the
    exact-cosine verify downstream is bit-identical to _dot."""
    import numpy as np
    import pandas as pd

    S = np.stack(
        [_plane_signs(p) for p in range(_N_PLANES * _N_TABLES)], axis=1
    )  # (dim, planes·tables)
    weights = 2 ** np.arange(_N_PLANES, dtype=np.int64)
    n_tables, n_planes = _N_TABLES, _N_PLANES

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _emb_matrix(pdf["emb"])
            nrm = _seq_norm(X)
            bits = (X @ S > 0).astype(np.int64).reshape(len(pdf), n_tables, n_planes)
            sigs = (bits * weights[None, None, :]).sum(axis=2)  # (n, tables)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_tables),
                    "emb": np.repeat(pdf["emb"].to_numpy(), n_tables),
                    "nrm": np.repeat(nrm, n_tables),
                    "t": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "sig": sigs.reshape(-1),
                }
            )

    par = e.sparkSession.sparkContext.defaultParallelism
    return e.repartition(par).mapInPandas(
        kernel, schema="vec_id long, emb array<double>, nrm double, t int, sig long"
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs
# ---------------------------------------------------------------------------

_NEARDUP_COS = 0.4  # this corpus has no planted dups; threshold sits at the top tail

_NEARDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
n0 AS (SELECT vec_id, emb, sqrt({_sql_dot('emb', 'emb')}) AS nrm FROM e),
n AS (SELECT * FROM n0 WHERE nrm > 0)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       {_sql_dot('a.emb', 'b.emb')} / (a.nrm * b.nrm) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {_sql_dot('a.emb', 'b.emb')} / (a.nrm * b.nrm) >= {_NEARDUP_COS}
"""
# ^ nrm > 0 in the ORACLE too: a zero-norm vector has no cosine, and the
# two engines would otherwise DISAGREE on it — the numpy kernel's NaN
# fails every >= compare (pair dropped) while DuckDB orders NaN above
# all values (pair kept). Every embedding operator applies this filter
# on both sides for exactly that reason.


_BLOCK_ROWS = 8_192  # target rows per block; 8k×64 doubles ≈ 4 MB per side


@register("dedup_embedding_cosine", oracle=_NEARDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs cosine near-dup over embeddings (v1 < v2,
    cosine ≥ threshold). Physical shape: block-pair decomposition —
    vectors hash into B ≈ ⌈N/8k⌉ blocks, the B(B+1)/2 block PAIRS are a
    tiny broadcast table, each vector is replicated to the pairs its
    block participates in (shuffle volume N·(B+1) rows — the inherent
    cost of exact all-pairs), and one applyInPandas task per block pair
    runs a numpy dgemm on two ≤8k-row matrices. NOTHING is ever
    materialized on the driver (the r03 verdict's scale-killer): at
    100 TB this is B² bounded-size tasks on executors; the LSH
    prefilter (similarity_ann_lsh's bucketing) is the sub-quadratic
    option when recall < 1 is acceptable.

    Each block pair runs the shared `_neardup_pairs` kernel (dgemm
    prefilter, exact left-to-right re-fold of the margin survivors), so
    the output is bit-identical to folding every pair, at ~1/d of the
    arithmetic."""
    raw = table(spark, sf_dir, "embeddings")
    n = _corpus_rows(sf_dir, raw)  # block sizing only
    # Block count: enough blocks that (a) blocks fit executor memory
    # (N/8k term — dominates at production row counts), (b) the
    # B(B+1)/2 block-pair tasks at least fill the cluster (small-corpus
    # term; replication cost N·(B+1) is trivial exactly when this term
    # wins), and (c) B ≥ 2 so the off-diagonal kernel path is always
    # exercised.
    par = spark.sparkContext.defaultParallelism
    b_par = 2
    while b_par * (b_par + 1) // 2 < par:
        b_par += 1
    n_blocks = max(2, b_par, -(-n // _BLOCK_ROWS))
    e = raw.select("vec_id", _emb_double("embedding").alias("emb")).withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    )

    # Block-pair table: (pid, i, j) for i ≤ j, pid = i·B + j (unique is
    # all that matters). Built from spark.range — all JVM, no
    # driver-list conversion (createDataFrame on a Python list cost
    # ~0.5 s of the fixture wall-time). B(B+1)/2 rows — at 100 TB with
    # 8k-row blocks over 10^9 vectors this is the one piece that grows
    # quadratically; that is the all-pairs problem itself, not this
    # plan (cut N first with LSH if B² tasks is too many).
    pairs = (
        spark.range(n_blocks * n_blocks)
        .select(
            col("id").alias("pid"),
            (col("id") / n_blocks).cast("int").alias("i"),
            F.pmod(col("id"), n_blocks).cast("int").alias("j"),
        )
        .filter(col("i") <= col("j"))
    )
    # Membership table (pid, blk, side): each pair claims block i as its
    # left/both side and block j (off-diagonal only) as its right side.
    # ONE broadcast join replicates each vector to its pairs in a single
    # corpus scan — two per-side joins would scan the parquet twice.
    mem = (
        pairs.select(
            "pid",
            col("i").alias("blk"),
            F.when(col("i") == col("j"), "B").otherwise("L").alias("side"),
        )
        .unionByName(
            pairs.filter(col("i") != col("j")).select(
                "pid", col("j").alias("blk"), F.lit("R").alias("side")
            )
        )
    )
    both = e.join(broadcast(mem), "blk").select("pid", "vec_id", "emb", "side")

    def block_pair(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if (pdf["side"] == "B").any():
            return _neardup_pairs(pdf)
        return _neardup_pairs(pdf[pdf["side"] == "L"], right=pdf[pdf["side"] == "R"])

    return both.groupBy("pid").applyInPandas(block_pair, schema=_PAIR_SCHEMA)


_PAIR_SCHEMA = "v1 long, v2 long, cosine double"


def _neardup_pairs(left, *, right=None):
    """The near-dup pair kernel of every embedding dedup op: (v1, v2,
    cosine) with v1 < v2 and cosine >= _NEARDUP_COS over the (vec_id,
    emb) rows of ONE frame (a cell or a diagonal block: each unordered
    pair once) or of TWO disjoint frames (an off-diagonal block: every
    cross pair). `right` is keyword-only and the signature carries no
    type hints, so the function passes straight to applyInPandas as a
    one-argument grouped-map kernel.

    Zero-norm vectors are dropped EXPLICITLY: they have no cosine, and
    the oracles filter nrm > 0 (NaN fails every numpy compare while
    DuckDB orders NaN above all values — a divergence trap). A BLAS
    matmul prefilter scores every pair, then only pairs within a 1e-6
    margin of the threshold are re-scored with the exact left-to-right
    IEEE fold DuckDB's list_reduce performs, vectorized across the
    candidates. |BLAS − seq fold| ≤ d·ε·Σ|xᵢyᵢ| ≈ 1e-14 relative at
    d=64, so the margin cannot drop a true candidate and every emitted
    cosine is bit-identical to folding every pair. The fold multiplies
    operands elementwise in index order, which is operand-symmetric, so
    block sidedness never changes the emitted double."""
    import numpy as np
    import pandas as pd

    if not len(left) or (right is not None and not len(right)):
        return pd.DataFrame(
            {"v1": pd.Series(dtype="int64"), "v2": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )

    def nonzero(pdf):
        X = _emb_matrix(pdf["emb"])
        nrm = _seq_norm(X)
        ok = nrm > 0
        return X[ok], pdf["vec_id"].to_numpy()[ok], nrm[ok]

    X, xid, nx = nonzero(left)
    Y, yid, ny = (X, xid, nx) if right is None else nonzero(right)
    denom = nx[:, None] * ny[None, :]
    approx = (X @ Y.T) / denom
    # one frame: the upper triangle by id; two disjoint frames: all pairs
    pair_ok = (
        xid[:, None] < yid[None, :] if right is None else xid[:, None] != yid[None, :]
    )
    i, j = np.nonzero((approx >= _NEARDUP_COS - 1e-6) & pair_ok)
    acc = np.zeros(len(i))
    Xi, Yj = X[i], Y[j]
    for k in range(X.shape[1]):
        acc += Xi[:, k] * Yj[:, k]
    cos = acc / denom[i, j]
    keep = cos >= _NEARDUP_COS
    a, b = xid[i][keep], yid[j][keep]
    return pd.DataFrame(
        {"v1": np.minimum(a, b), "v2": np.maximum(a, b), "cosine": cos[keep]}
    )


_IVF_CELLS = 16
_IVF_NPROBE = 2


_IVF_TRAIN_CAP = 20_000  # max sample rows for driver-side centroid training
_IVF_ITERS = 8


def _train_sample(e: DataFrame, cap: int) -> list:
    """Capped driver-side training sample: the `cap` smallest
    portable_token multiplicative-hash rows of (vec_id, emb) —
    seedless, reproducible, spread across the id space — returned
    vec_id-SORTED so every row-order accumulation downstream (strided
    init, np.mean) is independent of the scan layout (r11 ADVICE).

    This replaces the pmod-stride filter all five training sites used
    through r13 (`filter(pmod(vec_id, stride) == 0).collect()`): on a
    fixed-residue id space — an all-odd sharded/snowflake id sequence
    with an even stride, a perfectly realistic production id scheme —
    residue class 0 is EMPTY (or garbage-small) and training died at
    np.stack([]). The hash-TakeOrdered form can never come back empty:
    any n >= 1 yields min(n, cap) rows (the r11 k-means recipe,
    similarity.py _kmeans_fit; r13 VERDICT item 2). Physical plan is
    TakeOrderedAndProject(cap), never a global sort; the hash is
    overflow-free via portable_token's 16-bit decomposition
    (CLAUDE.md int64 rule). Pinned on an all-odd snowflake-scale id
    fixture in tests/test_train_sample.py."""
    from cqlcopy_spark.functions.portable import portable_token

    sample = (
        e.orderBy(portable_token(col("vec_id")), "vec_id").limit(cap).collect()
    )
    sample.sort(key=lambda r: r["vec_id"])
    return sample


def _train_centroids(sample: "list", cells: int) -> "object":
    """Deterministic Lloyd's k-means on a driver-side sample — the
    standard IVF training recipe (FAISS trains coarse quantizers on an
    in-memory sample too; distributing the fit buys nothing because the
    sample is capped)."""
    return _lloyd(_emb_matrix(r["emb"] for r in sample), cells, _IVF_ITERS)


def _lloyd(X: "object", k: int, iters: int) -> "object":
    """Driver-side Lloyd's k-means over the rows of X, shared by the IVF
    coarse quantizer and every PQ subspace: init = evenly-strided rows
    (seedless, reproducible), first-minimum argmin, empty cells keep
    their previous centroid — deterministic for a given X, so a verify
    twin's re-train reproduces the same float64 centroids bit for bit."""
    import numpy as np

    C = X[(np.arange(k) * len(X)) // k].copy()
    xx = (X * X).sum(axis=1)
    for _ in range(iters):
        # argmin of |x-c|² == argmin of |c|² - 2x·c  (matmul form: O(N·C·D)
        # flops through BLAS instead of materializing an N×C×D broadcast)
        d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T) + xx[:, None]
        a = d2.argmin(axis=1)
        for c in range(k):
            m = a == c
            if m.any():
                C[c] = X[m].mean(axis=0)
    return C


def _probe_cells(coarse: "object", x: "object") -> "list":
    """The _IVF_NPROBE cells whose centroids are nearest to query x, as
    ints — the probe list of every IVF search."""
    import numpy as np

    d2 = ((coarse - x) ** 2).sum(axis=1)
    return [int(c) for c in np.argsort(d2)[:_IVF_NPROBE]]


@register("similarity_ann_ivf")  # rows-only: ANN recall < 1 by design
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: k-means cells replace the hash buckets of
    similarity_ann_lsh — the learned-partition variant of the same join
    shape. Corpus vectors are assigned to their nearest of {cells}
    centroids; each query probes its {nprobe} nearest cells; exact
    cosine + top-k runs only within probed cells, so candidate volume
    is ~nprobe/cells of the corpus.

    Scale shape: training runs driver-side on a capped strided sample
    (KMeans on a sample is standard IVF practice — the earlier MLlib
    fit spent ~2s of distributed-job overhead to cluster the same
    sample); assignment is one Arrow-batched matmul map over the
    corpus; the candidate join shuffles on the integer cell id. The
    tiny query set's probe list is computed driver-side from the
    (cells × dim) centroid matrix — at large Q that step becomes a
    broadcast-join against the centroid table instead."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    n_corpus = _corpus_rows(sf_dir, e)  # partition sizing only
    sample = _train_sample(e, _IVF_TRAIN_CAP)
    centroids = _train_centroids(sample, _IVF_CELLS)
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches):
        C = bc.value
        cc = (C * C).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _emb_matrix(pdf["emb"])
            # argmin |x-c|² == argmin |c|² - 2x·c: BLAS matmul, no N×C×D blow-up
            d2 = cc[None, :] - 2.0 * (X @ C.T)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "emb": pdf["emb"].to_numpy(),
                    "nrm": _seq_norm(X),
                    "cell": d2.argmin(axis=1).astype(np.int32),
                }
            )

    assigned = _sized_scan(e, n_corpus).mapInPandas(
        assign, schema="vec_id long, emb array<double>, nrm double, cell int"
    ).filter(col("nrm") > 0)  # zero-norm vectors have no cosine

    # Queries are tiny by contract (_N_QUERIES): collect them straight from
    # the source (a JVM-only filter) and probe driver-side — going through
    # `assigned` would force a full corpus pass just to pluck 8 rows.
    # One driver-side row per (query, probed cell): a single broadcast
    # join on cell, with no run-time join choice left to AQE.
    probes = spark.createDataFrame(
        [
            (q, c, x.tolist(), n)
            for q, x, n in _collect_queries(e)
            for c in _probe_cells(centroids, x)
        ],
        "q_id long, cell int, q_emb array<double>, q_nrm double",
    )

    cands = assigned.join(broadcast(probes), "cell").filter(
        col("vec_id") != col("q_id")
    )
    sims = cands.select(
        "q_id",
        col("vec_id").alias("n_id"),
        (_dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(col("cosine").desc(), col("n_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


@register("similarity_ann_lsh")  # rows-only: ANN recall < 1 by design
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: every vector
    gets L independent m-bit signatures; candidates are corpus vectors
    sharing ANY table's bucket with the query; exact cosine + top-k runs
    on the deduped candidates only.

    Scale: the bucket join shuffles on (table, sig) ints — candidate
    volume ≈ L·N/2^m per query instead of N. Recall rises with L (a
    near neighbor need collide in just one table), candidate count is
    the cost — the classic (m, L) trade. IVF (similarity_ann_ivf) is
    the learned-partition variant of the same join shape;
    tests/test_ann_recall.py pins both recalls against the exact top-k."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    # corpus AND query sides read this; one signature pass. Zero-norm
    # vectors have no cosine (0/0 NaN would rank above real matches).
    n = _lsh_banded(e).filter(col("nrm") > 0).persist()
    q = n.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("q_id"),
        col("emb").alias("q_emb"),
        col("nrm").alias("q_nrm"),
        col("t").alias("q_t"),
        col("sig").alias("q_sig"),
    )
    cands = n.join(
        broadcast(q),
        (col("t") == col("q_t"))
        & (col("sig") == col("q_sig"))
        & (col("vec_id") != col("q_id")),
    ).dropDuplicates(["q_id", "vec_id"])  # collide in ≥1 table → count once
    sims = cands.select(
        "q_id",
        col("vec_id").alias("n_id"),
        (_dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(col("cosine").desc(), col("n_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# similarity_ann_grid — fully ORACLED ANN (axis-aligned hyperplane LSH)
# ---------------------------------------------------------------------------

_GRID_TABLES = 6
_GRID_PLANES = 5


def _sql_grid_sig(emb: str, t: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {emb}[{_GRID_PLANES}*{t} + {j + 1}] > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(_GRID_PLANES)
    )
    return f"({terms})"


_GRID_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
n0 AS (SELECT vec_id, emb, sqrt({_sql_dot('emb', 'emb')}) AS nrm FROM e),
n AS (SELECT * FROM n0 WHERE nrm > 0),
s AS (
  SELECT vec_id, tt.t AS t, {_sql_grid_sig('emb', 'tt.t')} AS sig
  FROM n CROSS JOIN (SELECT unnest(range(0, {_GRID_TABLES})) AS t) tt
),
q AS (SELECT vec_id AS q_id, t, sig FROM s WHERE vec_id < {_N_QUERIES}),
c AS (
  SELECT DISTINCT q.q_id, s.vec_id
  FROM s JOIN q ON s.t = q.t AND s.sig = q.sig AND s.vec_id != q.q_id
),
sims AS (
  SELECT c.q_id, c.vec_id AS n_id,
         {_sql_dot('qq.emb', 'nn.emb')} / (qq.nrm * nn.nrm) AS cosine
  FROM c
  JOIN n qq ON qq.vec_id = c.q_id
  JOIN n nn ON nn.vec_id = c.vec_id
),
ranked AS (
  SELECT q_id, n_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
  FROM sims
)
SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {_TOP_K}
"""


@register("similarity_ann_grid", oracle=_GRID_ORACLE)
def similarity_ann_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN with a FULL value-hash oracle (r04 VERDICT item 4): the same
    bucket-join → exact-refine → top-k pipeline as similarity_ann_lsh,
    but the hash family is axis-ALIGNED hyperplanes — table t's m-bit
    signature is the sign pattern of coordinates [5t, 5t+5) — so the
    entire pipeline, bucketing included, is expressible in DuckDB SQL
    and the driver can hash-verify the refined candidate set end to end
    (random-hyperplane LSH keeps better recall per table but its
    md5-derived plane matrix is not SQL-portable; that variant stays
    rows-only with its recall pinned in tests/test_ann_recall.py).

    Scale shape: identical to ann_lsh — signatures are a pure JVM map
    (element_at + comparisons, no Python), candidates join on the
    (t, sig) ints so volume ≈ L·N/2^m per query, exact cosine runs only
    on deduped candidates. The refine fold is the shared left-to-right
    IEEE order, so doubles match DuckDB bitwise."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    n = e.withColumn("nrm", F.sqrt(_dot(col("emb"), col("emb")))).filter(
        col("nrm") > 0
    )
    sig_exprs = []
    for t in range(_GRID_TABLES):
        s = F.lit(0)
        for j in range(_GRID_PLANES):
            s = s + F.when(
                F.element_at(col("emb"), t * _GRID_PLANES + j + 1) > 0,
                F.lit(1 << j),
            ).otherwise(F.lit(0))
        sig_exprs.append(s)
    sigs = n.select(
        "vec_id",
        "emb",
        "nrm",
        F.posexplode(F.array(*sig_exprs)).alias("t", "sig"),
    )
    q = sigs.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("q_id"),
        col("emb").alias("q_emb"),
        col("nrm").alias("q_nrm"),
        col("t").alias("q_t"),
        col("sig").alias("q_sig"),
    )
    cands = (
        sigs.join(
            broadcast(q),
            (col("t") == col("q_t"))
            & (col("sig") == col("q_sig"))
            & (col("vec_id") != col("q_id")),
        )
        .select("q_id", "q_emb", "q_nrm", "vec_id", "emb", "nrm")
        .dropDuplicates(["q_id", "vec_id"])
    )
    sims = cands.select(
        "q_id",
        col("vec_id").alias("n_id"),
        (_dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(col("cosine").desc(), col("n_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# similarity_ann_verify — containment oracle for the rows-only ANN variants
# ---------------------------------------------------------------------------

# ann_lsh (md5 hyperplanes) and ann_ivf (k-means cells) keep rows-only
# driver checks because their BUCKETING isn't SQL-expressible. But their
# REFINE stage makes exact claims that ARE checkable: every emitted pair
# must carry the bitwise-exact cosine, ranks must be the (cosine DESC,
# n_id) row numbers over the emitted set, and no query may exceed top-k.
# This query materializes every violation of those claims across BOTH
# variants; the oracle is the EMPTY relation, so a single bad pair flips
# the driver's row-count/hash verdict. tests/test_ann_recall.py proves
# the checker is live (a planted corruption is flagged) and runs the
# DuckDB-side containment twin (ANN output ⊆ DuckDB's own brute-force
# pair set at matching cosine).

_ANN_VERIFY_ORACLE = """
SELECT CAST(NULL AS VARCHAR) AS algo, CAST(NULL AS BIGINT) AS q_id,
       CAST(NULL AS BIGINT) AS n_id, CAST(NULL AS VARCHAR) AS kind
WHERE 1 = 0
"""


def _ann_violations(out: DataFrame, exact: DataFrame, algo: str) -> DataFrame:
    """Violation rows for one ANN output against the exact pair set.
    `out` feeds three branches (pair join, rank window, over-k count)
    and `exact` feeds both variants' joins — persisted per the CLAUDE.md
    shared-lineage rule. An interleaved A/B at sf0.1 measured persisted
    ~3.7s vs unpersisted ~4.1s (ReuseExchange dedupes shared SHUFFLE
    subtrees but not the pre-exchange Python stages — the IVF
    mapInPandas assignment would re-run per branch, and that cost grows
    with the corpus)."""
    out = out.persist()
    ex = exact.select(
        "q_id", "n_id", col("cosine").alias("exact_cosine")
    )
    j = out.join(ex, ["q_id", "n_id"], "left")
    bad_pair = j.filter(
        ~col("cosine").eqNullSafe(col("exact_cosine"))
    ).select("q_id", "n_id", F.lit("refine_not_exact").alias("kind"))
    w = Window.partitionBy("q_id").orderBy(col("cosine").desc(), col("n_id"))
    bad_rank = (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(col("_rk") != col("rank"))
        .select("q_id", "n_id", F.lit("rank_inconsistent").alias("kind"))
    )
    bad_k = (
        out.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(col("_c") > _TOP_K)
        .select("q_id", F.lit(-1).cast("long").alias("n_id"),
                F.lit("over_k").alias("kind"))
    )
    return (
        bad_pair.unionByName(bad_rank)
        .unionByName(bad_k)
        .select(F.lit(algo).alias("algo"), "q_id", "n_id", "kind")
    )


@register("similarity_ann_verify", oracle=_ANN_VERIFY_ORACLE)
def similarity_ann_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable refine-exactness proof for similarity_ann_lsh
    AND similarity_ann_ivf (r5 VERDICT item 3): recompute the FULL
    exact cosine pair set independently (the brute-force lineage of
    similarity_topk, without its top-k cut) and emit one row per claim
    the ANN outputs violate — a pair whose cosine isn't the bitwise
    exact cosine (or references a zero-norm/self pair the refine must
    never emit), a rank that isn't the (cosine DESC, n_id) row number
    over the emitted set, or a query returning more than top-k rows.
    Expected output: EMPTY, and the oracle is the empty relation — so
    the driver's row-count + hash compare turns any violation into a
    red verdict. Recall (<1 by design) stays pinned separately in
    tests/test_ann_recall.py.

    Scale shape: the exact side is the broadcast-Q corpus scan of
    similarity_topk (never shuffled); each ANN output is Q×k rows, so
    the violation joins are broadcast-trivial. Cost is one extra corpus
    scan per variant — the price of verification, run at bench SF, not
    production."""
    # persisted: two consumers (both variants' pair joins)
    exact = _exact_pair_set(spark, sf_dir).persist()
    lsh_out = similarity_ann_lsh(spark, sf_dir).persist()
    ivf_out = similarity_ann_ivf(spark, sf_dir).persist()
    # the exact brute-force scan and the two ANN pipelines are
    # independent lineages over the same source table — materialize the
    # three caches CONCURRENTLY (guide §2.6; the _retrieval_metrics
    # pattern) so the final violation union reads filled ≤ Q×k / pair-
    # set caches instead of serializing three corpus passes inside one
    # job (or racing to fill them — the r14 recompute-per-branch class)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(lambda f: f.count(), (exact, lsh_out, ivf_out)))
    lsh = _ann_violations(lsh_out, exact, "lsh")
    ivf = _ann_violations(ivf_out, exact, "ivf")
    return lsh.unionByName(ivf).orderBy("algo", "q_id", "n_id", "kind")


# ---------------------------------------------------------------------------
# embedding_quantize — int8 symmetric quantization (vector compression)
# ---------------------------------------------------------------------------

# Training-data pipelines store embeddings quantized (4× smaller than
# float32, 8× smaller than float64); scale-per-vector symmetric int8 is
# the standard first rung (FAISS SQ8, many vector DBs' default).

_QUANT_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
s AS (
  SELECT vec_id, emb,
         greatest(list_max(list_transform(emb, v -> abs(v))), 1e-30) / 127
           AS scale
  FROM e
)
SELECT vec_id, scale,
       array_to_string(
         list_transform(emb, v -> CAST(CAST(round(v / scale) AS TINYINT)
                                       AS VARCHAR)),
         '-') AS qvec
FROM s
"""


@register("embedding_quantize", oracle=_QUANT_ORACLE)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127, qᵢ =
    round(xᵢ/scale) ∈ [−127, 127]. Pure map — no shuffle, no Python;
    whole-stage codegen end to end, so at 100 TB this is scan-bound.
    Rounding parity: Spark's round() and DuckDB's round() both round
    half away from zero, and the scale division is the same IEEE double
    op, so the int8 codes hash-match exactly. The 1e-30 floor guards
    all-zero vectors (scale 0 → div-by-zero) identically in both
    engines. Dequantization is q·scale — one list_transform away; the
    complementary error analysis lives in tests/test_ann_recall.py.

    Wire form: the driver canonicalizer can't hash array columns
    (pandas sort_values raises on lists — the r03 red row), so qvec is
    emitted as the joined-string wire form, same precedent as
    agg_collect (analytics.py). The int8 codes themselves are
    unchanged; '-' doubles as the joiner and the sign glyph, which is
    fine because both engines emit the identical string."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    scale = (
        F.greatest(
            F.array_max(F.transform(col("emb"), lambda v: F.abs(v))), F.lit(1e-30)
        )
        / 127
    )
    s = e.select("vec_id", "emb", scale.alias("scale"))
    q = F.transform(col("emb"), lambda v: F.round(v / col("scale")).cast("tinyint"))
    return s.select(
        "vec_id",
        "scale",
        F.concat_ws("-", F.transform(q, lambda x: x.cast("string"))).alias("qvec"),
    )


# ---------------------------------------------------------------------------
# embedding_centroids — per-label centroid + dispersion diagnostics
# ---------------------------------------------------------------------------

# Float parity note: dsum's decimal route does NOT work here. The
# components are full-precision doubles, and double→DECIMAL(38,10)
# rounds the SHORTEST STRING REPR on the Spark side (BigDecimal.valueOf
# → Double.toString, whose pre-Ryu JDK-17 algorithm occasionally emits a
# different digit string than DuckDB's Ryu printer) — observed 1-ulp
# decimal divergences at sf0.01. The robust recipe for full-precision
# floats is a DETERMINISTIC-ORDER BINARY FOLD: collect each group's
# components sorted by vec_id and sum them sequentially — identical
# IEEE adds in both engines, no decimal conversion anywhere.
def _centroid_oracle() -> str:
    from cqlcopy_spark.functions.portable import sql_block_fold_agg

    inner = sql_block_fold_agg(
        """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
x AS (
  SELECT vec_id, label, unnest(range(1, len(emb) + 1)) AS dim, emb FROM e
)
SELECT vec_id, label, CAST(dim AS BIGINT) AS dim, emb[dim] AS comp FROM x""",
        ["label", "dim"],
        "vec_id",
        sums={"_sc": "comp", "_sq": "comp * comp"},
    )
    return f"""
WITH s AS ({inner})
SELECT label, dim, _sc / n AS centroid, _sq / n AS mean_sq, n
FROM s
ORDER BY label, dim
"""


_CENTROID_ORACLE = _centroid_oracle()


@register("embedding_centroids", oracle=_CENTROID_ORACLE)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label, per-dimension centroid and second moment — the
    clustering diagnostic a labeled-embedding pipeline runs (class
    separation, collapsed-dimension detection; variance is mean_sq −
    centroid² one expression away). LONG format (label, dim) keeps the
    output hashable; one shuffle on (label, dim).

    Float parity: the means are deterministic-order fixed-block fold
    trees, the same IEEE add sequence as the oracle's mirrored tree —
    see the oracle comment for why the decimal dsum route fails on
    full-precision doubles. The fold runs at the VECTOR level: vectors
    rank within their label (a window over N rows, not N×dims), blocks
    of 64 consecutive vectors fold element-wise via zip_with array
    accumulators, block sums fold per super-block and per label, and
    only the final 3·|labels| sum-arrays posexplode to (label, dim)
    rows. Per dim the add sequence (vector-rank order, same block
    boundaries) is IDENTICAL to a component-level fold, so the
    component-level oracle verifies it bitwise — but the corpus never
    explodes: at 100 TB the window and every fold level move N rows
    instead of 64·N, and task state is one dims-length array per block
    rather than a group-sized list. Emitted as one Spark-SQL text
    (portable.block_fold_agg's build-cost note: eager per-Dataset
    analysis made the DataFrame-API formulation ~0.5s/plan)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _emb_double("embedding").alias("emb")
    )
    global _CENT_VIEW_SEQ
    _CENT_VIEW_SEQ += 1
    view = f"_cent_input_{_CENT_VIEW_SEQ}"
    e.createOrReplaceTempView(view)

    def lvl(src: str, keys: str, order: str, first: bool) -> str:
        if first:
            payload = f"struct({order} AS _k, emb AS s, emb AS q)"
            merge_s = "zip_with(acc.s, x.s, (a, b) -> a + b)"
            merge_q = "zip_with(acc.q, x.q, (a, b) -> a + b * b)"
            cnt = "COUNT(1)"
        else:
            payload = f"struct({order} AS _k, s, q)"
            merge_s = "zip_with(acc.s, x.s, (a, b) -> a + b)"
            merge_q = "zip_with(acc.q, x.q, (a, b) -> a + b)"
            cnt = "SUM(n)"
        return f"""
SELECT {keys}, n, _acc.s AS s, _acc.q AS q
FROM (
  SELECT {keys}, n,
         aggregate(_lst,
                   named_struct('s', transform(element_at(_lst, 1).s, v -> 0.0d),
                                'q', transform(element_at(_lst, 1).q, v -> 0.0d)),
                   (acc, x) -> named_struct('s', {merge_s}, 'q', {merge_q})) AS _acc
  FROM (
    SELECT {keys}, {cnt} AS n, array_sort(collect_list({payload})) AS _lst
    FROM ({src})
    GROUP BY {keys}
  )
)"""

    from cqlcopy_spark.functions.portable import BLOCK

    base = f"""SELECT label, emb, _rn, FLOOR(_rn / {BLOCK}) AS _b1,
       FLOOR(_rn / {BLOCK * BLOCK}) AS _b2
FROM (SELECT label, emb,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1 AS _rn
      FROM {view})"""
    l1 = lvl(base, "label, _b2, _b1", "_rn", first=True)
    l2 = lvl(l1, "label, _b2", "_b1", first=False)
    l3 = lvl(l2, "label", "_b2", first=False)
    out = spark.sql(f"""
SELECT label, CAST(z.pos + 1 AS BIGINT) AS dim,
       z.c.s / n AS centroid, z.c.q / n AS mean_sq, n
FROM ({l3}) LATERAL VIEW posexplode(arrays_zip(s, q)) z AS pos, c
ORDER BY label, dim
""")
    spark.catalog.dropTempView(view)
    return out


_CENT_VIEW_SEQ = 0


# ---------------------------------------------------------------------------
# embedding_norm_stats — per-vector L2 norms + top-k extremes
# ---------------------------------------------------------------------------

# Norm outliers (near-zero or huge vectors) are the standard screen for
# broken encoder batches before embeddings feed dedup / ANN indexing.

_NORM_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
n AS (
  SELECT vec_id, label,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(emb, v -> v * v)), (a, b) -> a + b))
           AS l2_norm
  FROM e
)
SELECT vec_id, label, l2_norm
FROM n
ORDER BY l2_norm DESC, vec_id
LIMIT 15
"""


@register("embedding_norm_stats", oracle=_NORM_ORACLE)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 vectors by L2 norm (encoder-health screen). The norm is a
    SEQUENTIAL left fold over the vector (F.aggregate ↔ DuckDB
    list_reduce) — same order, same IEEE adds, bit-identical in both
    engines, unlike an unordered SUM over unnested elements; sqrt is
    correctly rounded everywhere. Pure codegen map → TakeOrdered 15
    (vec_id tiebreak): no shuffle, scan-bound at 100 TB."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _emb_double("embedding").alias("emb")
    )
    sumsq = F.aggregate(
        col("emb"), F.lit(0.0), lambda acc, v: acc + v * v
    )
    return (
        e.select("vec_id", "label", F.sqrt(sumsq).alias("l2_norm"))
        .orderBy(col("l2_norm").desc(), "vec_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# embedding_project — deterministic signed random projection (JL / SRP)
# ---------------------------------------------------------------------------

# Dimensionality reduction ahead of LSH/IVF: project d-dim embeddings
# onto _PROJ_DIMS ±1 hyperplanes. The "random" signs are a pure hash of
# (i, j) — seedless, identical in SQL — so unlike library RNG matrices
# the projection is bit-reproducible across engines, reruns, and
# languages. Each output component is a SEQUENTIAL fold over the input
# dims (the _dot discipline), so doubles hash-match exactly.

_PROJ_DIMS = 8

_PROJECT_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
p AS (
  SELECT vec_id,
         list_transform(range(1, {_PROJ_DIMS} + 1), j ->
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(emb) + 1),
                 i -> emb[i] * (((i * 131 + j * 137) % 2) * 2 - 1))),
             (a, b) -> a + b)) AS proj
  FROM e
)
SELECT vec_id,
       {', '.join(f'proj[{j}] AS p{j}' for j in range(1, _PROJ_DIMS + 1))}
FROM p
ORDER BY vec_id
"""


@register("embedding_project", oracle=_PROJECT_ORACLE)
def embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed random projection 64→8 dims, hash-derived ±1 signs.
    Pure codegen map — no shuffle, no Python: at 100 TB this runs at
    scan speed and cuts every downstream distance computation 8×. Sign
    s(i,j) = ((131·i + 137·j) mod 2)·2 − 1 — both parities occur in
    every row/column, and the inner sum folds left-to-right exactly
    like DuckDB's list_reduce, making the projected doubles (emitted as
    one column per output dim — the driver canonicalizer cannot hash
    arrays) bitwise identical."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    def comp(j):
        # size guard: Spark's sequence(1, 0) yields DESCENDING [1, 0]
        # (not empty), so an empty embedding would index element_at(emb,
        # 0) and crash where DuckDB's range(1, 1) folds to 0.0 — the
        # same trap the BPE pair builder guards against
        fold = F.aggregate(
            F.sequence(F.lit(1), F.size(col("emb"))),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(col("emb"), i)
            * ((i * 131 + F.lit(j * 137)) % 2 * 2 - 1).cast("double"),
        )
        return F.when(F.size(col("emb")) >= 1, fold).otherwise(F.lit(0.0)).alias(
            f"p{j}"
        )

    return e.select(
        "vec_id", *[comp(j) for j in range(1, _PROJ_DIMS + 1)]
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# dedup_embedding_blocked — IVF-cell-blocked near-dup (the sub-quadratic path)
# ---------------------------------------------------------------------------


@register("dedup_embedding_blocked")  # rows-only: cell blocking ⇒ recall < 1
def dedup_embedding_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path dedup_embedding_cosine's docstring points at:
    near-dup pairs WITHIN k-means cells only. Candidates fall from
    N²/2 to Σ|cell|²/2 (≈ N²/2k for balanced cells) at the price of
    missing pairs that straddle a cell boundary — the classic
    recall-for-candidates trade, measured by
    tests/test_ann_recall.py against the exact block-pair answer.

    Plan: driver-trained centroids on a capped strided sample (the
    similarity_ann_ivf recipe), one Arrow matmul assignment pass, ONE
    shuffle on the integer cell id, and one `_neardup_pairs` call per
    cell — never a cartesian. Pair emission is output-bounded per
    cell."""
    import numpy as np

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    sample = _train_sample(e, _IVF_TRAIN_CAP)
    centroids = _train_centroids(sample, _IVF_CELLS)
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches):
        import pandas as pd

        C = bc.value
        cc = (C * C).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _emb_matrix(pdf["emb"])
            # multi-assignment: each vector lands in its 2 nearest cells
            # (the write-side mirror of query-side nprobe) — boundary
            # pairs share a cell far more often, roughly doubling recall
            # for ~4× the candidate volume
            d2 = cc[None, :] - 2.0 * (X @ C.T)
            top2 = np.argpartition(d2, 1, axis=1)[:, :2]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), 2),
                    "emb": pdf["emb"].iloc[np.repeat(np.arange(n), 2)],
                    "cell": top2.reshape(-1).astype("int32"),
                }
            )

    assigned = e.mapInPandas(
        assign, schema="vec_id long, emb array<double>, cell int"
    )

    # Within-cell scoring is the shared `_neardup_pairs` kernel, one call
    # per cell, so borderline cosines agree bit-for-bit with
    # dedup_embedding_cosine — the subset/recall pins in
    # tests/test_ann_recall.py depend on that. (A per-pair JVM
    # `aggregate` fold here was ~4× slower end-to-end: interpreted HOF
    # lambdas per candidate pair, the trap _lsh_banded's docstring
    # documents.)
    return (
        assigned.groupBy("cell")
        .applyInPandas(_neardup_pairs, schema=_PAIR_SCHEMA)
        # multi-assignment can surface a pair once per shared cell
        .dropDuplicates(["v1", "v2"])
        .orderBy("v1", "v2")
    )


# ---------------------------------------------------------------------------
# dedup_blocked_verify — precision proof for the cell-blocked near-dup
# ---------------------------------------------------------------------------

# Same discipline as similarity_ann_verify: dedup_embedding_blocked is
# rows-only (recall < 1 by design — blocking may miss cross-cell pairs)
# but its PRECISION claim is exact: every emitted pair must also appear
# in the exhaustive near-dup answer with the bitwise-identical cosine
# (within-cell refinement computes the same fold). This query emits the
# violations of that claim; the oracle is the empty relation, so one
# false pair or drifted cosine flips the driver verdict. Recall stays
# pinned in tests/test_ann_recall.py.

_BLOCKED_VERIFY_ORACLE = """
SELECT CAST(NULL AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2,
       CAST(NULL AS VARCHAR) AS kind
WHERE 1 = 0
"""


@register("dedup_blocked_verify", oracle=_BLOCKED_VERIFY_ORACLE)
def dedup_blocked_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable precision proof for dedup_embedding_blocked:
    recompute the exhaustive near-dup pair set independently
    (dedup_embedding_cosine's lineage) and emit one row per blocked
    pair that is NOT in it (phantom pair) or whose cosine differs
    bitwise (refine drift). Expected EMPTY against an empty-relation
    oracle. Cost: the blocked pipeline plus the exact block-pair pass —
    verification-priced, like similarity_ann_verify."""
    exact = dedup_embedding_cosine(spark, sf_dir).select(
        "v1", "v2", col("cosine").alias("exact_cosine")
    )
    blocked = dedup_embedding_blocked(spark, sf_dir)
    j = blocked.join(exact, ["v1", "v2"], "left")
    return (
        j.filter(~col("cosine").eqNullSafe(col("exact_cosine")))
        .select(
            "v1",
            "v2",
            F.when(col("exact_cosine").isNull(), F.lit("phantom_pair"))
            .otherwise(F.lit("cosine_drift"))
            .alias("kind"),
        )
        .orderBy("v1", "v2")
    )


# ---------------------------------------------------------------------------
# dedup_semdedup — clustered semantic pruning (keep/drop decisions)
# ---------------------------------------------------------------------------

# SemDeDup (Abbas et al. 2023): cluster the embedding space, and within
# each cluster DROP every item that has a semantic near-duplicate that
# sorts before it — the pipeline consumes keep/drop decisions per
# document, not a pair list (dedup_embedding_cosine / _blocked emit the
# pairs; this op emits the verdicts). Clusters here are the 32
# axis-aligned sign cells over the first 5 coordinates — deterministic
# and SQL-expressible, so unlike the k-means variant the WHOLE operator
# (clustering included) carries a full value-hash oracle; the paper's
# trained-centroid clustering is exactly dedup_embedding_blocked's
# driver-trained IVF recipe and slots in unchanged when recall matters
# more than oracle coverage.

_SEM_CELL_BITS = 5


def _sql_sem_cell(emb: str) -> str:
    return "(" + " + ".join(
        f"(CASE WHEN {emb}[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_SEM_CELL_BITS)
    ) + ")"


_SEMDEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
n0 AS (SELECT vec_id, emb, sqrt({_sql_dot('emb', 'emb')}) AS nrm FROM e),
n AS (SELECT * FROM n0 WHERE nrm > 0),
c AS (SELECT vec_id, emb, nrm, {_sql_sem_cell('emb')} AS cell FROM n),
p AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         {_sql_dot('a.emb', 'b.emb')} / (a.nrm * b.nrm) AS cosine
  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_sql_dot('a.emb', 'b.emb')} / (a.nrm * b.nrm)
        >= CAST({_NEARDUP_COS} AS DOUBLE)
),
pr AS (
  SELECT v2, MIN(v1) AS pruned_by, arg_min(cosine, v1) AS prune_cos
  FROM p GROUP BY v2
)
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
       pr.pruned_by IS NULL AS keep,
       pr.pruned_by, pr.prune_cos
FROM c LEFT JOIN pr ON c.vec_id = pr.v2
"""


@register("dedup_semdedup", oracle=_SEMDEDUP_ORACLE)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop verdicts: one row per (non-zero-norm) vector —
    keep, or dropped with the id of its lowest-id within-cell near-dup
    (cos ≥ threshold) and that pair's cosine. Greedy lowest-id-wins is
    the deterministic analogue of the paper's keep-one-per-group rule
    (and the min/arg_min make the report itself order-independent).

    Scale shape: cell assignment is a pure codegen map (element_at sign
    tests — no Python, no shuffle); in-cell pairs run as one Arrow task
    per cell through the shared `_neardup_pairs` kernel, so every
    emitted cosine is bitwise DuckDB-identical; then one groupBy(v2)
    argmin and one left join back to the vectors. At 100 TB a cell no longer fits
    one task: compose the SAME block-pair decomposition
    dedup_embedding_cosine uses WITHIN each cell (pid = (cell, blk_i,
    blk_j)) — the kernel and the verdict projection are unchanged, only
    the grouping key widens. Candidate volume is Σ|cell|²/2, the
    blocked-dedup trade measured in tests/test_ann_recall.py."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    n = e.withColumn("nrm", F.sqrt(_dot(col("emb"), col("emb")))).filter(
        col("nrm") > 0
    )
    cell = F.lit(0)
    for j in range(_SEM_CELL_BITS):
        cell = cell + F.when(
            F.element_at(col("emb"), j + 1) > 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    vecs = n.select("vec_id", "emb", cell.cast("long").alias("cell")).persist()
    # ^ persist: feeds BOTH the pair kernel and the verdict join — an
    # unpersisted frame re-runs the scan+cell map per consumer
    # (CLAUDE.md self-join rule)

    pruned = (
        vecs.groupBy("cell")
        .applyInPandas(_neardup_pairs, schema=_PAIR_SCHEMA)
        .groupBy("v2")
        .agg(
            F.min("v1").alias("pruned_by"),
            F.expr("min_by(cosine, v1)").alias("prune_cos"),
        )
    )
    return (
        vecs.join(pruned, vecs["vec_id"] == pruned["v2"], "left")
        .select(
            "vec_id",
            "cell",
            col("pruned_by").isNull().alias("keep"),
            "pruned_by",
            "prune_cos",
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# embedding_kmeans — distributed Lloyd clustering + its verify twin
# ---------------------------------------------------------------------------

# The IVF path (similarity_ann_ivf) trains k-means driver-side on a
# CAPPED sample — correct for centroid training, but the corpus-wide
# clustering workload itself (assign EVERY vector, iterate on the full
# data) is the classic iterative-ML shape this registry had not yet
# exercised distributedly. Lloyd here runs on the whole corpus: per
# iteration one Arrow-batched matmul pass assigns vectors AND emits
# per-Arrow-batch partial sums (map-side combine in the Python stage —
# the per-cell state that reaches the JVM is one dims-array per
# PARTITION, never a group-sized list), a k-row JVM aggregate folds the
# partials,
# and the k×dim centroid matrix (a CONSTANT-sized hyperparameter table,
# unlike the corpus-growing vocab tables r9 dehinted) rides back to the
# driver exactly like graph_pagerank's one scalar. Iterative float
# folds have no stable SQL oracle -> rows-only + the verify twin below
# (same discipline as graph_pagerank_verify).

_KMEANS_K = 8
_KMEANS_ITERS = 4


def _kmeans_partials_fn(centroids):
    """mapInPandas kernel: assign each vector to its nearest centroid
    (BLAS matmul argmin) and emit ONE partial row per occupied cell PER
    PARTITION — the accumulator spans every Arrow batch of the
    partition and yields once at the end, so the per-cell row count
    reaching the JVM fold is bounded by the PARTITION count (a
    per-Arrow-batch yield would emit ~n/10k rows per cell — the flat
    group-sized collect shape CLAUDE.md's block-fold rule bans)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)

    def fn(batches):
        cc = (C * C).sum(axis=1)
        sums = np.zeros_like(C)
        cnts = np.zeros(len(C), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _emb_matrix(pdf["emb"])
            # argmin |x-c|^2 == argmin |c|^2 - 2 x.c (xx is row-constant)
            a = (cc[None, :] - 2.0 * (X @ C.T)).argmin(axis=1)
            for c in np.unique(a):
                m = a == c
                sums[c] += X[m].sum(axis=0)
                cnts[c] += int(m.sum())
        occ = np.flatnonzero(cnts)
        if len(occ):
            yield pd.DataFrame(
                {
                    "cell": [int(c) for c in occ],
                    "s": [sums[c].tolist() for c in occ],
                    "cnt": [int(cnts[c]) for c in occ],
                }
            )

    return fn


def _kmeans_assign_fn(centroids):
    """mapInPandas kernel for the final labeled pass: (vec_id, cluster,
    dist2) per vector, nearest-centroid with lowest-cluster-id ties."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)

    def fn(batches):
        cc = (C * C).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _emb_matrix(pdf["emb"])
            xx = (X * X).sum(axis=1)
            d2 = cc[None, :] - 2.0 * (X @ C.T) + xx[:, None]
            a = d2.argmin(axis=1)  # np argmin: FIRST minimum -> lowest cid
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster": a.astype(np.int32),
                    "dist2": d2[np.arange(len(a)), a],
                }
            )

    return fn


def _lloyd_step(frame: DataFrame, centroids: "list") -> "list":
    """One distributed Lloyd update over the (vec_id, emb) frame: the
    partials map, a k-row JVM fold of the per-partition partial sums,
    then the driver-side centroid update. Returns new centroid lists;
    cells with no partial row keep their previous centroid."""
    part = frame.mapInPandas(
        _kmeans_partials_fn(centroids), schema="cell int, s array<double>, cnt long"
    )
    # the kernel accumulates across its Arrow batches and yields ONCE, so
    # rows per cell here == partition count — the collect_list is
    # partition-count-sized, never corpus-sized
    rows = (
        part.groupBy("cell")
        .agg(
            F.aggregate(
                F.collect_list("s"),
                F.array_repeat(F.lit(0.0), _EMB_DIM),
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
            ).alias("s"),
            F.sum("cnt").alias("cnt"),
        )
        .collect()
    )
    C = [list(c) for c in centroids]
    for r in rows:
        if r["cnt"]:
            C[r["cell"]] = [v / r["cnt"] for v in r["s"]]
    return C


def _kmeans_fit(spark: SparkSession, sf_dir: str):
    """Full-corpus Lloyd: returns (final centroid list, assignment
    DataFrame vs those final centroids). Driver traffic per iteration
    is the k x dim centroid matrix only."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    # one driver scalar (parallelism sizing + init stride); the cache
    # then materializes on the first Lloyd pass, not a dedicated count
    n = _corpus_rows(sf_dir, e)
    if n == 0:
        return [], e.select(
            "vec_id",
            F.lit(0).cast("int").alias("cluster"),
            F.lit(0.0).alias("dist2"),
        ).limit(0)
    # deterministic scattered init: the K smallest MULTIPLICATIVE-HASH
    # values of vec_id (seedless, reproducible, spread across the id
    # space). Unlike a stride filter this can never come back empty on
    # sparse/hashed ids — n >= 1 guarantees >= 1 seed — and it is a
    # TakeOrdered(K), not a global sort. portable_token, not a raw
    # vec_id * KNUTH product: ANSI Spark aborts on the int64 overflow
    # at vec_id >= ~3.47e9 (CLAUDE.md overflow rule) and the helper's
    # 16-bit decomposition computes the same hash overflow-free.
    from cqlcopy_spark.functions.portable import portable_token

    init = (
        e.orderBy(portable_token(col("vec_id")), "vec_id")
        .limit(_KMEANS_K)
        .collect()
    )
    C = [list(r["emb"]) for r in init]
    while len(C) < _KMEANS_K:  # corpus smaller than K: duplicate last
        C.append(list(C[-1]))
    # persist the REPARTITIONED frame, not the raw select: every Lloyd
    # pass and the final assign read `ep`, and caching below the
    # exchange re-ran the round-robin shuffle once per iteration (the
    # exchange sits above the cache and ReuseExchange never crosses
    # jobs) — 4 iterations + assign paid 5 corpus shuffles where one
    # suffices (guide §2.4). The first Lloyd collect materializes it.
    ep = _sized_scan(e, n).persist()
    for _ in range(_KMEANS_ITERS):
        C = _lloyd_step(ep, C)
    assigned = ep.mapInPandas(
        _kmeans_assign_fn(C), schema="vec_id long, cluster int, dist2 double"
    )
    return C, assigned


@register("embedding_kmeans")  # rows-only: iterative float folds
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd, 4 iterations, k=8) over the corpus
    embeddings: per-vector (vec_id, cluster, dist2) against the FINAL
    centroids — the semantic-bucketing pass SemDeDup-style pruning and
    IVF indexing build on, run on the full data rather than a training
    sample. See the section comment for the per-iteration shape; the
    driver-red escape hatch is embedding_kmeans_verify."""
    _, assigned = _kmeans_fit(spark, sf_dir)
    return assigned.orderBy("vec_id")


_KMEANS_VERIFY_ORACLE = """
SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS BIGINT) AS vec_id,
       CAST(NULL AS DOUBLE) AS metric
WHERE 1 = 0
"""


def _kmeans_violations(
    spark: SparkSession, sf_dir: str, centroids, assigned: DataFrame
) -> DataFrame:
    """Invariant violations of a claimed k-means result (empty iff
    consistent). The argmin check recomputes distances with a pure-JVM
    zip_with fold over centroid LITERALS — a different float-summation
    order and a different code path from the Arrow/BLAS kernel, so a
    kernel bug cannot hide in its own arithmetic. Checked:
    - assignment parity: every corpus vec_id exactly once, none
      invented, cluster id within [0, k);
    - argmin optimality: dist2(x, c_assigned) <= min_j dist2(x, c_j) +
      slack AND the reported dist2 matches the JVM recompute (slack
      1e-6 absolute on unit-scale fixture embeddings covers the
      BLAS-vs-sequential association difference);
    - Lloyd descent: one MORE update+assign step must not increase the
      objective Sum dist2 (Lloyd is monotonically non-increasing; a
      permuted or stale assignment breaks this the way a corrupted
      PageRank breaks the contraction bound)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    ).persist()
    assigned = assigned.persist()
    if not centroids:
        return assigned.select(
            F.lit("assignment_for_empty_corpus").alias("kind"),
            col("vec_id"),
            col("dist2").alias("metric"),
        ).orderBy("vec_id")

    missing = e.join(assigned, "vec_id", "left_anti").select(
        F.lit("missing_vector").alias("kind"),
        col("vec_id"),
        F.lit(None).cast("double").alias("metric"),
    )
    extra = assigned.join(e, "vec_id", "left_anti").select(
        F.lit("extra_vector").alias("kind"),
        col("vec_id"),
        col("dist2").alias("metric"),
    )
    dup = (
        assigned.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(col("n") > 1)
        .select(
            F.lit("duplicate_vector").alias("kind"),
            col("vec_id"),
            col("n").cast("double").alias("metric"),
        )
    )
    bad_id = assigned.filter(
        col("cluster").isNull()
        | (col("cluster") < 0)
        | (col("cluster") >= len(centroids))
    ).select(
        F.lit("cluster_out_of_range").alias("kind"),
        col("vec_id"),
        col("cluster").cast("double").alias("metric"),
    )

    # the K×(64-literal array + zip_with/aggregate HOF) distance tree is
    # emitted as SQL TEXT: as Columns it paid ~K×70 py4j round trips per
    # plan build (the CLAUDE.md many-HOF selectExpr rule — same fix as
    # embedding_pq_verify); float literals as CAST('<repr>' AS DOUBLE)
    # round-trip exactly, so the arithmetic is unchanged
    def sql_d2(c) -> str:
        arr = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in c)
        return (
            f"aggregate(zip_with(emb, array({arr}), "
            "(a, b) -> (a - b) * (a - b)), "
            "CAST('0.0' AS DOUBLE), (acc, v) -> acc + v)"
        )

    slack = 1e-6
    d2s = "array(" + ", ".join(sql_d2(c) for c in centroids) + ")"
    # element_at THROWS on an out-of-range index (ANSI): guard it so an
    # out-of-range cluster id lands in bad_id above instead of aborting
    # the whole verify relation
    in_range = (
        "(cluster IS NOT NULL AND cluster >= 0 "
        f"AND cluster < {len(centroids)})"
    )
    j = e.join(assigned, "vec_id").selectExpr(
        "vec_id",
        "cluster",
        "dist2",
        f"array_min({d2s}) AS best",
        f"CASE WHEN {in_range} THEN element_at({d2s}, cluster + 1) END AS own",
    ).filter(col("own").isNotNull())
    not_argmin = j.filter(col("own") > col("best") + slack).select(
        F.lit("not_nearest_centroid").alias("kind"),
        col("vec_id"),
        (col("own") - col("best")).alias("metric"),
    )
    bad_dist = j.filter(F.abs(col("own") - col("dist2")) > slack).select(
        F.lit("reported_dist2_mismatch").alias("kind"),
        col("vec_id"),
        F.abs(col("own") - col("dist2")).alias("metric"),
    )

    # one more Lloyd step, through the SAME distributed step
    C2 = _lloyd_step(e, centroids)
    stepped = e.mapInPandas(
        _kmeans_assign_fn(C2), schema="vec_id long, cluster int, dist2 double"
    )
    j_old = assigned.agg(F.sum("dist2").alias("j0"))
    j_new = stepped.agg(F.sum("dist2").alias("j1"))
    n = _corpus_rows(sf_dir, e)  # slack sizing only
    worse = (
        j_new.crossJoin(broadcast(j_old))
        .filter(col("j1") > col("j0") + F.lit(slack * max(n, 1)))
        .select(
            F.lit("objective_increased_after_step").alias("kind"),
            F.lit(None).cast("long").alias("vec_id"),
            (col("j1") - col("j0")).alias("metric"),
        )
    )

    return (
        missing.unionByName(extra)
        .unionByName(dup)
        .unionByName(bad_id)
        .unionByName(not_argmin)
        .unionByName(bad_dist)
        .unionByName(worse)
        .orderBy("kind", "vec_id")
    )


@register("embedding_kmeans_verify", oracle=_KMEANS_VERIFY_ORACLE)
def embedding_kmeans_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-runs embedding_kmeans and emits its invariant violations
    (expected EMPTY) — the driver-red escape hatch for the rows-only
    iterative op, same pattern as graph_pagerank_verify. Cost: ~one
    extra assignment pass plus the one-step Lloyd descent check;
    planted-corruption liveness pins live in tests/test_kmeans.py."""
    C, assigned = _kmeans_fit(spark, sf_dir)
    return _kmeans_violations(spark, sf_dir, C, assigned)


# ---------------------------------------------------------------------------
# embedding_pq — product quantization (PQ) codebook encode + error report
# ---------------------------------------------------------------------------

# PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011 — public method): split the 64-dim vector into M subspaces,
# k-means each subspace independently, store M small codes per vector.
# 64 doubles (512 bytes) compress to M bytes — the memory move that lets
# billion-vector indexes fit in RAM; asymmetric distance runs on codes.
_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace (M * SUB must equal the embedding dim)
_PQ_K = 16  # centroids per subspace → one code is 4 bits
_PQ_ITERS = 4
_PQ_TRAIN_CAP = 512  # driver-side training sample cap (IVF's trade)


def _pq_train(X: "object") -> "list":
    """Per-subspace `_lloyd` on the driver sample — deterministic for a
    given sample, so the verify twin's identical re-train reproduces the
    SAME float64 codebooks bit for bit. Returns M arrays of (K, SUB)."""
    return [
        _lloyd(X[:, m * _PQ_SUB : (m + 1) * _PQ_SUB], _PQ_K, _PQ_ITERS)
        for m in range(_PQ_M)
    ]


def _pq_encode_batch(C: "list", Xb: "object"):
    """(codes, recon_err) for one batch of raw float64 vectors — the
    encode kernel's arithmetic, factored module-level so the property
    fuzz (tests/test_pq_fuzz.py) can drive it against an independent
    pure-Python reference. Every op is a defined IEEE sequence: distances
    accumulate PER-DIMENSION IN ASCENDING ORDER, assignment is the FIRST
    minimum, recon_err sums subspace minima in ascending subspace order —
    bitwise reproducible in any engine that replays that sequence."""
    import numpy as np

    n = Xb.shape[0]
    codes = np.zeros((n, _PQ_M), dtype=np.int64)
    err = np.zeros(n)
    for m in range(_PQ_M):
        Xs = Xb[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
        D = np.zeros((n, _PQ_K))
        for j in range(_PQ_SUB):  # dim-ascending fold == JVM order
            diff = Xs[:, j][:, None] - C[m][None, :, j]
            D += diff * diff
        a = D.argmin(axis=1)  # first minimum, like array_position
        codes[:, m] = a
        err += D[np.arange(n), a]  # subspace-ascending, like JVM sum
    return codes, err


def _pq_fit(spark: SparkSession, sf_dir: str):
    """(codebooks, encoded frame). Encoding distances accumulate
    PER-DIMENSION IN ASCENDING ORDER — the exact IEEE op sequence the
    verify twin's JVM fold replays, so code assignments and recon_err
    are BITWISE comparable across the two paths (no tie tolerance
    needed: both sides take the first minimum)."""
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    n_corpus = _corpus_rows(sf_dir, e)  # parallelism sizing only
    sample = _train_sample(e, _PQ_TRAIN_CAP)
    X = _emb_matrix(r["emb"] for r in sample)
    books = _pq_train(X)
    bc = spark.sparkContext.broadcast(books)

    def encode(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            Xb = _emb_matrix(pdf["emb"])
            codes, err = _pq_encode_batch(C, Xb)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "emb": pdf["emb"].to_numpy(),
                    "codes": ["-".join(str(c) for c in row) for row in codes],
                    "recon_err": err,
                }
            )

    enc = _sized_scan(e, n_corpus).mapInPandas(
        encode,
        schema="vec_id long, emb array<double>, codes string, recon_err double",
    )
    return books, enc


@register("embedding_pq")  # rows-only: k-means codebooks aren't SQL-expressible
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: each vector compresses to {M} 4-bit
    codes (one per 8-dim subspace, nearest of {K} per-subspace k-means
    centroids) plus its exact reconstruction error — 128× smaller than
    the raw doubles, the standard memory layout under billion-scale ANN.

    Scale shape: codebooks train driver-side on a capped strided sample
    (M × K × 8 doubles of driver state — the IVF trade); encoding is one
    Arrow-batched map over the corpus, no shuffle at all. The codes
    column is the '-'-joined integer string (array columns can't be
    driver-hashed); exactness of every assignment is driver-checked by
    embedding_pq_verify's empty-relation contract."""
    _, enc = _pq_fit(spark, sf_dir)
    return enc.select("vec_id", "codes", "recon_err")


_PQ_VERIFY_ORACLE = """
SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS subspace,
       CAST(NULL AS VARCHAR) AS kind
WHERE 1 = 0
"""


@register("embedding_pq_verify", oracle=_PQ_VERIFY_ORACLE)
def embedding_pq_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable exactness proof for embedding_pq: re-train the
    deterministic codebooks, then recompute every assignment JVM-side —
    a literal expression fold per (subspace, centroid), accumulating
    per-dimension in the same ascending order as the encoder — and emit
    one row per violation: a code that is not the first-minimum
    centroid of its subspace ('code'), a code outside [0, K) ('range'),
    or a reconstruction error that is not the bitwise sum of the
    subspace minima ('err'). Expected output: EMPTY (the oracle is the
    empty relation, so the driver turns any violation red). Liveness —
    a planted corruption IS flagged — pins in tests/test_pq.py.

    The JVM/numpy bitwise agreement is BY CONSTRUCTION: both paths run
    (x_j − c_j)² adds dim-ascending and pick the first minimum, so no
    tie tolerance is needed anywhere."""
    books, enc = _pq_fit(spark, sf_dir)
    return _pq_violations(books, enc)


def _pq_violations(books: "list", enc: DataFrame) -> DataFrame:
    """Violation rows for an encoded frame against the codebooks —
    factored from embedding_pq_verify so the liveness test can corrupt
    `enc` and assert the exact planted rows come back.

    Structure (two CLAUDE.md rules at once):
    - bpe_verify rule: ALL checks project off ONE scan as a
      filtered-array explode of per-row violation kinds — the first cut
      union'd 17 filter branches over a persisted encode and re-walked
      the corpus per branch (6.5s at sf0.1).
    - deep-generated-tree rule: the M·K distance folds are SQL TEXT
      (selectExpr), not Python-lambda HOFs — each pyspark lambda costs
      py4j round trips at EAGER ANALYSIS time, and 128 of them took
      ~5-6s of driver-side plan build PER REP (execution was ~1s). The
      SQL text parses JVM-side in milliseconds; the runtime fold is the
      same zip_with + aggregate loop (unrolled literal trees compile
      past Janino's 64 KB method limit into interpreted fallback).
    The folds accumulate dim-ascending from 0.0 and take the first
    minimum — the encoder's exact IEEE op sequence, so the comparison
    stays bitwise with no tie tolerance."""

    def dist_sql(m: int, k: int) -> str:
        # CAST('<repr>' AS DOUBLE): repr round-trips the float64 exactly
        # and string-cast parses via Double.parseDouble — a bare SQL
        # decimal literal would be DECIMAL-typed (CLAUDE.md)
        arr = ", ".join(
            f"CAST('{float(books[m][k, j])!r}' AS DOUBLE)" for j in range(_PQ_SUB)
        )
        return (
            f"aggregate(zip_with(slice(emb, {m * _PQ_SUB + 1}, {_PQ_SUB}), "
            f"array({arr}), (a, b) -> (a - b) * (a - b)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    checks = enc.selectExpr(
        "vec_id",
        "emb",
        "recon_err",
        "transform(split(codes, '-'), s -> CAST(s AS BIGINT)) AS code_arr",
    )
    darrs = checks.selectExpr(
        "*",
        *[
            f"array({', '.join(dist_sql(m, k) for k in range(_PQ_K))}) AS d{m}"
            for m in range(_PQ_M)
        ],
    )
    kinds = []
    for m in range(_PQ_M):
        assigned = f"element_at(code_arr, {m + 1})"
        kinds.append(
            f"IF({assigned} < 0 OR {assigned} >= {_PQ_K}, "
            f"named_struct('subspace', CAST({m} AS BIGINT), 'kind', 'range'), NULL)"
        )
        kinds.append(
            f"IF(array_position(d{m}, array_min(d{m})) - 1 != {assigned}, "
            f"named_struct('subspace', CAST({m} AS BIGINT), 'kind', 'code'), NULL)"
        )
    # left-associative + chain == the encoder's subspace-ascending sum
    err_sum = " + ".join(f"array_min(d{m})" for m in range(_PQ_M))
    kinds.append(
        f"IF(({err_sum}) != recon_err, "
        f"named_struct('subspace', CAST(-1 AS BIGINT), 'kind', 'err'), NULL)"
    )
    return darrs.selectExpr(
        "vec_id",
        f"explode(filter(array({', '.join(kinds)}), x -> x IS NOT NULL)) AS v",
    ).selectExpr("vec_id", "v.subspace AS subspace", "v.kind AS kind")


# ---------------------------------------------------------------------------
# embedding_pq_topk — ADC (asymmetric distance) top-k retrieval over PQ codes
# ---------------------------------------------------------------------------

# The search half of PQ (Jégou et al. 2011 §IV — public method): queries
# stay RAW while the corpus is scored from its codes alone. Per query,
# precompute an M×K lookup table LUT[m][k] = <q_m, C[m][k]> (one inner
# product per subspace centroid); the approximate inner product of q with
# any encoded vector is then M table lookups + adds — no access to the
# raw corpus doubles. Top candidates by approximate cosine are re-ranked
# with the exact cosine on their raw vectors (the standard refine step),
# so emitted scores are exact and only RECALL is approximate.
_PQ_CAND = 8 * _TOP_K  # per-partition ADC candidates kept per query


def _collect_queries(e: DataFrame) -> "list":
    """[(q_id, x, q_nrm)] for the non-zero-norm query vectors, sorted by
    vec_id — collected driver-side (tiny by the _N_QUERIES contract,
    ann_ivf's pattern); norms are `_seq_norm`, the refine _dot's
    sequential fold, so the zero-norm exclusion matches it exactly."""
    import numpy as np

    out = []
    for r in sorted(
        e.filter(col("vec_id") < _N_QUERIES).collect(), key=lambda r: r["vec_id"]
    ):
        x = np.asarray(r["emb"], dtype=np.float64)
        nrm = float(_seq_norm(x[None, :])[0])
        if nrm != 0.0:  # zero-norm query has no cosine neighbors
            out.append((int(r["vec_id"]), x, nrm))
    return out


def _query_luts(books: "list", queries: "list") -> "object":
    """(Q, M, K) ADC lookup tables: LUT[q][m][k] = <q_m, books[m][k]>."""
    import numpy as np

    luts = [
        np.stack(
            [books[m] @ x[m * _PQ_SUB : (m + 1) * _PQ_SUB] for m in range(_PQ_M)]
        )
        for _, x, _ in queries
    ]
    return np.stack(luts) if luts else np.zeros((0, _PQ_M, _PQ_K))


def _adc_scan_kernel(bc):
    """mapInPandas kernel of `_adc_search`: ADC-score every input row
    against every query from codes alone and keep a RUNNING
    per-partition top-_PQ_CAND per query — state is bounded at
    Q × _PQ_CAND rows however large the partition, merged per Arrow
    batch with a deterministic (score DESC, vec_id ASC) cut.

    bc.value = (q_id_arr, L, consts, probes). consts/probes are None for
    plain PQ; for IVFADC consts is the (Q, cells) <q, c(cell)> matrix
    (the residual decomposition's per-cell constant) and probes the
    per-query probed cell sets — rows outside a query's probed cells are
    masked INSIDE the map, which IS the IVF cut: the corpus never joins
    or shuffles before candidates exist."""
    import numpy as np
    import pandas as pd

    def adc_scan(batches):
        q_id_arr, L, CN, probe_sets = bc.value  # L: (Q, M, K)
        nq = len(q_id_arr)
        if nq == 0:
            return
        best = [
            {"score": np.empty(0), "vec_id": np.empty(0, dtype=np.int64), "emb": []}
            for _ in range(nq)
        ]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(
                [[int(c) for c in s.split("-")] for s in pdf["codes"]],
                dtype=np.int64,
            )
            X = _emb_matrix(pdf["emb"])
            vec_ids = pdf["vec_id"].to_numpy()
            # zero-norm corpus vectors have no cosine: all-zero components
            # is the EXACT predicate for sum-of-squares == 0 (non-negative
            # terms can't cancel), matching the refine's nrm > 0 filter
            nonzero = (X != 0).any(axis=1)
            nrm = np.sqrt((X * X).sum(axis=1))
            # adc[i, q] = sum_m LUT[q][m][codes[i, m]] — approximate <q, x>
            adc = np.zeros((len(pdf), nq))
            for m in range(_PQ_M):
                adc += L[:, m, codes[:, m]].T
            cells = None
            if CN is not None:
                cells = pdf["cell"].to_numpy()
                adc += CN[:, cells].T  # + <q, c(cell)> per (row, query)
            with np.errstate(divide="ignore", invalid="ignore"):
                score = adc / nrm[:, None]  # ÷q_nrm is rank-invariant per query
            for qi in range(nq):
                keep = nonzero & (vec_ids != q_id_arr[qi])
                if probe_sets is not None:
                    keep &= np.isin(cells, list(probe_sets[qi]))
                s, v = score[keep, qi], vec_ids[keep]
                emb_vals = [x for x, k in zip(pdf["emb"], keep) if k]
                s = np.concatenate([best[qi]["score"], s])
                v = np.concatenate([best[qi]["vec_id"], v])
                emb_vals = best[qi]["emb"] + emb_vals
                order = np.lexsort((v, -s))[:_PQ_CAND]
                best[qi] = {
                    "score": s[order],
                    "vec_id": v[order],
                    "emb": [emb_vals[i] for i in order],
                }
        out = {
            "q_id": np.concatenate(
                [np.full(len(b["vec_id"]), q, dtype=np.int64)
                 for q, b in zip(q_id_arr, best)]
            ),
            "vec_id": np.concatenate([b["vec_id"] for b in best]),
            "emb": [x for b in best for x in b["emb"]],
        }
        if len(out["q_id"]):
            yield pd.DataFrame(out)

    return adc_scan


def _adc_refine_topk(spark: SparkSession, cands: DataFrame, queries: "list") -> DataFrame:
    """Exact refine + top-k over an ADC candidate frame: nrm and cosine
    recomputed JVM-side with the shared left-to-right _dot fold, so
    every emitted pair carries the bitwise-exact cosine the verify twins
    hold it to; the window sees only the tiny candidate set."""
    q_df = spark.createDataFrame(
        [(q, x.tolist(), n) for q, x, n in queries],
        "q_id long, q_emb array<double>, q_nrm double",
    )
    sims = (
        cands.join(broadcast(q_df), "q_id")
        .withColumn("nrm", F.sqrt(_dot(col("emb"), col("emb"))))
        .filter(col("nrm") > 0)
        .select(
            "q_id",
            col("vec_id").alias("n_id"),
            (_dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(col("cosine").desc(), col("n_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cosine", "rank")
    )


def _adc_search(
    spark: SparkSession, codes: DataFrame, books: "list", queries: "list", coarse=None
) -> DataFrame:
    """The ADC query half shared by embedding_pq_topk, similarity_ivfpq
    and the persisted index's vector_index_search: per-query LUTs
    against `books` and, for IVFADC (`coarse` given), the <q, c(cell)>
    constants and `_probe_cells` sets; ONE `_adc_scan_kernel` Arrow scan
    of `codes` (vec_id, emb, codes, plus cell for IVFADC), then the
    exact refine."""
    import numpy as np

    consts = probes = None
    if coarse is not None:
        probes = [set(_probe_cells(coarse, x)) for _, x, _ in queries]
        consts = (
            np.stack([coarse @ x for _, x, _ in queries])
            if queries
            else np.zeros((0, coarse.shape[0]))
        )
    bc = spark.sparkContext.broadcast(
        ([q for q, _, _ in queries], _query_luts(books, queries), consts, probes)
    )
    cands = codes.mapInPandas(
        _adc_scan_kernel(bc), schema="q_id long, vec_id long, emb array<double>"
    )
    return _adc_refine_topk(spark, cands, queries)


def _exact_pair_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity_topk's brute-force lineage WITHOUT the top-k cut — the
    independently-derived exact cosine pair set every refine-exactness
    verify twin compares its ANN output against."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    n = e.withColumn("nrm", F.sqrt(_dot(col("emb"), col("emb")))).filter(
        col("nrm") > 0
    )
    q = n.filter(col("vec_id") < _N_QUERIES).select(
        col("vec_id").alias("q_id"),
        col("emb").alias("q_emb"),
        col("nrm").alias("q_nrm"),
    )
    return n.join(broadcast(q), col("vec_id") != col("q_id")).select(
        "q_id",
        col("vec_id").alias("n_id"),
        (_dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).alias(
            "cosine"
        ),
    )


@register("embedding_pq_topk")  # rows-only: PQ recall < 1 by design
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k: the retrieval path that makes embedding_pq's codes
    useful. Shares the trained codebooks and encoded corpus with
    embedding_pq via _pq_fit, so it queries exactly the artifact that
    operator stores.

    Scale shape (the reason PQ exists at billion scale): query LUTs are
    Q × M × K doubles of driver state (8×8×16 here — kmeans-class);
    scoring is ONE Arrow-batched map over the codes with a per-partition
    top-{cand} cut per query, so the corpus is scanned once and NEVER
    shuffled — only partitions × Q × {cand} candidate rows leave the
    map. Refine joins the tiny candidate set against the broadcast query
    frame and computes the exact cosine JVM-side with the shared
    left-to-right _dot fold (bitwise equal to similarity_topk's), so
    embedding_pq_search_verify can hold every emitted pair to exactness.
    The final window sees ≤ partitions × Q × {cand} rows, not Q × N."""
    books, enc = _pq_fit(spark, sf_dir)

    # Queries are tiny by contract (_N_QUERIES): collect raw vectors and
    # build the per-query subspace LUTs driver-side (ann_ivf's probe-list
    # pattern — at large Q this becomes a broadcast join against a
    # codebook table instead).
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    return _adc_search(
        spark, enc.select("vec_id", "emb", "codes"), books, _collect_queries(e)
    )


@register("embedding_pq_search_verify", oracle=_ANN_VERIFY_ORACLE)
def embedding_pq_search_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable refine-exactness proof for embedding_pq_topk —
    the similarity_ann_verify contract applied to the ADC pipeline:
    recompute the FULL exact cosine pair set independently and emit one
    row per violated claim (a pair whose cosine isn't the bitwise exact
    cosine or that references a self/zero-norm pair, a rank that isn't
    the (cosine DESC, n_id) row number over the emitted set, a query
    exceeding top-k). Expected output: EMPTY against the empty-relation
    oracle, so any violation flips the driver verdict red. Recall (<1 by
    design) is pinned separately in tests/test_pq_search.py along with a
    planted-neighbor liveness check.

    Scale shape: the exact side is similarity_topk's broadcast-Q corpus
    scan; the ADC output is ≤ Q × k rows, so every violation join is
    broadcast-trivial — cost is the verification corpus scan, run at
    bench SF, not production."""
    return _ann_violations(
        embedding_pq_topk(spark, sf_dir), _exact_pair_set(spark, sf_dir), "pq_adc"
    ).orderBy("algo", "q_id", "n_id", "kind")


# ---------------------------------------------------------------------------
# similarity_ivfpq — composed IVF + residual-PQ ANN (the FAISS IVFADC shape)
# ---------------------------------------------------------------------------

# The production composition of this module's two halves (Jégou et al.
# 2011 §V, "IVFADC" — public method): a coarse k-means quantizer routes
# every vector to a cell; PQ encodes the RESIDUAL x − c(cell) with
# codebooks shared across cells; a query probes its nprobe nearest
# cells and scores only their members from codes — approximate
# <q, x> ≈ <q, c(cell)> (one constant per probed cell) + Σ_m
# LUT_q[m][code_m] over the residual codebooks. At billion scale this
# is why both halves exist: IVF bounds the scan to nprobe/cells of the
# corpus, PQ bounds the bytes touched per scanned row.


def _coarse_assign(Xb: "object", C: "object") -> "object":
    """Coarse-cell argmin with a fully-defined IEEE op sequence:
    (x_j − c_j)² accumulated PER-DIMENSION IN ASCENDING ORDER, first
    minimum — _pq_encode_batch's exact discipline applied to the cell
    assignment. The |c|² − 2·x·c gemm form it replaces was 1-ulp
    batch-SHAPE-dependent (BLAS dispatches different dgemm kernels by
    matrix size, changing accumulation order), which is harmless inside
    ONE encode pass but turns the incremental-vs-one-shot parity the
    persisted-index verify twins enforce (vector_index.py — per-slice
    encodes compared against a full-corpus encode, different Arrow
    batch shapes) into a latent near-tie coin flip. Per-dimension
    elementwise ops have no cross-row reduction, so row i's distances
    are a pure function of row i — batch-shape-independent by
    construction (r13 review finding)."""
    import numpy as np

    n, cells = Xb.shape[0], C.shape[0]
    D = np.zeros((n, cells))
    for j in range(Xb.shape[1]):  # dim-ascending fold, like the encoder
        diff = Xb[:, j][:, None] - C[None, :, j]
        D += diff * diff
    return D.argmin(axis=1)


def _ivfpq_train_from_sample(sample: "list"):
    """(coarse_centroids, residual_books) from a collected sample —
    the IVFADC training half factored out of _ivfpq_fit so the
    persisted-index build (vector_index._fit_from_base) trains with the
    LITERAL same recipe: vec_id sort is the caller's job, strided
    seedless coarse init, residual PQ books via the deterministic
    per-dimension assignment."""
    X = _emb_matrix(r["emb"] for r in sample)
    coarse = _train_centroids(sample, _IVF_CELLS)
    books = _pq_train(X - coarse[_coarse_assign(X, coarse)])
    return coarse, books


def _ivfpq_encode_frame(frame: DataFrame, coarse, books) -> DataFrame:
    """One Arrow-batched map over (vec_id, emb): deterministic coarse
    assignment (_coarse_assign) + residual PQ codes via the shared,
    fuzzed _pq_encode_batch kernel — the single encode definition
    consumed by _ivfpq_fit AND the persisted index's build/append/
    one-shot-parity paths (vector_index.py), so the two families cannot
    drift (r13 review finding; the _curation_gated pattern). Emits
    (vec_id, emb, cell, codes); callers pick the partitioning."""
    import numpy as np
    import pandas as pd

    spark = frame.sparkSession
    bc = spark.sparkContext.broadcast((coarse, books))

    def encode(batches):
        C, B = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            Xb = _emb_matrix(pdf["emb"])
            cell = _coarse_assign(Xb, C)
            codes, _ = _pq_encode_batch(B, Xb - C[cell])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "emb": pdf["emb"].to_numpy(),
                    "cell": cell.astype(np.int32),
                    "codes": ["-".join(str(c) for c in row) for row in codes],
                }
            )

    return frame.select("vec_id", "emb").mapInPandas(
        encode,
        schema="vec_id long, emb array<double>, cell int, codes string",
    )


def _ivfpq_fit(spark: SparkSession, sf_dir: str):
    """(coarse_centroids, residual_books, encoded frame). The encoded
    frame carries (vec_id, emb, cell, codes). Training reuses the two
    halves' recipes on ONE capped, vec_id-sorted driver sample (layout-
    independent like _pq_fit); the corpus encode is the shared
    _ivfpq_encode_frame Arrow map (deterministic per-dimension cell
    assignment + the fuzzed _pq_encode_batch residual kernel)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    n_corpus = _corpus_rows(sf_dir, e)  # parallelism sizing only
    sample = _train_sample(e, _PQ_TRAIN_CAP)
    coarse, books = _ivfpq_train_from_sample(sample)
    enc = _ivfpq_encode_frame(_sized_scan(e, n_corpus), coarse, books)
    return coarse, books, enc


@register("similarity_ivfpq")  # rows-only: IVF+PQ recall < 1 by design
def similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-k: probe {nprobe} coarse cells per query, ADC-score
    their members from residual codes alone, exact-cosine refine.

    Scale shape — the strongest in the ANN family: per query the scan
    touches ~nprobe/cells of the corpus (cell mask applied INSIDE the
    one Arrow map — the corpus never shuffles, never joins before the
    cut), and each scanned row costs M int lookups + adds instead of a
    dim-length float fold. Driver state is (cells×dim) + (M×K×SUB)
    doubles of codebooks plus Q×M×K LUT entries and Q×nprobe cell
    constants — all independent of N. Only partitions × Q × CAND
    candidate rows reach the broadcast-query refine join and final
    window (embedding_pq_topk's contract; the shared _ann_violations
    claims are driver-checked by similarity_ivfpq_verify)."""
    coarse, books, enc = _ivfpq_fit(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("emb")
    )
    return _adc_search(
        spark, enc.select("vec_id", "emb", "cell", "codes"), books,
        _collect_queries(e), coarse,
    )


@register("similarity_ivfpq_verify", oracle=_ANN_VERIFY_ORACLE)
def similarity_ivfpq_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refine-exactness proof for similarity_ivfpq — the same
    empty-relation contract as similarity_ann_verify /
    embedding_pq_search_verify, applied to the composed index: every
    emitted pair must carry the bitwise-exact cosine (and reference no
    self/zero-norm pair), ranks must be the (cosine DESC, n_id) row
    numbers, no query may exceed top-k. Recall (<1 by design: nprobe
    misses AND code distortion) is pinned in tests/test_ivfpq.py."""
    return _ann_violations(
        similarity_ivfpq(spark, sf_dir), _exact_pair_set(spark, sf_dir), "ivfpq"
    ).orderBy("algo", "q_id", "n_id", "kind")


# ---------------------------------------------------------------------------
# rag_hybrid_retrieval — lexical ∪ dense top-k fused by reciprocal rank
# ---------------------------------------------------------------------------

# The retrieval move RAG data pipelines actually ship: BM25 and embedding
# cosine each produce a top-k list per query, and reciprocal-rank fusion
# (Cormack et al. 2009) merges them with score = Σ 1/(K + rank) over the
# lists a document appears in. Rank-based fusion needs no score
# normalization across the two incomparable scales — and because ranks
# are small exact integers, the fused score is a sum of at most two
# IEEE divisions of exact ints, bit-identical across engines (the BM25
# and cosine DOUBLES never cross the fusion boundary, only their ranks).
_RRF_K = 60  # the standard damping constant


def _hybrid_oracle() -> str:
    from cqlcopy_spark.operators.text import _BM25_ORACLE

    return f"""
WITH bm AS (
{_BM25_ORACLE}
),
dn AS (
{_TOPK_ORACLE}
),
fused AS (
  SELECT COALESCE(bm.q_id, dn.q_id) AS q_id,
         COALESCE(bm.doc_id, dn.n_id) AS doc_id,
         bm.rank AS lex_rank,
         dn.rank AS sem_rank,
         COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + bm.rank), CAST(0 AS DOUBLE))
           + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + dn.rank), CAST(0 AS DOUBLE))
           AS rrf
  FROM bm FULL OUTER JOIN dn
    ON bm.q_id = dn.q_id AND bm.doc_id = dn.n_id
),
rr AS (
  SELECT q_id, doc_id, lex_rank, sem_rank, rrf,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
)
SELECT q_id, doc_id, lex_rank, sem_rank, rrf, rank
FROM rr WHERE rank <= {_TOP_K}
"""


@register("rag_hybrid_retrieval", oracle=_hybrid_oracle())
def rag_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-k (text._bm25_rank, the standalone
    op's exact relation) and exact-cosine top-k (_dense_topk, ditto)
    fused per query by reciprocal-rank fusion, re-ranked, top-k kept.
    Documents and embeddings share the id space (FIXTURES.md), so the
    two lists key naturally.

    Scale shape: each half keeps its own 100 TB story (posting-list
    probe / broadcast-NLJ scan); the fusion itself only ever sees
    ≤ 2·Q·k candidate rows — a workload constant — so the full-outer
    join and the re-rank window are free at any corpus size. NULL rank
    = "absent from that list" (kept, not coalesced: the column is the
    fusion diagnostic a retrieval engineer reads first)."""
    from cqlcopy_spark.operators.text import _bm25_corpus, _bm25_rank

    lex = _bm25_rank(_bm25_corpus(spark, sf_dir)).select(
        "q_id", "doc_id", col("rank").alias("lex_rank")
    )
    den = _dense_topk(spark, sf_dir).select(
        "q_id", col("n_id").alias("doc_id"), col("rank").alias("sem_rank")
    )
    return _rrf_fuse(lex, den)


def _rrf_fuse(lex: DataFrame, den: DataFrame) -> DataFrame:
    """RRF fusion kernel over (q_id, doc_id, lex_rank) / (q_id, doc_id,
    sem_rank) ranked lists — factored so the fusion arithmetic and
    re-rank are property-fuzzable against a pure-Python reference on
    arbitrary synthetic lists (tests/test_hybrid_retrieval.py)."""
    fused = lex.join(den, ["q_id", "doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + col("sem_rank")), F.lit(0.0))
    w = Window.partitionBy("q_id").orderBy(col("rrf").desc(), col("doc_id"))
    return (
        fused.withColumn("rrf", rrf)
        .withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= _TOP_K)
        .select("q_id", "doc_id", "lex_rank", "sem_rank", "rrf", "rank")
    )


# ---------------------------------------------------------------------------
# triplet_mining — deterministic (anchor, positive, negatives) for
# contrastive training
# ---------------------------------------------------------------------------

# The training-pair construction step of a contrastive embedding run:
# per anchor query, the positive is its nearest neighbor and the
# negatives are a deterministic pseudo-random draw from OUTSIDE the
# top-k (so they are true negatives under the current metric, not
# hard-positive leakage). The draw orders candidates by the portable
# composite ring hash of (q_id, n_id) — reproducible across runs,
# engines, and partition layouts, unlike rand()-seeded sampling.
_N_NEG = 3


def _triplet_oracle() -> str:
    from cqlcopy_spark.functions.portable import sql_portable_token_composite

    h = sql_portable_token_composite(["q_id", "n_id"])
    return f"""
WITH {_SQL_RANKED_CTES},
pos AS (
  SELECT q_id, 'pos' AS role, 1 AS pick, n_id, cosine
  FROM ranked WHERE rank = 1
),
negpool AS (
  SELECT q_id, n_id, cosine, {h} AS h
  FROM ranked WHERE rank > {_TOP_K}
),
negs AS (
  SELECT q_id, 'neg' AS role,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY h, n_id) AS pick,
         n_id, cosine
  FROM negpool
)
SELECT q_id, role, CAST(pick AS BIGINT) AS pick, n_id, cosine
FROM (SELECT * FROM pos UNION ALL SELECT * FROM negs WHERE pick <= {_N_NEG})
ORDER BY q_id, role, pick
"""


@register("triplet_mining", oracle=_triplet_oracle())
def triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets per anchor: positive = exact-cosine
    rank-1 neighbor (the _ranked_sims relation similarity_topk reads),
    negatives = {n} hash-ordered draws from beyond the top-{k} (portable
    composite token of (q_id, n_id) — deterministic across engines and
    layouts, never rand()). Emits long-form rows (q_id, role, pick,
    n_id, cosine) so both roles carry their true similarity for loss
    weighting.

    Scale shape: the fixture path reuses the brute-force ranking
    (broadcast-NLJ, corpus scanned once); at production scale the
    positive comes from the ANN path (similarity_ann_ivf /
    embedding_pq_topk) and negatives are hash-sampled FIRST and then
    checked against the ANN top-k — sampling needs no ranking, so the
    brute-force window is strictly a small-SF oracle convenience.

    One-pass shape (r12 ADVICE: the previous pos ∪ negs self-union
    persisted the Q×N ranking for the session — curation.py:570's
    lifetime problem): both roles are a single filter + window over ONE
    read of the ranking, so nothing needs a persist at all. The pick
    window partitions by (q_id, role); the pos partition holds exactly
    one row (rank == 1), so its row_number is 1 under any order, and the
    neg partition orders by (h, n_id) exactly as the two-branch form
    did. HashPartitioning(q_id) from the rank window satisfies the
    (q_id, role) clustering, so the second window adds a sort, not a
    shuffle."""
    from cqlcopy_spark.functions.portable import portable_token_composite

    ranked = _ranked_sims(spark, sf_dir)
    cand = (
        ranked.filter((col("rank") == 1) | (col("rank") > _TOP_K))
        .withColumn(
            "role", F.when(col("rank") == 1, F.lit("pos")).otherwise(F.lit("neg"))
        )
        .withColumn("h", portable_token_composite([col("q_id"), col("n_id")]))
    )
    w = Window.partitionBy("q_id", "role").orderBy("h", "n_id")
    # no trailing orderBy: the driver hash is order-insensitive and the
    # sort would add a range exchange (CLAUDE.md) — the oracle's ORDER
    # BY is cosmetic there too
    return (
        cand.withColumn("pick", F.row_number().over(w))
        .filter((col("role") == "pos") | (col("pick") <= _N_NEG))
        .select(
            "q_id", "role", col("pick").cast("long").alias("pick"), "n_id", "cosine"
        )
    )


# ---------------------------------------------------------------------------
# retrieval_eval_metrics — recall@k / precision@k / MRR of the ANN list
# ---------------------------------------------------------------------------

# The evaluation half of the retrieval stack (classifier_eval_auc's role
# for classifiers, applied to ANN indexes): score the fully-oracled grid
# ANN list against the exact top-k as ground truth. Metric choice is
# dictated by the cross-engine bitwise rule: recall@k, precision@k and MRR are RATIONAL (one IEEE division of exact ints each), while NDCG
# needs log2 — a transcendental the portability contract forbids
# (CLAUDE.md; same reason the BM25 idf is rational) — so NDCG is out by
# design, not omission. Ground truth = similarity_topk's exact relation;
# candidate list = similarity_ann_grid's (both already factored, both
# SQL-expressible, so THIS op keeps a full value-hash oracle — the
# rows-only ANN variants get their recall floors in tests instead).


def _retrieval_eval_oracle() -> str:
    return f"""
WITH ann AS (
{_GRID_ORACLE}
),
ex AS (
{_TOPK_ORACLE}
),
hits AS (
  SELECT ann.q_id, COUNT(*) AS n_hits, MIN(ann.rank) AS first_hit
  FROM ann JOIN ex ON ann.q_id = ex.q_id AND ann.n_id = ex.n_id
  GROUP BY ann.q_id
),
ann_n AS (SELECT q_id, COUNT(*) AS n_ann FROM ann GROUP BY q_id),
ex_n AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY q_id)
SELECT ex_n.q_id,
       CAST(COALESCE(ann_n.n_ann, 0) AS BIGINT) AS n_ann,
       CAST(ex_n.n_exact AS BIGINT) AS n_exact,
       CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / ex_n.n_exact AS recall_at_k,
       CASE WHEN COALESCE(ann_n.n_ann, 0) = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / ann_n.n_ann
       END AS precision_at_k,
       CASE WHEN hits.first_hit IS NULL THEN CAST(0 AS DOUBLE)
            ELSE CAST(1 AS DOUBLE) / hits.first_hit
       END AS mrr
FROM ex_n
LEFT JOIN ann_n ON ann_n.q_id = ex_n.q_id
LEFT JOIN hits ON hits.q_id = ex_n.q_id
"""


@register("retrieval_eval_metrics", oracle=_retrieval_eval_oracle())
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query retrieval quality of the grid-LSH ANN list against the
    exact top-k ground truth: recall@k, precision@k, MRR (rank of the
    first true neighbor in the candidate list). The production loop this
    represents: every index build (similarity_ann_*, embedding_pq_topk,
    similarity_ivfpq, similarity_index_incremental) is scored on a held
    query set before it replaces the serving index — here both lists are
    deterministic and SQL-expressible, so the whole evaluation is
    driver-hash-checked end to end.

    Scale shape: both inputs are the standalone ops' exact factored
    relations (≤ Q×k rows each at any corpus size — the expensive part
    is INSIDE those ops and already has its own 100 TB story); the
    metrics are three Q-sized aggregates and two Q-key joins. All
    ratios are single IEEE divisions of exact ints (NDCG's log2 is
    excluded by the transcendental portability rule, not forgotten —
    see the section comment).

    Both inputs persist: each feeds a Q-key aggregate AND the hits
    join, and unpersisted the Q×N brute-force ranking and the grid
    pipeline each ran TWICE per action (r13 review: 8 scans, 12
    windows, 0 reused exchanges). The persisted frames are the ≤ Q×k
    OUTPUTS — tiny — while the lineage behind them is the expensive
    part; session lifetime per the curation.py:570 convention
    (bench/driver clearCache between queries)."""
    return _retrieval_metrics(
        similarity_ann_grid(spark, sf_dir), _dense_topk(spark, sf_dir)
    )


def _retrieval_metrics(ann_list: DataFrame, exact_list: DataFrame) -> DataFrame:
    """The metric kernel of retrieval_eval_metrics factored over ANY
    (q_id, n_id, rank) candidate list vs exact ground-truth list — so the
    persisted-index promotion gate (vector_index.similarity_index_eval)
    scores with the LITERAL same arithmetic the oracled grid evaluation
    is driver-hash-checked on, and the two can't drift (r13 VERDICT
    item 6). Inputs are ≤ Q×k-row relations; both persist here because
    each feeds a Q-key aggregate AND the hits join (see caller
    docstring)."""
    ann = ann_list.persist().alias("ann")
    ex = exact_list.persist().alias("ex")
    # materialize the caches NOW: the three metric branches are
    # independent stages of one job and otherwise RACE to populate an
    # unfilled cache, recomputing the expensive lineage per branch
    # (r14 audit: similarity_index_eval measured ~2x its component sum
    # until this). Each count touches ≤ Q×k cached rows. The two
    # pipelines are independent, so the materializing counts run
    # CONCURRENTLY (guide §2.6) — the grid and brute-force lineages
    # back-fill each other's stragglers instead of serializing.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(lambda f: f.count(), (ann, ex)))
    hits = (
        ann.join(
            ex.select(col("q_id").alias("hq"), col("n_id").alias("hn")),
            (col("ann.q_id") == col("hq")) & (col("ann.n_id") == col("hn")),
        )
        .groupBy(col("ann.q_id").alias("q_id"))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("ann.rank").alias("first_hit"),
        )
    )
    ann_n = ann.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_ann"))
    ex_n = ex.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    out = (
        ex_n.join(ann_n, "q_id", "left")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(col("n_ann"), F.lit(0)).cast("long").alias("n_ann"),
            col("n_exact").cast("long").alias("n_exact"),
            F.coalesce(col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(col("n_hits"), F.lit(0)).cast("double")
                / col("n_exact")
            ).alias("recall_at_k"),
            F.when(
                F.coalesce(col("n_ann"), F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                F.coalesce(col("n_hits"), F.lit(0)).cast("double")
                / col("n_ann")
            )
            .alias("precision_at_k"),
            F.when(col("first_hit").isNull(), F.lit(0.0))
            .otherwise(F.lit(1.0).cast("double") / col("first_hit"))
            .alias("mrr"),
        )
    )
    return out
