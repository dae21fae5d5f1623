"""Deduplication operators (SURVEY.md §2C ops 29-30 + mandated extensions:
exact, n-gram Jaccard, MinHash+LSH, SimHash).

Scale posture — the one rule that matters at 100 TB: NEVER materialize the
all-pairs cross join. Every fuzzy operator here goes through an inverted
index (shared gram) or an LSH bucket join, so candidate generation is
output-bounded, then verifies exactly on the candidates only.

- dedup_exact:        hash groupBy on content — one shuffle of (text-key).
- dedup_ngram_jaccard: inverted-index join on distinct word 3-grams;
  candidate volume ∝ Σ_g df(g)², kept sane by gram rarity (and a
  stop-gram cap would bound adversarial corpora — see docstring).
- dedup_fuzzy_minhash: 32-perm MinHash → 8×4 banded LSH → bucket join →
  exact-Jaccard verify. All Spark built-ins (xxhash64 + higher-order
  array funcs); fully deterministic, so oracle-checkable against the
  exact pair set when band recall covers the dup range (it does here:
  planted dups sit at J≥0.9 where 8-band miss prob < 1e-3).
- dedup_simhash:      60-bit SimHash via an Arrow-batched pandas UDF
  (bit-matrix vote has no builtin expression), then banded Hamming join.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from cqlcopy_spark.catalog import table
from cqlcopy_spark.functions.portable import sql_portable_token
from cqlcopy_spark.operators.text import QUALITY_SQL
from cqlcopy_spark.plans.registry import register

# ---------------------------------------------------------------------------
# op 29: dedup_exact
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count, md5(text) AS text_md5
FROM documents
GROUP BY text
"""


@register("dedup_exact", oracle=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: canonical representative = min doc_id per
    distinct text. Deterministic (unlike dropDuplicates, which keeps an
    arbitrary row). One shuffle keyed by text; at scale, group by
    md5(text) instead to cap shuffle-key width — semantics identical."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("dup_count"),
        F.md5(F.col("text")).alias("text_md5"),
    ).drop("text")


# ---------------------------------------------------------------------------
# word 3-gram shingles (shared by jaccard + minhash)
# ---------------------------------------------------------------------------

def _staged_gram_expr(d: DataFrame, n: int):
    """(filtered token df, distinct-n-gram expression over its `toks`).

    Tokens are STAGED as their own projection so split(text) runs once
    per row; the gram expression references the toks attribute. The
    <n-token guard is a row FILTER (sequence(1, 0) would infer step -1
    and yield [1, 0], whose element_at(t, 0) throws, where DuckDB's
    range(1, 1) is empty) — docs shorter than the window have no grams
    and every consumer drops gram-less docs anyway."""
    toks = d.select("doc_id", F.split(col("text"), " ").alias("toks"))
    toks = toks.filter(F.size(col("toks")) >= n)
    # ONE SQL expression text instead of the transform/concat_ws Column
    # lambda (r16 — the selectExpr rule: the lambda HOF paid ~0.1 s of
    # py4j round trips per plan build, and the minhash kernel builds
    # this once per ingest batch). Same expression shape, term for term
    # (element_at(toks, i + k) for k in 0..n-1, sequence upper bound
    # size - (n-1)); value equivalence is oracle-pinned — every gram op
    # hash-checks against the independent DuckDB _GRAMS_SQL.
    parts = ", ".join(f"element_at(toks, i + {k})" for k in range(n))
    expr = F.expr(
        f"array_distinct(transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})))"
    )
    return toks, expr


def _with_grams(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, grams) — the ARRAY form (minhash signatures)."""
    toks, expr = _staged_gram_expr(d, n)
    return toks.select("doc_id", expr.alias("grams"))


def _gram_rows(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, g) — the EXPLODED form (inverted indexes). The explode
    must consume the gram EXPRESSION in the same projection as the
    staged tokens: materializing `grams` in its own Project first lets
    CollapseProject inline split(text) into every element_at of the
    lambda — an O(n·grams·|text|) blowup, observed as 1s → 20s on the
    8-gram contamination scan."""
    toks, expr = _staged_gram_expr(d, n)
    return toks.select("doc_id", F.explode(expr).alias("g"))


_GRAMS_SQL = """
list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
  i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
"""

_JACCARD_THRESHOLD = 0.5

_NGRAM_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, unnest({_GRAMS_SQL}) AS g FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
  FROM grams a JOIN grams b USING (g)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
FROM pairs
JOIN sizes s1 ON pairs.d1 = s1.doc_id
JOIN sizes s2 ON pairs.d2 = s2.doc_id
WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= {_JACCARD_THRESHOLD}
"""


#: Grams appearing in more documents than this are STOP GRAMS: they are
#: dropped from the inverted index (and from the Jaccard universe — the
#: similarity becomes "Jaccard over informative grams", the standard
#: boilerplate-removal semantics). Candidate volume is Σ_g df(g)², so one
#: boilerplate gram shared by D documents alone costs D²/2 candidate
#: pairs; the cap bounds every gram's contribution at CAP². The default
#: is far above any df in the fixtures (oracle parity: with no gram over
#: the cap, filtered == unfiltered) and far below web-scale boilerplate.
_STOP_GRAM_DF_CAP = 10_000


@register("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard ≥ 0.5 via inverted
    index: explode distinct grams, self-join on gram (candidates share at
    least one gram — anything below that can't reach J=0.5 anyway), count
    common grams per pair, compute J exactly.

    Scale: candidate volume is Σ_g df(g)² — bounded when grams are rare
    (df avg ≈ 1.6 here) and capped by the stop-gram filter
    (_STOP_GRAM_DF_CAP) on adversarial/boilerplate-heavy corpora; for
    web scale put dedup_fuzzy_minhash in front and use this as the
    verify stage."""
    d = table(spark, sf_dir, "documents")
    return _ngram_jaccard_pairs(d)


def _hashed_gram_rows(d: DataFrame) -> DataFrame:
    """(doc_id, g): distinct word-3-grams as 64-bit hashes.

    Invert on a 64-bit gram hash, not the gram string: the join key is
    a long (cheap shuffle + fast equality); Jaccard over hashed gram
    sets equals Jaccard over gram sets up to a ~n²/2⁶⁴ collision chance.
    The shingle+hash step runs as an Arrow-batched pandas kernel — the
    all-builtin formulation (transform/element_at/concat_ws/xxhash64
    lambdas, interpreted per element) spent ~4s at sf0.1 on what the
    kernel does in ~0.3s; the hash (a crc32 pair packed into 64 bits —
    dedup_simhash uses a different, SQL-mirrored fold recipe) is
    deterministic across runs and workers."""

    def _gram_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from zlib import crc32

        def _gh(g: str) -> int:
            b = g.encode()
            h = (crc32(b) << 32) | crc32(b[::-1] + b"\x9e")
            return h - (h & 0x8000000000000000) * 2  # wrap to signed int64

        for pdf in it:
            ids: list[int] = []
            gs: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                seen = {
                    " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
                }
                ids.extend([doc_id] * len(seen))
                gs.extend(_gh(g) for g in seen)
            yield pd.DataFrame({"doc_id": ids, "g": gs})

    par = d.sparkSession.sparkContext.defaultParallelism
    return (
        d.select("doc_id", "text")
        .repartition(par)  # one small parquet file = one partition otherwise
        .mapInPandas(_gram_kernel, schema="doc_id long, g long")
    )


def _ngram_jaccard_pairs(
    d: DataFrame,
    df_cap: int = _STOP_GRAM_DF_CAP,
    probe_min_doc_id: int | None = None,
) -> DataFrame:
    """(d1, d2, jaccard): near-dup pairs over the capped inverted index.

    Symmetric by default (every pair once, d1 < d2). With
    probe_min_doc_id set, the pairing is ASYMMETRIC: only docs with id ≥
    the cutoff probe the index and each reports matches among strictly
    OLDER docs (d1 = the probing/new doc) — the incremental-ingest
    shape, candidates ∝ Σ_g df_probe(g)·df_all(g).

    Formulation: the inverted index is materialized as per-gram POSTING
    LISTS (one groupBy g), and candidate pairs are generated map-side by
    exploding each list's combinations — no self-join at all. vs the
    row-level self-join this removes two index-sized shuffles AND makes
    the stop-gram df cap a free `size(docs) <= cap` filter (the old
    shape burned a separate df aggregation + broadcast anti-join that
    measured 1.8s of the 2.9s sf0.1 wall while pruning nothing). Posting
    lists are bounded by the cap (≤ 10k longs ≈ 80 KB), so no group can
    blow a task; candidate volume stays ∝ Σ df(g)², generated lazily by
    Generate, never buffered."""
    grams = _hashed_gram_rows(d)
    # persisted: feeds pair generation AND the per-doc sizes aggregate
    byg = (
        grams.groupBy("g")
        .agg(F.collect_list("doc_id").alias("docs"))
        .filter(F.size("docs") <= df_cap)
        .persist()
    )
    if probe_min_doc_id is None:
        pair_expr = (
            "flatten(transform(docs, (x, i) ->"
            " transform(slice(docs, i + 2, size(docs)),"
            " y -> named_struct('d1', least(x, y), 'd2', greatest(x, y)))))"
        )
    else:
        pair_expr = (
            f"flatten(transform(filter(docs, x -> x >= {int(probe_min_doc_id)}),"
            " x -> transform(filter(docs, y -> y < x),"
            " y -> named_struct('d1', x, 'd2', y))))"
        )
    pairs = (
        byg.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(col("p.d1").alias("d1"), col("p.d2").alias("d2"))
        .agg(F.count("*").alias("common"))
    )
    sizes = (
        byg.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jac = col("common").cast("double") / (col("s1.n") + col("s2.n") - col("common"))
    return (
        pairs.join(s1, col("d1") == col("s1.doc_id"))
        .join(s2, col("d2") == col("s2.doc_id"))
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(col("jaccard") >= _JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# op 30: dedup_fuzzy_minhash — MinHash signatures + banded LSH
# ---------------------------------------------------------------------------

_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
_N_PERM = 32
_N_BANDS = 8  # 8 bands × 4 rows
_ROWS_PER_BAND = _N_PERM // _N_BANDS

# Deterministic permutation parameters (a, b): golden-ratio multiples — no
# runtime randomness, so the operator is reproducible run-to-run.
_PERMS = [((i * 2_654_435_761 + 1) % _P, (i * 40_503 + 7) % _P) for i in range(1, _N_PERM + 1)]

# The signature projection as ONE SQL expression text (r16, the CS1/CS5
# selectExpr rule): the Column form — a 32-element array of struct
# literals, each feeding a nested transform/array_min lambda pair —
# paid ~hundreds of py4j round trips ≈ 0.37 s of driver-side build PER
# PLAN, and the streamed minhash kernel builds it once per ingest batch
# (dedup_fuzzy_minhash and contamination_neardup once per plan). One
# expr() string parses in ~ms. Expression-for-expression identical:
# named_struct == F.struct(lit.alias(...)), every literal < 2^31 is an
# INT literal in both forms, and the arithmetic promotes to BIGINT on
# contact with the xxhash64-derived `hashes` elements exactly as
# before. Value equivalence pinned by
# tests/test_plans.py::test_minhash_sig_sql_text_equivalence.
_SIG_SQL = (
    "transform(array({perms}), p -> array_min(transform(hashes, "
    "h -> pmod(p.a * pmod(h, {p}) + p.b, {p}))))".format(
        perms=", ".join(
            f"named_struct('a', {a}, 'b', {b})" for a, b in _PERMS
        ),
        p=_P,
    )
)


def _with_minhash_sig(d: DataFrame) -> DataFrame:
    """(doc_id, hashes, sig): 32-long MinHash signature over word-3-gram
    shingles, all built-ins. `hashes` (distinct RAW gram xxhash64s) is
    carried for the verify stage: Jaccard over gram-hash sets == Jaccard
    over gram sets up to a ~n²/2⁶⁴ collision chance, and longs
    shuffle/intersect far cheaper than gram strings.

    The gram
    hashes are staged as their own projection: the 32 per-permutation
    array_min folds then reference `hashes` as a cheap attribute instead
    of re-running the shingle+hash chain 32× per row (which made this
    operator ~50× slower before staging)."""
    # Gram-less docs (<3 tokens) would break minhash (array_min([]) is
    # null → every band key "" → one quadratic mega-bucket), but they
    # cannot reach here: _staged_gram_expr filters size(toks) >= n, so
    # every _with_grams row has ≥ 1 gram (pinned by
    # test_gram_builders_handle_short_docs) — no re-filter needed.
    hashed = (
        _with_grams(d)
        .select(
            "doc_id",
            "grams",
            F.transform(col("grams"), lambda g: F.xxhash64(g)).alias("hashes"),
        )
    )
    # fold into [0, P) INSIDE the permutation only: a·h' + b stays
    # < 2^62 (int64-safe under ANSI). The raw 64-bit hashes are what
    # the verify stage intersects — folding them first would raise the
    # verify's collision rate from ~n²/2^64 to ~n²/2^31. Emitted as ONE
    # SQL expression text (_SIG_SQL — see there for the plan-build
    # argument and the pinned equivalence test).
    return hashed.select("doc_id", "hashes", F.expr(_SIG_SQL).alias("sig"))


def _band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) banded-LSH rows of a (doc_id, …, sig) frame:
    the signature splits into _N_BANDS bands of _ROWS_PER_BAND hashes,
    each rendered as one underscore-joined string key. THE banding
    contract — shared by dedup_fuzzy_minhash and the streaming
    incremental sink (streaming/sinks.continuous_minhash_dedup_sink),
    whose persisted band tables must bucket identically to the batch
    op or cross-batch candidates are silently missed. Band rows carry
    ONLY (doc_id, band, key): shipping gram-hash arrays into all 8 band
    rows × both join sides multiplied the bucket shuffle by ~16× the
    array width (r5 fix) — arrays re-attach after candidate dedup."""
    return docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_N_BANDS - 1)),
                lambda j: F.concat_ws(
                    "_",
                    F.transform(
                        F.slice(col("sig"), j * _ROWS_PER_BAND + 1, _ROWS_PER_BAND),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
        ).alias("band", "key"),
    )


def _minhash_verify_pairs(cand: DataFrame, hashes: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs: re-attach both
    sides' distinct gram-hash arrays and keep pairs at J ≥ threshold.
    `cand` is (d1, d2) with d1/d2 in `hashes`(doc_id, hashes); shared by
    the batch op and the streaming sink so the refine rule can't drift."""
    verif = cand.join(
        hashes.select(col("doc_id").alias("d1"), col("hashes").alias("g1")), "d1"
    ).join(
        hashes.select(col("doc_id").alias("d2"), col("hashes").alias("g2")), "d2"
    )
    common = F.size(F.array_intersect(col("g1"), col("g2")))
    union = F.size(col("g1")) + F.size(col("g2")) - common
    jac = common.cast("double") / union
    return verif.select("d1", "d2", jac.alias("jaccard")).filter(
        col("jaccard") >= _JACCARD_THRESHOLD
    )


@register("dedup_fuzzy_minhash", oracle=_NGRAM_ORACLE)
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, the 100 TB path: signature is a
    per-row map; banding explodes each doc into 8 (band, key) rows; the
    bucket self-join only pairs docs agreeing on an entire band; exact
    Jaccard verifies candidates. No cross join anywhere.

    Shares the exact-Jaccard oracle: for this corpus every true pair sits
    at J ≥ 0.9 where the 8×4 banding miss probability is < 1e-3 — and the
    pipeline is fully deterministic, so oracle equality is stable, not
    probabilistic. (A pair at J ≈ 0.5 could legitimately be missed by
    LSH; that divergence-vs-oracle is the documented recall trade.)"""
    d = table(spark, sf_dir, "documents")
    # Persist: the bucket self-join and BOTH verify-side hash lookups
    # consume this; without it the 32-permutation signature chain (and
    # the gram kernel feeding it) replays per consumer.
    docs = _with_minhash_sig(d).persist()
    bands = _band_rows(docs)  # keys only; arrays re-attach post-dedup
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (col("a.band") == col("b.band"))
            & (col("a.key") == col("b.key"))
            & (col("a.doc_id") < col("b.doc_id")),
        )
        .select(col("a.doc_id").alias("d1"), col("b.doc_id").alias("d2"))
        .dropDuplicates(["d1", "d2"])  # a pair may collide in several bands
    )
    return _minhash_verify_pairs(cand, docs.select("doc_id", "hashes"))


# ---------------------------------------------------------------------------
# dedup_components — connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

_CC_ORACLE = f"""
WITH RECURSIVE base_pairs AS ({_NGRAM_ORACLE}),
edges AS (
  SELECT d1 AS u, d2 AS v FROM base_pairs
  UNION ALL
  SELECT d2 AS u, d1 AS v FROM base_pairs
),
reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
"""


@register("dedup_components", oracle=_CC_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-CLUSTER resolution — the step after pair detection that a
    dedup pipeline actually ships: connected components over the
    near-dup pair graph (J ≥ 0.5 edges), each doc labeled with the min
    doc_id reachable from it (singletons label themselves). Keeping one
    doc per component is then a trivial filter.

    This is the repo's iterative-algorithm shape: min-label propagation
    (join labels to neighbors → per-node min → monotone label decrease)
    looped until a fixpoint, detected by the strictly-decreasing label
    sum — one tiny driver-side scalar per round, no collect of data
    rows. Rounds ≤ component diameter (near-dup clusters are shallow;
    capped at 20). Each round persists its labels and unpersists the
    previous — bounded lineage, no runaway plan growth.

    Scale posture: the loop runs ONLY on the edge-induced subgraph.
    At corpus scale the docs that have any near-dup edge are a small
    fraction of N, so iterating over all N labels (the naive shape)
    would shuffle the whole corpus once per round for nothing —
    singletons can't change label. They get their identity label from
    one final left join after the fixpoint. The DuckDB oracle is the
    same fixpoint written as a recursive CTE.

    Adaptive execution: the pair set is output-sized — usually orders of
    magnitude smaller than the corpus. When it fits on the driver
    (≤ _CC_DRIVER_CAP edges) a single collect + union-find replaces the
    whole multi-round loop, the same small-side cutover a join makes
    when it broadcasts. The distributed loop remains the big-graph path
    and is unit-tested directly (tests/test_plans.py)."""
    # Persist the pair set BEFORE symmetrizing: both union legs reference
    # it, and without materialization each leg re-executes the whole
    # inverted-index pipeline (self-joins don't guarantee exchange
    # reuse). The pair set is the operator's OUTPUT-sized data — tiny.
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2").persist()
    # ONE bounded action decides the path AND fetches the edges (r16,
    # guide §1.4: the former count+collect ran two jobs over the same
    # cached set): limit(CAP+1) caps driver memory at CAP+1 rows at any
    # scale — if fewer come back the collected set is COMPLETE and the
    # driver path uses it; exactly CAP+1 proves the set exceeds the cap
    # and the rows are discarded for the distributed loop (whose actions
    # fill whatever cache partitions the limit scan left uncomputed).
    rows = pairs.limit(_CC_DRIVER_CAP + 1).collect()
    d = table(spark, sf_dir, "documents")
    if len(rows) <= _CC_DRIVER_CAP:
        pairs.unpersist()
        labels_df = spark.createDataFrame(
            _union_find_min_labels([(r["d1"], r["d2"]) for r in rows]),
            "doc_id long, label long",
        )
        return (
            d.select("doc_id")
            .join(broadcast(labels_df), "doc_id", "left")
            .select(
                "doc_id", F.coalesce(col("label"), col("doc_id")).alias("component")
            )
        )
    labels = _cc_min_label_loop(pairs)
    pairs.unpersist()
    return (
        d.select("doc_id")
        .join(labels.withColumnRenamed("u", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce(col("label"), col("doc_id")).alias("component")
        )
    )


# Driver cutover cap in EDGES. The real driver-side cost is CPython
# objects, not raw bytes: collect() materializes one Row per edge plus
# the tuple list (~300-500 bytes/edge all-in), so 500k edges ≈ a few
# hundred MB transient — comfortable on a normal driver, and the
# distributed loop takes over well before collect becomes the risk.
_CC_DRIVER_CAP = 500_000


def _union_find_min_labels(edges: "list[tuple[int, int]]") -> "list[tuple[int, int]]":
    """Driver-side connected components: (node, min-reachable-node) for
    every node that appears in an edge. Path-compressed union-find, then
    one pass to re-label each root with its component's minimum member —
    identical output to the distributed min-label fixpoint."""
    parent: dict[int, int] = {}

    def find(a: int) -> int:
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return [(n, comp_min[find(n)]) for n in parent]


_CC_MAX_ROUNDS = 20  # ≥ max component diameter; loop raises if exceeded


def _cc_min_label_loop(pairs: DataFrame) -> DataFrame:
    """Distributed min-label propagation over an (already materialized)
    undirected pair set; returns (u, label). The big-graph path of
    dedup_components."""
    fwd = pairs.select(col("d1").alias("u"), col("d2").alias("v"))
    edges = fwd.union(fwd.select(col("v").alias("u"), col("u").alias("v"))).persist()

    # Labels for edge endpoints only; edges are symmetric, so every node
    # here has ≥ 1 neighbor and the per-round join can be inner.
    labels = edges.select("u").distinct().withColumn("label", col("u")).persist()

    converged = False
    for _ in range(_CC_MAX_ROUNDS):
        neigh_min = (
            edges.join(labels.select(col("u").alias("v"), "label"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        joined = labels.join(neigh_min, "u").persist()
        new_labels = joined.select(
            "u", F.least(col("label"), col("nmin")).alias("label")
        ).persist()
        # Convergence = no label strictly decreased this round. (The
        # earlier SUM(label)-unchanged test overflows int64 exactly on
        # the big-graph path this loop exists for — ~1e10 nodes × 1e10
        # ids: ANSI mode aborts the job, wraparound could in principle
        # alias two different states. The changed-count is overflow-free
        # and monotone like the labels themselves.)
        n_changed = joined.filter(col("nmin") < col("label")).count()
        new_labels.count()  # materialize off the still-cached join
        joined.unpersist()
        labels.unpersist()
        labels = new_labels
        if n_changed == 0:
            converged = True
            break

    edges.unpersist()
    if not converged:
        # silently returning mid-propagation labels would emit WRONG
        # components (and fail the oracle compare confusingly downstream)
        raise RuntimeError(
            f"connected components did not converge in {_CC_MAX_ROUNDS} rounds "
            "(component diameter exceeds the cap); raise _CC_MAX_ROUNDS"
        )
    return labels


# ---------------------------------------------------------------------------
# dedup_simhash — 60-bit SimHash + banded Hamming join
# ---------------------------------------------------------------------------

_HAMMING_MAX = 3  # near-dup threshold in bits
_SIMHASH_BITS = 60  # 4 × 15-bit chunks: d ≤ 3 ⇒ ≥ 1 chunk identical
_SIMHASH_CHUNKS = 4
_CHUNK_BITS = _SIMHASH_BITS // _SIMHASH_CHUNKS
_TOK_PREFIX = 8  # hash the first 8 codepoints of each token
_MIX = 11400714819323198485  # 2^64 / golden ratio, odd — Fibonacci mix constant
_MASK63 = 0x7FFFFFFFFFFFFFFF

# Token hash, portable between numpy and DuckDB SQL (CLAUDE.md: new hash
# recipes must be DuckDB-expressible or the query drops to a rows-only
# check): fold the first 8 codepoints as acc*31 + code (exact — max value
# < 2^21 * 31^8 / 30 < 2^61, no modulus anywhere), then diffuse with one
# Fibonacci multiply mod 2^63 (numpy: uint64 wraparound + mask; DuckDB:
# HUGEINT multiply % 2^63). Truncation to 8 codepoints costs hash quality
# only for tokens sharing an 8-char prefix — acceptable for a vote-based
# signature; the diffusion step is what keeps high signature bits usable
# (an undiffused polynomial leaves short tokens' high bits all-zero, every
# doc agreeing on the top chunk — the band join would degenerate to N²).


def _simhash_pdf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """SimHash per doc: sign of the per-bit vote of token hashes.

    Runs as Arrow-batched mapInPandas (the bit-matrix vote has no builtin
    Spark expression, and Spark's HOF lambdas are interpreted per element
    — the n-gram kernel above measured ~13× slower all-builtin). Fully
    vectorized per batch: tokens flatten to one (n_tokens × 8) codepoint
    matrix (one C-level utf-32 encode), the polynomial fold and mix are
    eight uint64 vector ops, bit expansion is an (n_tokens × 60) matrix,
    and the per-doc vote is add.reduceat on doc boundaries (every doc has
    ≥ 1 token — ''.split(' ') is [''] — so boundaries are strictly
    increasing). Integer votes are order-insensitive, so results are
    identical to a per-token loop. CPU-bound pure map — scales
    horizontally."""
    import numpy as np

    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)

    for pdf in it:
        tok_lists = [t.split(" ") for t in pdf["text"]]
        counts = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
        joined = "".join(
            t[:_TOK_PREFIX].ljust(_TOK_PREFIX, "\0") for toks in tok_lists for t in toks
        )
        codes = (
            np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
            .reshape(-1, _TOK_PREFIX)
            .astype(np.uint64)
        )
        acc = np.zeros(len(codes), dtype=np.uint64)
        for k in range(_TOK_PREFIX):
            acc = acc * np.uint64(31) + codes[:, k]
        flat = (acc * np.uint64(_MIX)) & np.uint64(_MASK63)
        bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        bounds = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=bounds[1:])
        votes = np.add.reduceat(2 * bits - 1, bounds, axis=0)
        sigs = ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].values, "simhash": sigs.astype(np.int64)}
        )


def _sql_tok_hash(tok: str) -> str:
    """DuckDB expression mirroring the kernel's token hash exactly."""
    terms = " + ".join(
        f"(CASE WHEN {k} < length({tok}) "
        f"THEN CAST(ascii(substr({tok}, {k + 1}, 1)) AS BIGINT) ELSE 0 END) "
        f"* {31 ** (_TOK_PREFIX - 1 - k)}"
        for k in range(_TOK_PREFIX)
    )
    return f"CAST((CAST(({terms}) AS HUGEINT) * {_MIX}) % {_MASK63 + 1} AS BIGINT)"


def _simhash_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(_SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_transform(string_split(text, ' '),
                               tok -> {_sql_tok_hash('tok')})) AS h
  FROM documents
), votes AS (
  SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id
), sigs AS (
  SELECT doc_id, {sig} AS simhash FROM votes
), chunks AS (
  SELECT doc_id, simhash, i AS chunk_idx,
         (simhash >> (CAST(i AS INT) * {_CHUNK_BITS})) & {(1 << _CHUNK_BITS) - 1} AS chunk_val
  FROM sigs, range({_SIMHASH_CHUNKS}) t(i)
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM chunks a
JOIN chunks b ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
            AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ 3, banded by four
    15-bit chunks (pigeonhole: any pair within distance 3 agrees on ≥ 1
    chunk) — bucket join on (chunk_idx, chunk_value), then exact
    bit_count(XOR) verify. Built-in bit ops for everything post-UDF; the
    token hash is the portable fold above, so the full pair set
    value-hash-matches the DuckDB oracle."""
    d = table(spark, sf_dir, "documents")
    # Persist the signatures: both sides of the self-join read them, and
    # without materialization Spark re-executes the Python kernel per
    # side (self-join exchange reuse is not guaranteed for Arrow stages).
    # One 16-byte row per doc — trivially cacheable at any scale.
    par = spark.sparkContext.defaultParallelism
    sigs = (
        d.select("doc_id", "text")
        .repartition(par)  # one small parquet file = one partition otherwise
        .mapInPandas(_simhash_pdf, schema="doc_id long, simhash long")
        .persist()
    )
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(col("simhash"), j * _CHUNK_BITS).bitwiseAND(
                        F.lit((1 << _CHUNK_BITS) - 1)
                    )
                    for j in range(_SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    return (
        a.join(
            b,
            (col("a.chunk_idx") == col("b.chunk_idx"))
            & (col("a.chunk_val") == col("b.chunk_val"))
            & (col("a.doc_id") < col("b.doc_id")),
        )
        .select(
            col("a.doc_id").alias("d1"),
            col("b.doc_id").alias("d2"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["d1", "d2"])
        .filter(col("hamming") <= _HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# dedup_keep_best — the pipeline's end product: one survivor per cluster
# ---------------------------------------------------------------------------

_KEEP_ORACLE = f"""
WITH RECURSIVE base_pairs AS ({_NGRAM_ORACLE}),
edges AS (
  SELECT d1 AS u, d2 AS v FROM base_pairs
  UNION ALL
  SELECT d2 AS u, d1 AS v FROM base_pairs
),
reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
),
comps AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
quality AS (
  SELECT doc_id, {QUALITY_SQL} AS quality FROM documents
),
ranked AS (
  SELECT c.component, c.doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY q.quality DESC, c.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.component) AS n_members
  FROM comps c JOIN quality q ON c.doc_id = q.doc_id
)
SELECT component, doc_id AS kept_doc, n_members, quality AS best_quality
FROM ranked
WHERE rn = 1
ORDER BY component
"""


@register("dedup_keep_best", oracle=_KEEP_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual deliverable: near-dup pair detection →
    connected components → ONE kept document per cluster, chosen by
    quality score (quality desc, doc_id tiebreak). Composes
    dedup_components and quality_score as DataFrame inputs — the whole
    chain is one logical plan, so Catalyst sees through the composition.
    The quality doubles are bit-identical across engines (quality_score
    is hash-green), so the per-component argmax — and therefore the
    kept set — is engine-deterministic.

    The pick is argmax-via-groupBy (max of a (quality, -doc_id) struct
    — negation turns the ASC doc_id tiebreak into the struct max), NOT
    a row_number window over component: the aggregate partial-combines
    map-side and a pathological corpus with one giant near-dup cluster
    is a skewed JOIN/agg key, not a hot window that sorts the whole
    cluster on one reducer with no partial step (CLAUDE.md argmin rule).
    Scale otherwise rides on the components op."""
    from cqlcopy_spark.operators.text import quality_score

    comps = dedup_components(spark, sf_dir)
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    j = comps.join(q, "doc_id")
    return (
        j.groupBy("component")
        .agg(
            F.max(
                F.struct(
                    col("quality").alias("q"), (-col("doc_id")).alias("nid")
                )
            ).alias("best"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "component",
            (-col("best.nid")).alias("kept_doc"),
            "n_members",
            col("best.q").alias("best_quality"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# dedup_incremental — new-batch-vs-corpus dedup (the daily-ingest shape)
# ---------------------------------------------------------------------------

_INCR_ORACLE = f"""
WITH cut AS (
  SELECT CAST(floor(0.8 * MAX(doc_id)) AS BIGINT) AS c FROM documents
),
grams AS (
  SELECT doc_id, unnest({_GRAMS_SQL}) AS g FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS new_doc, b.doc_id AS dup_of, COUNT(*) AS common
  FROM grams a JOIN grams b USING (g), cut
  WHERE b.doc_id < a.doc_id AND a.doc_id >= cut.c
  GROUP BY 1, 2
)
SELECT new_doc, dup_of,
       CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
FROM pairs
JOIN sizes s1 ON pairs.new_doc = s1.doc_id
JOIN sizes s2 ON pairs.dup_of = s2.doc_id
WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= {_JACCARD_THRESHOLD}
"""


@register("dedup_incremental", oracle=_INCR_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-ingest) dedup: only the INCOMING batch — here
    the newest 20% of doc ids — probes the gram index; each new doc
    reports its near-dups among everything older (prior corpus or
    earlier in the same batch). This is the asymmetric plan a 100 TB
    pipeline actually runs every day: candidate volume is
    Σ_g df_new(g)·df_all(g), proportional to the BATCH, not the corpus²,
    and in production the corpus-side index is a bucketed table built
    once and only appended to (the kernel here rebuilds it because the
    fixture has no persisted index). The one driver-side value is the
    scalar id cutoff (single-row agg, same class as csv_source's count).
    """
    from cqlcopy_spark.catalog import parquet_col_max

    d = table(spark, sf_dir, "documents")
    # footer-stats max (exact, no Spark job — guide §6); the floor(x*0.8)
    # arithmetic is the same IEEE multiply either way
    mx = parquet_col_max(sf_dir, "documents", "doc_id")
    if mx is None:
        cut = d.agg(F.floor(F.max("doc_id") * 0.8).cast("long")).first()[0]
    else:
        import math

        cut = math.floor(mx * 0.8)
    return _ngram_jaccard_pairs(d, probe_min_doc_id=cut).select(
        col("d1").alias("new_doc"), col("d2").alias("dup_of"), "jaccard"
    )


# ---------------------------------------------------------------------------
# dedup_spans — C4-style global span dedup (first occurrence wins)
# ---------------------------------------------------------------------------

# The C4 pipeline's other dedup axis: not whole-document near-dup but
# REPEATED SPANS — any occurrence of a span already seen anywhere in the
# corpus (by global (doc_id, position) order) is cut out of the document,
# and the remainder is stitched back together. The fixture's texts are
# single-space word soup, so the span unit here is the non-overlapping
# 3-word block (the C4 unit is a three-sentence span; the mechanics —
# explode, global first-occurrence argmin, excise, reassemble — are
# identical and that's what this operator exercises).

_SPANS_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE text IS NOT NULL AND text <> ''
),
b AS (
  SELECT doc_id, CAST(i AS BIGINT) AS bidx,
         array_to_string(ws[3*i+1 : 3*i+3], ' ') AS block
  FROM w, UNNEST(range((len(ws) + 2) // 3)) AS t(i)
),
r AS (
  SELECT doc_id, bidx, block,
         ROW_NUMBER() OVER (PARTITION BY block ORDER BY doc_id, bidx) AS rn
  FROM b
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN block END, ' ' ORDER BY bidx),
                '') AS clean_text,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM r GROUP BY doc_id
"""


def _span_dedup(d: DataFrame) -> DataFrame:
    """First-occurrence-wins span dedup over a documents frame
    (doc_id, text): split into non-overlapping 3-word blocks, keep only
    the globally FIRST occurrence of each distinct block (lexicographic
    (doc_id, block_idx) order — deterministic, unlike dropDuplicates),
    and reassemble each document from its surviving blocks in order.

    Empty/NULL texts are filtered up front on BOTH engines: Spark's
    sequence(0, n-1) runs descending for n = 0 (CLAUDE.md trap) and the
    empty doc carries no spans anyway.

    First-occurrence resolution is argmin-via-groupBy + join, NOT a
    row_number window over the block: the hash aggregate partial-
    combines map-side (a boilerplate span repeated millions of times
    collapses to one row per map task before it ever shuffles) and the
    remaining probe-side hot key is exactly what AQE's skew-join split
    handles — a window over the same key would funnel every copy of the
    hot span through one reducer with no partial step and no skew
    rescue."""
    words = d.filter(col("text").isNotNull() & (col("text") != "")).select(
        "doc_id", F.split(col("text"), " ").alias("ws")
    )
    blocks = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, (size(ws)+2) DIV 3 - 1),"
                " i -> array_join(slice(ws, i*3+1, 3), ' '))"
            )
        ).alias("bidx", "block"),
    ).persist()
    # ^ persist: feeds BOTH the argmin aggregate and the probe join —
    # the two sides shuffle different children, so ReuseExchange cannot
    # dedupe the scan+split+explode lineage (CLAUDE.md self-join rule)
    # unique (doc_id, bidx) ⇒ the argmin is engine-deterministic
    firsts = blocks.groupBy("block").agg(
        F.min(F.struct("doc_id", "bidx")).alias("f")
    )
    r = blocks.join(firsts, "block").withColumn(
        "keep",
        (col("doc_id") == col("f.doc_id")) & (col("bidx") == col("f.bidx")),
    )
    kept_struct = F.when(col("keep"), F.struct("bidx", "block"))
    return r.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["block"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(col("keep"), 1).otherwise(0)).alias("n_kept"),
    )


@register("dedup_spans", oracle=_SPANS_ORACLE)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated-span removal (the C4 span-dedup shape): every
    later occurrence of an already-seen 3-word block is excised and the
    document re-concatenated from what survives.

    Scale shape: one map-side explode (no shuffle), a partial-combining
    hash aggregate for the global first occurrence per span, one
    skew-splittable join back, one shuffle to doc_id for reassembly —
    no cross product, output rows = input docs (see _span_dedup for why
    argmin+join beats a row_number window here). At 100 TB the
    aggregate/join key becomes a 128-bit content hash of the span (md5)
    so key width is constant and the span text rides only the
    reassembly side; a 64-bit xxhash is NOT enough there (birthday
    collisions at ~4e9 distinct spans would merge unrelated spans and
    silently over-delete).
    """
    return _span_dedup(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# dedup_substrings — arbitrary-length exact-substring dedup (suffix-array shape)
# ---------------------------------------------------------------------------

# dedup_spans removes repeated FIXED 3-word blocks, so a repeated 50-token
# run is only removed block-piecewise and block-boundary phase can leave
# ≤2-word stubs of a genuine duplicate (r8 VERDICT item 2 names this the
# one daylight vs production C4/RefinedWeb dedup, i.e. the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" suffix-array
# pass). This operator closes it with SLIDING stride-1 windows: a token is
# excised iff some k-token window COVERING it is a corpus-wide duplicate
# (its content's global first occurrence, by (doc_id, start), is at a
# different position). Any repeated run of length L >= k contributes
# L-k+1 duplicate windows in its later occurrence, covering ALL L tokens
# — the run is excised in full, at any phase, with no stubs; runs < k are
# never touched. Self-overlapping periodic runs resolve conservatively
# (the later copies' tokens all go; the first occurrence always survives
# because its windows ARE the argmin).

_SUBSTR_K = 6

_SUBSTR_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE text IS NOT NULL AND text <> ''
),
win AS (
  SELECT doc_id, CAST(i AS BIGINT) AS s,
         array_to_string(ws[i+1 : i+{_SUBSTR_K}], ' ') AS sub
  FROM w, UNNEST(range(len(ws) - {_SUBSTR_K} + 1)) AS t(i)
),
r AS (
  SELECT doc_id, s,
         ROW_NUMBER() OVER (PARTITION BY sub ORDER BY doc_id, s) AS rn
  FROM win
),
dup AS (SELECT doc_id, s AS ds FROM r WHERE rn > 1),
tok AS (
  SELECT doc_id, CAST(j AS BIGINT) AS pos, ws[j+1] AS wd
  FROM w, UNNEST(range(len(ws))) AS t(j)
),
ev AS (
  SELECT doc_id, pos, 1 AS is_tok, wd, CAST(NULL AS BIGINT) AS ds FROM tok
  UNION ALL
  SELECT doc_id, ds AS pos, 0 AS is_tok, NULL AS wd, ds FROM dup
),
scan AS (
  SELECT doc_id, pos, is_tok, wd,
         MAX(ds) OVER (PARTITION BY doc_id ORDER BY pos, is_tok
                       ROWS UNBOUNDED PRECEDING) AS last_ds
  FROM ev
)
SELECT doc_id,
       COALESCE(string_agg(
         CASE WHEN is_tok = 1
                AND (last_ds IS NULL OR last_ds < pos - {_SUBSTR_K} + 1)
              THEN wd END, ' ' ORDER BY pos, is_tok), '') AS clean_text,
       CAST(SUM(is_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN is_tok = 1
                       AND NOT (last_ds IS NULL
                                OR last_ds < pos - {_SUBSTR_K} + 1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM scan GROUP BY doc_id
"""


def _substring_dedup(d: DataFrame, k: int = _SUBSTR_K) -> DataFrame:
    """Sliding-window exact-substring dedup over a documents frame
    (doc_id, text): excise every token covered by a k-token window whose
    content already occurred earlier in the corpus (global (doc_id,
    start) order), reassemble survivors in order.

    Scale shape (the suffix-array pass, distributed):
    - windows are a map-only stride-1 posexplode (n rows per n-token
      doc, no shuffle);
    - global first occurrence per window content is argmin-via-groupBy
      (partial-combines map-side; a boilerplate window repeated
      millions of times collapses per map task) + a skew-splittable
      probe join — NOT a row_number window (CLAUDE.md hot-key rule);
    - coverage is a LOCF scan, not a range join: duplicate-window
      starts and tokens union into one relation, a running MAX over
      (pos, is_tok) ROWS frame gives each token the latest duplicate
      start at-or-before it, and the token is removed iff that start
      is within k-1 positions. ONE window shuffle on doc_id, and the
      final reassembly groupBy rides the same partitioning.
    The aggregate/join key IS md5(window) — fixed 16 bytes, so neither
    the argmin shuffle nor the probe join ever moves window TEXT, only
    doc-position pairs under constant-width keys (64-bit hashes
    birthday-collide at ~4e9 distinct windows and would over-delete;
    128 bits is birthday-safe at any corpus size — the same judgment
    as dedup_spans). The oracle groups by the window text itself:
    grouping by an injective-in-practice hash induces the same
    partition of windows, so the relations agree.
    The (pos, is_tok) order is a ROWS frame over unique tuples —
    engine-deterministic (CLAUDE.md cumulative-frame rule) — and a
    duplicate window starting AT a token's position sorts before it,
    so it covers that token."""
    words = d.filter(col("text").isNotNull() & (col("text") != "")).select(
        "doc_id", F.split(col("text"), " ").alias("ws")
    )
    # sequence(0, size-k) DESCENDS for size < k (CLAUDE.md trap): gate
    # window generation on size >= k; shorter docs still contribute
    # tokens below and survive untouched.
    wins = (
        words.filter(F.size("ws") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(ws) - {k}),"
                    f" i -> unhex(md5(array_join(slice(ws, i + 1, {k}), ' '))))"
                )
            ).alias("s", "sub"),
        )
        .persist()
    )
    # ^ persist: feeds BOTH the argmin aggregate and the probe join —
    # two shuffles over different children, ReuseExchange can't help
    # (CLAUDE.md self-join rule). Tokens re-read the parquet scan
    # instead (map-only, the cheapest lineage to re-run).
    firsts = wins.groupBy("sub").agg(F.min(F.struct("doc_id", "s")).alias("f"))
    dups = (
        wins.join(firsts, "sub")
        .filter((col("doc_id") != col("f.doc_id")) | (col("s") != col("f.s")))
        .select("doc_id", col("s").alias("ds"))
    )
    toks = words.select("doc_id", F.posexplode("ws").alias("pos", "wd"))
    ev = toks.select(
        "doc_id",
        col("pos").cast("long").alias("pos"),
        F.lit(1).alias("is_tok"),
        "wd",
        F.lit(None).cast("long").alias("ds"),
    ).unionByName(
        dups.select(
            "doc_id",
            col("ds").cast("long").alias("pos"),
            F.lit(0).alias("is_tok"),
            F.lit(None).cast("string").alias("wd"),
            col("ds").cast("long").alias("ds"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "is_tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scan = ev.withColumn("last_ds", F.max("ds").over(w))
    keep = (col("is_tok") == 1) & (
        col("last_ds").isNull() | (col("last_ds") < col("pos") - (k - 1))
    )
    kept_struct = F.when(keep, F.struct("pos", "wd"))
    return scan.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["wd"]
            ),
            " ",
        ).alias("clean_text"),
        F.sum("is_tok").cast("long").alias("n_tokens"),
        F.sum(
            F.when((col("is_tok") == 1) & ~keep, 1).otherwise(0)
        ).cast("long").alias("n_removed"),
    )


@register("dedup_substrings", oracle=_SUBSTR_ORACLE)
def dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-length exact-substring dedup (the Lee et al. 2022
    suffix-array shape, distributed): any corpus-wide repeated run of
    >= 6 tokens is excised IN FULL from every later occurrence — no
    block-phase stubs (the residue dedup_spans' fixed blocks can leave;
    tests/test_dedup_substrings.py plants exactly that case). See
    _substring_dedup for the window/argmin/LOCF plan."""
    return _substring_dedup(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# stream_minhash_incremental — batch contract of the streaming LSH sink
# ---------------------------------------------------------------------------


@register("stream_minhash_incremental", oracle=_NGRAM_ORACLE)
def stream_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract of continuous_minhash_dedup_sink
    (streaming/sinks.py): the corpus arrives as three doc_id-sliced
    micro-batches, each probing the PERSISTED band/signature index of
    everything before it via minhash_apply_batch — then the cumulative
    per-batch pair reports, canonicalized, must equal the one-shot batch
    LSH relation (same exact-Jaccard oracle as dedup_fuzzy_minhash;
    slicing is invisible because banding is deterministic per doc and
    every pair is emitted exactly once, by its later-arriving member).

    The one driver-side scalar is the max-doc_id slice bound (same class
    as dedup_incremental's cutoff). State lands in a per-call temp dir
    kept alive until interpreter exit (the returned frame reads it
    lazily); replay-idempotence and cross-run-guard semantics are pinned
    in tests/test_streaming_minhash.py."""
    from cqlcopy_spark.streaming.sinks import read_minhash_pairs

    state = _streamed_minhash_state(spark, sf_dir)
    return _canonical_pairs(read_minhash_pairs(spark, state))


def _streamed_minhash_state(spark: SparkSession, sf_dir: str) -> str:
    """Fresh temp state dir after the three doc_id-sliced minhash
    micro-batches (batches 0-2) — factored so the takedown/vacuum ops
    drive the IDENTICAL streamed lifecycle as the incremental op."""
    from cqlcopy_spark.catalog import id_thirds, session_tempdir
    from cqlcopy_spark.streaming.sinks import minhash_apply_batch

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # an empty corpus gives three empty batches and the empty pair
    # relation, like the oracle
    slices, _ = id_thirds(d, sf_dir, "documents", "doc_id")
    state = session_tempdir("minhash_stream_state_")
    for batch_id, batch in enumerate(slices):
        minhash_apply_batch(batch, batch_id, state)
    return state


def _canonical_pairs(pairs: DataFrame) -> DataFrame:
    """(d1, d2, jaccard) with d1 < d2 — the emission-order-independent
    shape the one-shot oracle compares against."""
    return (
        pairs.select(
            F.least("new_doc", "dup_of").alias("d1"),
            F.greatest("new_doc", "dup_of").alias("d2"),
            "jaccard",
        )
        .orderBy("d1", "d2")
    )


# takedown target for the minhash index ops: every doc_id ≡ 3 (mod 7),
# the curation takedown family's convention — deterministic and
# SQL-expressible on both pair columns
_MINHASH_TAKEDOWN_ORACLE = f"""
SELECT * FROM ({_NGRAM_ORACLE})
WHERE d1 % 7 <> 3 AND d2 % 7 <> 3
"""


def _minhash_takedown_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark `%`, not pmod: Spark and DuckDB `%` both follow the
    # DIVIDEND sign (CLAUDE.md), matching the oracle for negative ids
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((col("doc_id") % 7) == 3)
    )


@register("stream_minhash_takedown", oracle=_MINHASH_TAKEDOWN_ORACLE)
def stream_minhash_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten over the STREAMING DEDUP INDEX — the third
    delta-log family to get the takedown lifecycle: after the
    three-slice ingest, every doc_id ≡ 3 (mod 7) is retired
    (minhash_takedown_batch, batch 3) and the cumulative pair report is
    read through the mask — a pair touching a retired doc on EITHER
    side leaves the report. The oracle is the one-shot exact-Jaccard
    relation with both columns excluded, so the hash proves the masked
    read end to end. The probe-side masking (later arrivals never pair
    with retired content) and the id-permanence guard are pinned in
    tests/test_minhash_takedown.py — they need a mid-stream takedown,
    which the SQL-expressible post-ingest shape here cannot exercise.

    Scale shape: the ingest is stream_minhash_incremental's; the
    takedown adds one batch-sized delta and TWO stats-broadcast
    anti-joins at read (one per pair column)."""
    from cqlcopy_spark.streaming.sinks import (
        minhash_takedown_batch,
        read_minhash_pairs,
    )

    state = _streamed_minhash_state(spark, sf_dir)
    minhash_takedown_batch(_minhash_takedown_target(spark, sf_dir), 3, state)
    return _canonical_pairs(read_minhash_pairs(spark, state))


@register("stream_minhash_vacuum", oracle=_MINHASH_TAKEDOWN_ORACLE)
def stream_minhash_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_minhash_takedown's lifecycle with the PHYSICAL vacuum
    spliced between takedown and read: minhash_vacuum prunes the
    retired docs from all THREE data roots in one version stamp —
    band and signature rows by doc_id, pair rows by either column
    (state_log.vacuum over the MINHASH family) — and swaps the
    mask empty. The masked read over the post-swap state must
    HASH-equal the takedown op's (same oracle SQL): reader-view
    invariance of the third vacuum instance, driver-checked. The in-op
    nothing-pruned guard keeps the check non-vacuous."""
    from cqlcopy_spark.streaming.sinks import (
        minhash_takedown_batch,
        minhash_vacuum,
        read_minhash_pairs,
    )

    state = _streamed_minhash_state(spark, sf_dir)
    minhash_takedown_batch(_minhash_takedown_target(spark, sf_dir), 3, state)
    n_pruned = minhash_vacuum(spark, state)
    if n_pruned <= 0:
        raise AssertionError(
            "minhash_vacuum pruned nothing — the reader-view-invariance "
            "check would be vacuous (it would hash the un-vacuumed state)"
        )
    return _canonical_pairs(read_minhash_pairs(spark, state))


# ---------------------------------------------------------------------------
# contamination_neardup — train/eval NEAR-dup leakage via MinHash-LSH
# ---------------------------------------------------------------------------

# The third decontamination gate: contamination_overlap (text.py) scans
# shared n-grams and contamination_substring exact character runs, but a
# lightly-edited eval document leaked into training (the RefinedWeb /
# GPT-3 appendix-C case) evades both thresholds' intent — the standard
# production gate is NEAR-dup at the document level. Same split
# convention as split_train_eval / split_drift_tvd (portable_token 90/10),
# same banding/refine contract as dedup_fuzzy_minhash, but the join is
# ASYMMETRIC: only the tiny eval side probes the train band index (the
# dedup_incremental shape — candidates ∝ Σ_key n_eval(key)·n_train(key),
# never train²). Shares the exact-Jaccard oracle under the same
# determinism argument as dedup_fuzzy_minhash (fixture true pairs sit at
# J where the 8×4 banding miss probability is negligible and the
# pipeline has no randomness).

_CONTAM_NEARDUP_ORACLE = f"""
WITH split AS (
  SELECT doc_id, {sql_portable_token('doc_id')} % 100 < 90 AS is_train
  FROM documents
),
grams AS (
  SELECT doc_id, unnest({_GRAMS_SQL}) AS g FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
pairs AS (
  SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc, COUNT(*) AS common
  FROM grams e
  JOIN split se ON se.doc_id = e.doc_id AND NOT se.is_train
  JOIN grams t ON t.g = e.g
  JOIN split st ON st.doc_id = t.doc_id AND st.is_train
  GROUP BY 1, 2
)
SELECT eval_doc, train_doc,
       CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
FROM pairs
JOIN sizes s1 ON pairs.eval_doc = s1.doc_id
JOIN sizes s2 ON pairs.train_doc = s2.doc_id
WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common)
      >= {_JACCARD_THRESHOLD}
"""


def _neardup_contamination(d: DataFrame) -> DataFrame:
    """(eval_doc, train_doc, jaccard): near-dup pairs ACROSS the 90/10
    split boundary of a documents frame — eval bands probe train bands,
    exact-Jaccard refine at the shared threshold."""
    from cqlcopy_spark.functions.portable import portable_token

    is_train = portable_token(col("doc_id")) % 100 < 90
    docs = _with_minhash_sig(d).withColumn("is_train", is_train).persist()
    # band the two sides separately: the probe side is ~10% of the
    # corpus, so candidate volume is eval × bucket occupancy
    ev = _band_rows(docs.filter(~col("is_train"))).alias("e")
    tr = _band_rows(docs.filter(col("is_train"))).alias("t")
    cand = (
        ev.join(
            tr,
            (col("e.band") == col("t.band")) & (col("e.key") == col("t.key")),
        )
        .select(col("e.doc_id").alias("d1"), col("t.doc_id").alias("d2"))
        .dropDuplicates(["d1", "d2"])  # multi-band collisions
    )
    return _minhash_verify_pairs(cand, docs.select("doc_id", "hashes")).select(
        col("d1").alias("eval_doc"), col("d2").alias("train_doc"), "jaccard"
    )


@register("contamination_neardup", oracle=_CONTAM_NEARDUP_ORACLE)
def contamination_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set documents whose near-duplicate (word-3-gram Jaccard ≥
    0.5) exists in the training split — the document-level
    decontamination gate between the n-gram-overlap and exact-substring
    scans. See the section comment for shape and oracle contract."""
    return _neardup_contamination(
        table(spark, sf_dir, "documents")
    ).orderBy("eval_doc", "train_doc")


# ---------------------------------------------------------------------------
# decontamination_report — the three gates' verdicts, per eval document
# ---------------------------------------------------------------------------

# One row per (gate, eval doc) with leakage severity: how many training
# docs hit it, the first offender, and (for the near-dup gate) the worst
# similarity. This is the eval-integrity view the three standalone gates
# don't give directly — they report per TRAIN doc (the excision side);
# an eval owner asks the transposed question: "which of MY benchmark
# documents are compromised, how badly, and through which gate?".
#
# Each gate keeps its own eval universe (the exact gates use the fixed
# _bench_split slice; the near-dup gate the portable-token 90/10 split —
# the same conventions their standalone ops are driver-checked under);
# the `gate` column scopes the key, so the union is well-defined.


def _decon_report_oracle() -> str:
    from cqlcopy_spark.operators.text import (
        _CONTAM_GRAMS_SQL,
        _SUB_N,
        _SUB_STRIDE,
        _sql_char_windows,
        _sql_is_bench,
    )

    return f"""
WITH og AS (
  SELECT doc_id, unnest({_CONTAM_GRAMS_SQL}) AS g FROM documents
),
o_bench AS (SELECT doc_id AS bench_id, g FROM og WHERE {_sql_is_bench()}),
o_corpus AS (SELECT doc_id, g FROM og WHERE NOT ({_sql_is_bench()})),
s_bench AS (
  SELECT doc_id AS bench_id, unnest({_sql_char_windows(1)}) AS w
  FROM documents WHERE {_sql_is_bench()} AND len(text) >= {_SUB_N}
),
s_corpus AS (
  SELECT doc_id, unnest({_sql_char_windows(_SUB_STRIDE)}) AS w
  FROM documents WHERE NOT ({_sql_is_bench()}) AND len(text) >= {_SUB_N}
),
nd AS ({_CONTAM_NEARDUP_ORACLE})
SELECT 'ngram_overlap' AS gate, b.bench_id AS eval_doc,
       CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_train_docs,
       MIN(c.doc_id) AS first_train_doc,
       CAST(NULL AS DOUBLE) AS max_score
FROM o_corpus c JOIN o_bench b USING (g) GROUP BY b.bench_id
UNION ALL
SELECT 'exact_substring', b.bench_id,
       CAST(COUNT(DISTINCT c.doc_id) AS BIGINT),
       MIN(c.doc_id), CAST(NULL AS DOUBLE)
FROM s_corpus c JOIN s_bench b USING (w) GROUP BY b.bench_id
UNION ALL
SELECT 'neardup', eval_doc,
       CAST(COUNT(DISTINCT train_doc) AS BIGINT),
       MIN(train_doc), MAX(jaccard)
FROM nd GROUP BY eval_doc
"""


@register("decontamination_report", oracle=_decon_report_oracle())
def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc leakage summary across all three decontamination
    gates (r11 VERDICT item 8): word-8-gram overlap, verbatim 24-char
    substring, and document-level near-dup — each reusing its standalone
    gate's exact pair derivation (text._overlap_pairs /
    text._substring_pairs / _neardup_contamination), so this report
    cannot drift from the gates it summarizes (replay-consistency is
    pinned in tests/test_decon_report.py).

    Scale shape: inherits each gate's — the two exact gates broadcast
    the fixed-size bench index into one corpus scan each; the near-dup
    gate asymmetrically probes the train band index; each per-gate
    rollup is a partial-combining groupBy over pair rows (output-sized,
    never corpus-sized). The union is three independent pipelines — no
    shared shuffle, no new scale hazard."""
    from cqlcopy_spark.operators.text import _overlap_pairs, _substring_pairs

    d = table(spark, sf_dir, "documents")

    def rollup(pairs: DataFrame, gate: str, eval_col: str, train_col: str,
               score_col: "str | None") -> DataFrame:
        aggs = [
            F.count_distinct(col(train_col)).alias("n_train_docs"),
            F.min(train_col).alias("first_train_doc"),
            (F.max(score_col) if score_col else F.lit(None).cast("double"))
            .alias("max_score"),
        ]
        return pairs.groupBy(col(eval_col).alias("eval_doc")).agg(*aggs).select(
            F.lit(gate).alias("gate"), "eval_doc", "n_train_docs",
            "first_train_doc", "max_score",
        )

    ov = rollup(_overlap_pairs(d), "ngram_overlap", "bench_id", "doc_id", None)
    sub = rollup(
        _substring_pairs(d), "exact_substring", "bench_id", "doc_id", None
    )
    nd = rollup(
        _neardup_contamination(d), "neardup", "eval_doc", "train_doc", "jaccard"
    )
    return ov.unionByName(sub).unionByName(nd)
