"""Text-analysis operators for LLM data pipelines (SURVEY.md §2C op 32 +
mandated text extensions: language-ID, quality scoring, token counting,
document fingerprinting). Reference has no analog (it is a loader); these
are the north-star additions (BASELINE.json:6).

Everything is built-in `pyspark.sql.functions` — no Python UDFs — so the
whole surface stays in whole-stage codegen and scales as pure map work:
no operator here shuffles more than its final (tiny) aggregate.

Oracle-parity notes: tokenization is a single-space split in BOTH engines;
per-row double arithmetic uses identical expression shapes so results are
bit-identical; the fingerprint is a polynomial rolling hash with
int64-safe modular steps expressible in DuckDB's list_reduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

from cqlcopy_spark.catalog import id_thirds, session_tempdir, table
from cqlcopy_spark.functions.portable import (
    davg,
    portable_token,
    sql_davg,
    sql_portable_token,
)
from cqlcopy_spark.plans.registry import register

def _tokens():
    return F.split(col("text"), " ")

# Shared normalization recipe (lower → strip non-alnum → collapse runs of
# spaces → trim). ONE definition per engine: text_normalize and
# pipeline_corpus_curation both embed these, and their oracles must stay
# hash-equal to the Spark side — a drift in any one copy breaks exactly
# one operator's compare.
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


def _norm_expr():
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )


# ---------------------------------------------------------------------------
# op 32: text_stats — corpus statistics by language
# ---------------------------------------------------------------------------

_NTOK_SQL = "len(string_split(text, ' '))"

_STATS_ORACLE = f"""
SELECT
  lang,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  {sql_davg('n_chars')} AS avg_chars,
  CAST(SUM({_NTOK_SQL}) AS BIGINT) AS total_tokens,
  {sql_davg(_NTOK_SQL)} AS avg_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("text_stats", oracle=_STATS_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/token distribution per language. One scan, map-side partial
    agg, shuffle of ≤ #languages rows."""
    d = table(spark, sf_dir, "documents")
    ntok = F.size(_tokens())
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            davg(col("n_chars")).alias("avg_chars"),
            F.sum(ntok).alias("total_tokens"),
            davg(ntok).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# lang_id — stopword-profile language identification
# ---------------------------------------------------------------------------

_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ein"],
    "es": ["el", "los", "las", "una", "que"],
    "fr": ["le", "les", "des", "et", "dans"],
    "zh": ["的", "是", "不", "我", "了"],
}
_PRIORITY = ["en", "de", "es", "fr", "zh"]  # deterministic tie-break order


def _sql_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> list_contains([{words}], t)))"


# scored-CTE body + argmax CASE chain, shared by _LANGID_ORACLE and the
# langid_confusion oracle (one definition or their hash parity drifts)
_SQL_LANG_SCORED = (
    "SELECT doc_id, lang, "
    + ", ".join(f"{_sql_score(lg)} AS s_{lg}" for lg in _PRIORITY)
    + " FROM documents"
)
_SQL_PRED_LANG_CASE = """CASE
    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
    WHEN s_fr >= s_zh THEN 'fr'
    ELSE 'zh'
  END"""

_LANGID_ORACLE = f"""
WITH scored AS (
  {_SQL_LANG_SCORED}
)
SELECT doc_id, lang,
  {_SQL_PRED_LANG_CASE} AS pred_lang
FROM scored
"""


def _pred_lang_expr(toks):
    """Marker-argmax language predictor over a staged token-array Column
    — the Spark twin of _LANGID_ORACLE's CASE chain, shared by lang_id
    and curation_funnel (one definition or their hash parity drifts)."""

    def _score(words):
        # NB: no default-arg closure — PySpark binds a Column to EVERY
        # parameter of a higher-order-function lambda, defaults included.
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {lg: _score(_MARKERS[lg]) for lg in _PRIORITY}
    pred = F.lit("zh")
    # build the CASE chain from the bottom up to mirror the SQL exactly
    pred = F.when(scores["fr"] >= scores["zh"], "fr").otherwise(pred)
    pred = F.when((scores["es"] >= scores["fr"]) & (scores["es"] >= scores["zh"]), "es").otherwise(pred)
    pred = F.when(
        (scores["de"] >= scores["es"]) & (scores["de"] >= scores["fr"]) & (scores["de"] >= scores["zh"]),
        "de",
    ).otherwise(pred)
    pred = F.when(
        (scores["en"] >= scores["de"]) & (scores["en"] >= scores["es"])
        & (scores["en"] >= scores["fr"]) & (scores["en"] >= scores["zh"]),
        "en",
    ).otherwise(pred)
    return pred


@register("lang_id", oracle=_LANGID_ORACLE)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word scoring per language; argmax with a fixed priority
    order so ties are deterministic. Pure map — no shuffle at all."""
    d = table(spark, sf_dir, "documents")
    # stage the split once: the CASE chain references each score up to 4
    # times and each score embeds a filter over the tokens — unstaged,
    # the text would re-split ~14× per row if codegen CSE doesn't fire
    staged = d.select("doc_id", "lang", _tokens().alias("toks"))
    return staged.select(
        "doc_id", "lang", _pred_lang_expr(col("toks")).alias("pred_lang")
    )


# ---------------------------------------------------------------------------
# langid_confusion — language-ID confusion matrix vs labels
# ---------------------------------------------------------------------------

_LANGID_CM_ORACLE = f"""
WITH scored AS (
  {_SQL_LANG_SCORED}
),
pairs AS (
  SELECT lang, {_SQL_PRED_LANG_CASE} AS pred_lang FROM scored
),
cm AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY lang, pred_lang
),
tot AS (
  SELECT lang, pred_lang, n,
         CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total
  FROM cm
)
SELECT lang, pred_lang, n, lang_total,
       CAST(n AS DOUBLE) / lang_total AS row_share,
       lang = pred_lang AS correct
FROM tot
ORDER BY lang, pred_lang
"""


@register("langid_confusion", oracle=_LANGID_CM_ORACLE)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-argmax language identifier against
    the labeled lang column — the evaluation a curation stack runs
    before trusting lang-ID to route documents (the langid/quality-gate
    sibling of classifier_eval_auc). One row per observed (label,
    prediction) pair with the label row total and row share; correct
    flags the diagonal.

    Scale shape: map-only predictor fold → ONE partial-combining
    groupBy((lang, pred) — ≤ |langs|² rows at any corpus size); the
    row-total window then re-shuffles on lang, but its input is the
    already-reduced matrix, so that exchange moves ≤ |langs|² rows at
    any corpus size (prefix REUSE only works window-first —
    HashPartitioning(lang, pred) does not satisfy partitionBy(lang)).
    Counts int64; row_share is one IEEE division of exact ints."""
    d = table(spark, sf_dir, "documents")
    staged = d.select("lang", _tokens().alias("toks"))
    pairs = staged.select("lang", _pred_lang_expr(col("toks")).alias("pred_lang"))
    cm = pairs.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    tot = cm.select(
        "lang", "pred_lang", "n", F.sum("n").over(w).alias("lang_total")
    )
    return tot.select(
        "lang",
        "pred_lang",
        "n",
        "lang_total",
        (col("n").cast("double") / col("lang_total")).alias("row_share"),
        (col("lang") == col("pred_lang")).alias("correct"),
    ).orderBy("lang", "pred_lang")


# ---------------------------------------------------------------------------
# quality_score — heuristic document quality
# ---------------------------------------------------------------------------

#: The quality formula over RAW text, shared by quality_score and
#: split_drift_tvd here and imported by dedup_keep_best's oracle:
#: ttr·0.6 + min(n_tokens/256, 1)·0.4 — both forms must stay term-for-term
#: identical or the hash parity of every dependent oracle breaks.
#: (pipeline_corpus_curation applies the same weights to NORMALIZED text
#: via staged ttr/n_tokens feature columns — deliberately its own
#: expression, since this one hardcodes the `text` column.)
QUALITY_SQL = (
    "(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
    " / len(string_split(text, ' '))) * 0.6"
    " + LEAST(len(string_split(text, ' ')) / 256.0, 1.0) * 0.4"
)


def quality_expr(toks=None):
    """Spark twin of QUALITY_SQL (same ops in the same order). Pass a
    staged token-array Column to avoid re-splitting `text` per term —
    the values are identical either way; only the split count changes."""
    toks = _tokens() if toks is None else toks
    n_tokens = F.size(toks)
    n_types = F.size(F.array_distinct(toks))
    return (n_types.cast("double") / n_tokens) * 0.6 + F.least(
        n_tokens / F.lit(256.0), F.lit(1.0)
    ) * 0.4


_QUALITY_ORACLE = f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_types,
         CAST(n_chars AS DOUBLE) AS chars,
         {QUALITY_SQL} AS quality
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(n_types AS DOUBLE) / n_tokens AS type_token_ratio,
       (chars - n_tokens + 1) / n_tokens AS avg_token_len,
       quality
FROM feats
"""


@register("quality_score", oracle=_QUALITY_ORACLE)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type/token ratio + length prior → [0,1]-ish score. The components a
    pretraining-data filter actually uses (repetition and length are the
    two cheapest junk signals). Pure map work."""
    d = table(spark, sf_dir, "documents")
    # stage the split once (the gopher-rules discipline in this file:
    # codegen CSE is not trusted to dedupe the 8 embedded splits)
    staged = d.select("doc_id", "n_chars", _tokens().alias("toks"))
    n_tokens = F.size(col("toks"))
    n_types = F.size(F.array_distinct(col("toks")))
    chars = col("n_chars").cast("double")
    ttr = n_types.cast("double") / n_tokens
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        ttr.alias("type_token_ratio"),
        ((chars - n_tokens + 1) / n_tokens).alias("avg_token_len"),
        quality_expr(col("toks")).alias("quality"),
    )


# ---------------------------------------------------------------------------
# token_count — whitespace + BPE-ish subword estimate
# ---------------------------------------------------------------------------

_BPE_RE = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]"

_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS subword_tokens,
       CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens
FROM documents
"""


@register("token_count", oracle=_TOKEN_COUNT_ORACLE)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three token-count estimators: whitespace, regex word-pieces, and
    the chars/4 rule of thumb. regexp stays in codegen (JVM regex)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("ws_tokens"),
        F.regexp_count(col("text"), F.lit(_BPE_RE)).alias("subword_tokens"),
        F.ceil(col("n_chars") / 4.0).cast("long").alias("est_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# tokenizer_fertility — per-language tokenizer-fit diagnostic
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = f"""
WITH t AS (
  SELECT lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
           AS subword_tokens
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(ws_tokens) AS BIGINT) AS sum_ws,
       CAST(SUM(subword_tokens) AS BIGINT) AS sum_subword,
       CAST(SUM(n_chars) AS DOUBLE) / NULLIF(SUM(subword_tokens), 0)
         AS chars_per_subword,
       CAST(SUM(subword_tokens) AS DOUBLE) / NULLIF(SUM(ws_tokens), 0)
         AS fertility
FROM t GROUP BY lang
"""


@register("tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fit report — the multilingual diagnostic a
    training team reads before fixing a mixture: fertility (subword
    tokens per whitespace word; high fertility means the tokenizer
    fragments that language and its effective context window shrinks)
    and chars-per-subword (compression). Languages the tokenizer serves
    poorly cost more tokens per unit text, which silently distorts any
    token-denominated budget or mixture weight.

    Shape: scan → codegen map (split size + JVM regex count) → ONE
    partial-combining groupBy(lang) carrying 4 integers per (task,
    lang). All sums int64; the two ratios are single IEEE divisions on
    exact integers, post-shuffle."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        "n_chars",
        F.size(_tokens()).cast("long").alias("ws_tokens"),
        F.regexp_count(col("text"), F.lit(_BPE_RE))
        .cast("long")
        .alias("subword_tokens"),
    )
    g = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("ws_tokens").alias("sum_ws"),
        F.sum("subword_tokens").alias("sum_subword"),
    )
    # zero-sum guard, mirrored on both sides (oracle: NULLIF): a language
    # whose docs are all empty/whitespace yields sum_subword = 0 (or a
    # zero-token split → sum_ws = 0), where Spark double division is NULL
    # but DuckDB IEEE division is inf — a latent driver hash divergence
    # (r11 ADVICE). when(denom > 0, ...) is NULL otherwise, like NULLIF.
    def _safe_ratio(num, denom):
        return F.when(col(denom) > 0, col(num).cast("double") / col(denom))

    return g.select(
        "lang",
        "n_docs",
        "sum_chars",
        "sum_ws",
        "sum_subword",
        _safe_ratio("sum_chars", "sum_subword").alias("chars_per_subword"),
        _safe_ratio("sum_subword", "sum_ws").alias("fertility"),
    )


# ---------------------------------------------------------------------------
# text_normalize — canonical cleanup before dedup/tokenization
# ---------------------------------------------------------------------------

_NORM_ORACLE = f"""
SELECT doc_id,
  {_NORM_SQL} AS norm_text,
  len(string_split({_NORM_SQL}, ' ')) AS n_norm_tokens
FROM documents
"""


@register("text_normalize", oracle=_NORM_ORACLE)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pass run before dedup/tokenization: lowercase →
    strip non-alphanumerics → collapse runs of spaces → trim. Pure map
    in whole-stage codegen (JVM regex). The character class is ASCII on
    purpose — Java and RE2 regex agree exactly there, where unicode
    property classes can diverge between engines; non-Latin scripts
    (the zh docs) normalize to empty, which a real pipeline would route
    to a script-specific branch keyed on lang_id."""
    d = table(spark, sf_dir, "documents")
    norm = _norm_expr()
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(F.split(norm, " ")).alias("n_norm_tokens"),
    )


# ---------------------------------------------------------------------------
# udtf_top_ngrams — Python UDTF surface (§2B UDF/UDAF/UDTF row)
# ---------------------------------------------------------------------------

_UDTF_NGRAMS_ORACLE = """
WITH grams AS (
  SELECT unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
    AS gram
  FROM documents
)
SELECT gram, COUNT(*) AS n
FROM grams GROUP BY gram
ORDER BY n DESC, gram LIMIT 20
"""


@register("udtf_top_ngrams", oracle=_UDTF_NGRAMS_ORACLE)
def udtf_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word 3-grams via a Python UDTF in a LATERAL
    join — the table-function escape hatch (one input row → many output
    rows with imperative logic). For THIS logic the JVM explode/
    transform path (dedup.py's shingles) is the fast path; the UDTF
    form exists for generators that genuinely need Python (parsers,
    tokenizers with library dependencies). useArrow=True keeps the
    Python boundary Arrow-batched — without it a UDTF plans as
    BatchEvalPython, the row-at-a-time path the whole repo bans
    (pinned by tests/test_plans.py's hygiene sweep). Downstream is an
    ordinary partial+final count and a TakeOrdered top-k with a
    deterministic gram tiebreak."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="gram: string", useArrow=True)
    class NGrams:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 2):
                yield (" ".join(toks[i : i + 3]),)

    spark.udtf.register("ngrams_udtf", NGrams)
    table(spark, sf_dir, "documents").createOrReplaceTempView("_docs_for_udtf")
    grams = spark.sql("SELECT t.gram FROM _docs_for_udtf, LATERAL ngrams_udtf(text) t")
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(col("n").desc(), "gram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# text_percentiles — grouped applyInPandas (the UDAF-shaped escape hatch)
# ---------------------------------------------------------------------------

_PCTL_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       quantile_cont(n_chars, 0.5) AS p50_chars,
       quantile_cont(n_chars, 0.9) AS p90_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("text_percentiles", oracle=_PCTL_ORACLE)
def text_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles via grouped applyInPandas —
    the custom-aggregate (UDAF) escape hatch for holistic aggregates
    that don't decompose into partial+merge. One shuffle on lang; each
    group is one Arrow batch in one task. At 100 TB with a huge single
    group, exact percentiles need a distributed selection algorithm or
    approx_percentile (t-digest) instead — this shape is for groups that
    fit a task, which per-language length stats do.

    The interpolation formula (h = (n-1)·q, then (1-f)·lower + f·upper)
    is written out explicitly and matches DuckDB's quantile_cont
    bitwise: inputs are integers (exact in double) and both engines
    perform the identical IEEE op sequence."""
    import numpy as np
    import pandas as pd

    def pctl(pdf: "pd.DataFrame") -> "pd.DataFrame":
        x = np.sort(pdf["n_chars"].to_numpy(dtype=np.float64))

        def q(p: float) -> float:
            h = (len(x) - 1) * p
            lo = int(h)
            hi = min(lo + 1, len(x) - 1)
            f = h - lo
            # (1-f)·a + f·b, NOT a + f·(b-a): same real value, different
            # rounding — this is the form DuckDB's quantile_cont uses.
            return float((1 - f) * x[lo] + f * x[hi])

        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(x)],
                "p50_chars": [q(0.5)],
                "p90_chars": [q(0.9)],
            }
        )

    d = table(spark, sf_dir, "documents")
    return (
        d.select("lang", "n_chars")
        .groupBy("lang")
        .applyInPandas(pctl, schema="lang string, n_docs long, p50_chars double, p90_chars double")
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# split_train_eval — deterministic hash-bucketed corpus splits
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
WITH bucketed AS (
  SELECT doc_id, n_chars, {sql_portable_token('doc_id')} % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id
FROM bucketed GROUP BY 1 ORDER BY 1
"""


@register("split_train_eval", oracle=_SPLIT_ORACLE)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test split by a PORTABLE hash of the document id
    — the reproducible-split primitive every training pipeline needs:
    membership is a pure function of the id (stable across runs,
    machines, engines, and corpus growth — adding documents never moves
    existing ones between splits, unlike random sampling or modulo on
    row position). Pure map + tiny aggregate; at scale the same bucket
    expression becomes the partition key of the written splits."""
    d = table(spark, sf_dir, "documents")
    bucket = portable_token(col("doc_id")) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars", "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# pipeline_corpus_curation — the composed pretraining-data pipeline
# ---------------------------------------------------------------------------

_CURATION_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, lang, {_NORM_SQL} AS n
  FROM documents
),
feats AS (
  SELECT doc_id, lang, n,
    len(string_split(n, ' ')) AS n_tokens,
    CAST(len(list_distinct(string_split(n, ' '))) AS DOUBLE)
      / len(string_split(n, ' ')) AS ttr
  FROM norm
),
scored AS (
  SELECT *, ttr * 0.6 + LEAST(n_tokens / 256.0, 1.0) * 0.4 AS quality
  FROM feats WHERE n_tokens >= 10
),
kept AS (SELECT * FROM scored WHERE quality >= 0.5),
dedup AS (
  SELECT arg_min(lang, doc_id) AS lang, COUNT(*) AS dups, MIN(quality) AS quality
  FROM kept GROUP BY n
)
SELECT lang, COUNT(*) AS docs_kept, CAST(SUM(dups - 1) AS BIGINT) AS dups_removed,
       {sql_davg('quality')} AS avg_quality
FROM dedup GROUP BY lang ORDER BY lang
"""


@register("pipeline_corpus_curation", oracle=_CURATION_ORACLE)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline a pretraining corpus actually runs,
    as ONE declarative plan: normalize → length gate → quality score →
    quality gate → exact dedup on normalized text → per-language yield
    report. Catalyst fuses the first four stages into a single codegen'd
    map; the only shuffles are the dedup groupBy (distinct normalized
    texts — at scale, group md5(norm) instead) and the final tiny
    per-language aggregate. One scan of the corpus, end to end."""
    d = table(spark, sf_dir, "documents")
    norm = _norm_expr()
    toks = F.split(col("n"), " ")
    staged = d.select("doc_id", "lang", norm.alias("n"))
    feats = staged.select(
        "doc_id",
        "lang",
        "n",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
    )
    scored = feats.filter(col("n_tokens") >= 10).withColumn(
        "quality",
        col("ttr") * 0.6 + F.least(col("n_tokens") / F.lit(256.0), F.lit(1.0)) * 0.4,
    )
    kept = scored.filter(col("quality") >= 0.5)
    dedup = kept.groupBy("n").agg(
        F.expr("min_by(lang, doc_id)").alias("lang"),
        F.count("*").alias("dups"),
        F.min("quality").alias("quality"),
    )
    return (
        dedup.groupBy("lang")
        .agg(
            F.count("*").alias("docs_kept"),
            F.sum(col("dups") - 1).alias("dups_removed"),
            davg(col("quality")).alias("avg_quality"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# doc_fingerprint — polynomial rolling hash
# ---------------------------------------------------------------------------

_FP_MOD = 1_000_000_007
_FP_LEN = 64  # hash the first 64 chars: cost-bounded, collision-adequate for routing

_FP_ORACLE = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, LEAST(length(text), {_FP_LEN}) + 1),
                     i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
    (a, b) -> (a * 31 + b) % {_FP_MOD}) AS fingerprint
FROM documents
"""


@register("doc_fingerprint", oracle=_FP_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic polynomial rolling hash (base 31, prime modulus) over the
    document prefix — the shard-routing / bucketing fingerprint. Each
    modular step keeps the accumulator < 31·10^9 + 2^21, int64-safe, so
    Spark's ANSI arithmetic never overflows. Pure map; F.aggregate is a
    codegen fold, not a UDF."""
    d = table(spark, sf_dir, "documents")
    n = F.least(F.length(col("text")), F.lit(_FP_LEN))
    codes = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.ascii(col("text").substr(i, F.lit(1))).cast("long")
    )
    fp = F.aggregate(codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % _FP_MOD)
    # Spark's sequence(1, 0) yields a DESCENDING sequence, not empty — guard
    # the empty-text case explicitly (DuckDB's range(1, 1) is empty).
    fp = F.when(n >= 1, fp).otherwise(F.lit(0).cast("long"))
    return d.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# string_distance_pairs — blocked pairwise edit distance (entity resolution)
# ---------------------------------------------------------------------------

_LEV_ORACLE = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 6
ORDER BY key_a, key_b
"""


@register("string_distance_pairs", oracle=_LEV_ORACLE)
def string_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic entity-resolution primitive: candidate pairs from a
    cheap BLOCKING key (brand, size), then exact Levenshtein only
    within blocks. The equi-join keys make this a plain shuffled hash
    join — never a cross join — so pair volume is Σ block² over blocks,
    not N². At 100 TB the block key is the knob: tighten it (add more
    columns / a prefix bucket) until the largest block fits a task.
    Levenshtein runs JVM-side inside codegen; the p_partkey < ordering
    halves the pair count and canonicalizes output."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a = p.select(*[col(c).alias(c + "_a") for c in p.columns])
    b = p.select(*[col(c).alias(c + "_b") for c in p.columns])
    return (
        a.join(
            b,
            (col("p_brand_a") == col("p_brand_b"))
            & (col("p_size_a") == col("p_size_b"))
            & (col("p_partkey_a") < col("p_partkey_b")),
        )
        .withColumn("edit_dist", F.levenshtein(col("p_name_a"), col("p_name_b")))
        .filter(col("edit_dist") <= 6)
        .select(
            col("p_partkey_a").alias("key_a"),
            col("p_partkey_b").alias("key_b"),
            col("p_name_a").alias("name_a"),
            col("p_name_b").alias("name_b"),
            "edit_dist",
        )
        .orderBy("key_a", "key_b")
    )


# ---------------------------------------------------------------------------
# regex_extract — the regexp function surface (extract / extract_all /
# replace / match) over document text
# ---------------------------------------------------------------------------

# Patterns restricted to the RE2 ∩ java.util.regex common subset
# (literal alternation, char classes, anchors) — semantics identical.
# DuckDB regexp_replace needs the 'g' flag to match Spark's
# replace-all default.

_REGEX_ORACLE = """
SELECT doc_id,
  regexp_extract(text, '^([a-z]+)', 1) AS first_word,
  len(regexp_extract_all(text, '(join|merge)', 1)) AS n_joinmerge,
  regexp_matches(text, 'spark') AS mentions_spark,
  length(regexp_replace(text, '[aeiou]', '', 'g')) AS len_devoweled
FROM documents
ORDER BY doc_id
"""


@register("regex_extract", oracle=_REGEX_ORACLE)
def regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_extract_all / rlike / regexp_replace in
    one projection — pure JVM map stage, zero shuffles, codegen'd.
    Regex compiles once per task (not per row); at 100 TB the only
    watch-item is catastrophic-backtracking patterns in java.util.regex
    — the patterns here are linear-time in both engines."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.regexp_extract("text", "^([a-z]+)", 1).alias("first_word"),
            F.size(
                F.regexp_extract_all(col("text"), F.lit("(join|merge)"), F.lit(1))
            ).alias("n_joinmerge"),
            col("text").rlike("spark").alias("mentions_spark"),
            F.length(F.regexp_replace("text", "[aeiou]", "")).alias("len_devoweled"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# sample_rebalance — deterministic per-class downsampling (class rebalance)
# ---------------------------------------------------------------------------

# Keep 25% of the dominant class, 100% of the rest — membership is a pure
# function of doc_id (same portable hash as split_train_eval), so the
# sample is reproducible across runs/engines and stable under corpus
# growth. Threshold on the hash, never on row position or RNG state.
_REBALANCE_CAP = 25  # % of 'en' documents kept

_REBALANCE_ORACLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE lang != 'en'
   OR (CAST(doc_id AS BIGINT) * 2654435761) % 4294967296
        < {_REBALANCE_CAP} * 42949672.96
ORDER BY doc_id
"""


@register("sample_rebalance", oracle=_REBALANCE_ORACLE)
def sample_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-rebalancing sampler: the over-represented language is
    hash-downsampled to {CAP}% while minority classes pass through —
    the deterministic analogue of sampleBy(), whose RNG-seeded sample
    differs between engines and between runs with different partition
    layouts. Pure map stage: the predicate pushes to the scan, no
    shuffle at any scale."""
    d = table(spark, sf_dir, "documents")
    keep = (col("lang") != "en") | (
        portable_token(col("doc_id")) < F.lit(int(_REBALANCE_CAP * 42949672.96))
    )
    return d.filter(keep).select("doc_id", "lang", "source").orderBy("doc_id")


# ---------------------------------------------------------------------------
# quality_gopher_rules — rule-based pretraining quality gate
# ---------------------------------------------------------------------------

# Stopword list drawn from the fixture vocabulary so both branches of the
# rule actually fire on the synthetic corpus.
_GOPHER_STOPS = ("the", "data", "value", "table")

# SQL fragments shared between quality_gopher_rules' oracle and the
# classifier-evaluation oracles below (classifier_eval_auc uses the gate
# as its weak LABEL — a drift between the two copies would silently
# corrupt the measured AUC, so there is exactly one definition).
_SQL_GOPHER_FEATS = f"""len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) AS n_types,
         n_chars,
         {" + ".join(f"CASE WHEN list_contains(string_split(text,' '), '{s}') THEN 1 ELSE 0 END" for s in _GOPHER_STOPS)} AS n_stops"""

# boolean pass gate over a feats CTE exposing (n_words, n_types, n_chars,
# n_stops)
_SQL_GOPHER_PASS = (
    "(n_words BETWEEN 10 AND 1000)"
    " AND ((CAST(n_chars AS DOUBLE) - n_words + 1) / n_words BETWEEN 2.0 AND 12.0)"
    " AND (CAST(n_types AS DOUBLE) / n_words >= 0.2)"
    " AND (n_stops >= 2)"
)

_GOPHER_ORACLE = f"""
WITH feats AS (
  SELECT doc_id, source,
         {_SQL_GOPHER_FEATS}
  FROM documents
)
SELECT doc_id, source, n_words,
       (CAST(n_chars AS DOUBLE) - n_words + 1) / n_words AS mean_word_len,
       CAST(n_types AS DOUBLE) / n_words AS ttr,
       n_stops >= 2 AS has_stops,
       {_SQL_GOPHER_PASS} AS pass
FROM feats
"""


def _gopher_feat_cols(t) -> "tuple[F.Column, F.Column, F.Column, F.Column]":
    """(n_words, mean_word_len, ttr, n_stops) over a token-array column
    (requires n_chars in scope) — the single Spark-side definition of
    the gopher features, shared by quality_gopher_rules and the
    classifier-evaluation ops that use its gate as their weak label."""
    n_words = F.size(t)
    n_types = F.size(F.array_distinct(t))
    n_stops = sum(
        F.when(F.array_contains(t, s), 1).otherwise(0) for s in _GOPHER_STOPS
    )
    mwl = (col("n_chars").cast("double") - n_words + 1) / n_words
    ttr = n_types.cast("double") / n_words
    return n_words, mwl, ttr, n_stops


def _gopher_pass_col(t) -> "F.Column":
    """The document-level gopher keep gate as one boolean Column."""
    n_words, mwl, ttr, n_stops = _gopher_feat_cols(t)
    return (
        n_words.between(10, 1000)
        & mwl.between(2.0, 12.0)
        & (ttr >= 0.2)
        & (n_stops >= 2)
    )


@register("quality_gopher_rules", oracle=_GOPHER_ORACLE)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality gate in the style pretraining pipelines ship
    (word-count bounds, mean-word-length bounds, type/token floor,
    stopword-presence): every rule is a pure map over precomputable
    features, so the whole gate is one codegen stage with zero shuffles
    at any scale. Ratios are single IEEE divisions of integer counts —
    bit-identical across engines, so the rule BOOLEANS (not just the
    floats) hash-match the oracle."""
    d = table(spark, sf_dir, "documents")
    # stage the split once (the adjacent curation ops' pattern): six
    # _tokens() occurrences in one projection would otherwise lean on
    # codegen CSE to avoid re-splitting text up to 6x per row
    staged = d.select("doc_id", "source", "n_chars", _tokens().alias("toks"))
    t = col("toks")
    n_words, mwl, ttr, n_stops = _gopher_feat_cols(t)
    return staged.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        ttr.alias("ttr"),
        (n_stops >= 2).alias("has_stops"),
        _gopher_pass_col(t).alias("pass"),
    )


# ---------------------------------------------------------------------------
# repetition_score — duplicate-ngram fraction (intra-doc repetition)
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH g AS (
  SELECT doc_id,
         greatest(len(string_split(text, ' ')) - 2, 0) AS total_grams,
         len(list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                || ' ' || string_split(text,' ')[i+2]))) AS distinct_grams
  FROM documents
)
SELECT doc_id, total_grams, distinct_grams,
       CASE WHEN total_grams > 0
            THEN CAST(total_grams - distinct_grams AS DOUBLE) / total_grams
            ELSE 0.0 END AS dup_gram_fraction
FROM g
"""


@register("repetition_score", oracle=_REPETITION_ORACLE)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: the fraction of word 3-grams that are
    duplicates of an earlier gram in the same doc — the cheap signal
    quality filters use to kill boilerplate/spam. Entirely map-side
    (gram arrays never leave their row, nothing shuffles); the staged
    token projection mirrors dedup._with_grams so split(text) runs once
    per row, not once per gram."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(col("text"), " ").alias("toks"))
    t = col("toks")
    # guard the <3-token case: Spark's sequence(1, 0) infers step -1 and
    # yields [1, 0], whose element_at(t, 0) then throws — where DuckDB's
    # range(1, 1) is simply empty. Short docs have 0 grams by definition.
    grams = F.when(
        F.size(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = toks.select(
        "doc_id",
        F.greatest(F.size(t) - 2, F.lit(0)).alias("total_grams"),
        F.size(F.array_distinct(grams)).alias("distinct_grams"),
    )
    return staged.select(
        "doc_id",
        col("total_grams").cast("long").alias("total_grams"),
        col("distinct_grams").cast("long").alias("distinct_grams"),
        F.when(
            col("total_grams") > 0,
            (col("total_grams") - col("distinct_grams")).cast("double")
            / col("total_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_gram_fraction"),
    )


# ---------------------------------------------------------------------------
# contamination_overlap — eval-set n-gram contamination check
# ---------------------------------------------------------------------------

_BENCH_MOD = 50  # doc_id % 50 == 0 plays the held-out benchmark set
_BENCH_CAP = 64  # max bench docs — fixed-size BY CONSTRUCTION (r9 VERDICT
#                  item 2): a real eval benchmark has a fixed doc count, so
#                  the stand-in must too. The bare mod-slice is a 2% CORPUS-
#                  GROWING slice, which made F.broadcast(bench) the same
#                  8 GB-ceiling abort class as the deleted TPC-H hints; with
#                  the id cap below, bench ≤ 64 docs at EVERY SF and the
#                  hint is sound.
_BENCH_MAX_ID = _BENCH_MOD * _BENCH_CAP  # ids 0,50,…,3150 qualify


def _sql_is_bench() -> str:
    """Oracle-side twin of _bench_split's predicate (the driver compares
    the two engines' results, so the cap must be IDENTICAL on both)."""
    return f"doc_id % {_BENCH_MOD} = 0 AND doc_id < {_BENCH_MAX_ID}"


def _bench_split(d: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """(bench, corpus) split of the documents frame — the ONE place the
    held-out-benchmark membership rule lives (r10 VERDICT item 4: both
    contamination ops previously inlined it and a source-string guard
    held them equal; a shared helper makes the guard structural).

    The bench side is FIXED-SIZE BY CONSTRUCTION: ≤ _BENCH_CAP docs via
    the id cap at EVERY SF — the property that makes broadcasting a
    bench-derived frame sound. A bare mod-slice is a 2% corpus-growing
    side, the same 8 GB-broadcast-ceiling abort class as the deleted
    TPC-H hints (r9 VERDICT item 2)."""
    is_bench = (col("doc_id") % _BENCH_MOD == 0) & (col("doc_id") < _BENCH_MAX_ID)
    return d.filter(is_bench), d.filter(~is_bench)
_CONTAM_N = 8  # 8-gram window: standard for contamination (3-grams of a
#                small vocabulary collide on nearly every doc pair —
#                long windows make the index selective, which is also
#                what bounds the join's candidate volume)

_CONTAM_GRAMS_SQL = f"""
list_distinct(list_transform(
  range(1, greatest(len(string_split(text,' ')) - {_CONTAM_N - 1}, 0) + 1),
  i -> {" || ' ' || ".join(f"string_split(text,' ')[i+{k}]" for k in range(_CONTAM_N))}))
"""


@register(
    "contamination_overlap",
    oracle=f"""
WITH grams AS (
  SELECT doc_id, unnest({_CONTAM_GRAMS_SQL}) AS g FROM documents
),
bench AS (SELECT doc_id AS bench_id, g FROM grams
          WHERE {_sql_is_bench()}),
corpus AS (SELECT doc_id, g FROM grams
           WHERE NOT ({_sql_is_bench()}))
SELECT c.doc_id,
       CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
       MIN(b.bench_id) AS first_bench_id
FROM corpus c JOIN bench b USING (g)
GROUP BY c.doc_id
""",
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination scan — the pre-training hygiene step that
    flags training docs sharing any word 8-gram with a held-out eval set
    (here: the first _BENCH_CAP (64) doc_ids ≡ 0 mod 50 play the
    benchmark; membership rule shared with contamination_substring via
    _bench_split).
    Same inverted-index shape as dedup_ngram_jaccard but with the long
    gram window contamination checks actually use: selectivity of the
    gram IS the bound on join candidate volume. The benchmark side is
    FIXED-SIZE BY CONSTRUCTION (≤ _BENCH_CAP docs via the id cap — a
    corpus-growing slice would make the hint an 8 GB-ceiling abort at
    production SF), so it soundly BROADCASTS — the training corpus never
    shuffles, a hard requirement when the corpus is the 100 TB side. Output: contaminated doc → distinct benchmark
    docs hit and the first (min) benchmark id, for reporting/excision."""
    return (
        _overlap_pairs(table(spark, sf_dir, "documents"))
        .groupBy("doc_id")
        .agg(
            F.count_distinct(col("bench_id")).alias("n_bench_docs"),
            F.min("bench_id").alias("first_bench_id"),
        )
    )


def _overlap_pairs(d: DataFrame) -> DataFrame:
    """(doc_id [corpus], bench_id) — every word-8-gram hit across the
    bench split; the pair-level core shared by contamination_overlap
    (grouped per train doc) and decontamination_report (per eval doc).
    Uses dedup._gram_rows (staged split, short-doc guard, collapse-safe
    explode); filtering BEFORE gram construction means each side grams
    only its own docs."""
    from cqlcopy_spark.operators.dedup import _gram_rows

    bench_docs, corpus_docs = _bench_split(d)
    bench = _gram_rows(bench_docs, n=_CONTAM_N).select(
        col("doc_id").alias("bench_id"), "g"
    )
    corpus = _gram_rows(corpus_docs, n=_CONTAM_N)
    return corpus.join(F.broadcast(bench), "g").select("doc_id", "bench_id")


# ---------------------------------------------------------------------------
# contamination_substring — exact CHARACTER-substring contamination check
# ---------------------------------------------------------------------------

_SUB_N = 24  # window length (chars)
_SUB_STRIDE = 8  # corpus-side sampling stride


def _sql_char_windows(stride: int) -> str:
    # distinct char windows of length _SUB_N starting at 1, 1+stride, …
    return f"""
list_distinct(list_transform(
  range(1, len(text) - {_SUB_N - 1} + 1, {stride}),
  i -> substr(text, CAST(i AS INT), {_SUB_N})))
"""


@register(
    "contamination_substring",
    oracle=f"""
WITH bench AS (
  SELECT doc_id AS bench_id, unnest({_sql_char_windows(1)}) AS w
  FROM documents
  WHERE {_sql_is_bench()}
    AND len(text) >= {_SUB_N}
),
corpus AS (
  SELECT doc_id, unnest({_sql_char_windows(_SUB_STRIDE)}) AS w
  FROM documents
  WHERE NOT ({_sql_is_bench()})
    AND len(text) >= {_SUB_N}
)
SELECT c.doc_id,
       CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
       MIN(b.bench_id) AS first_bench_id
FROM corpus c JOIN bench b USING (w)
GROUP BY c.doc_id
""",
)
def contamination_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-substring contamination (r04 VERDICT item 7):
    flags training docs sharing a VERBATIM character run with the
    held-out set — the check that catches copied eval text whose word
    tokenization differs (punctuation, casing of neighbors, joined
    tokens), which the word-8-gram contamination_overlap can miss.

    Guarantee: the bench side indexes EVERY length-24 window, the
    corpus side samples windows at stride 8, so any shared substring of
    length ≥ n + s − 1 (31 chars) contains a sampled corpus window that
    exactly matches a bench window — detection is certain above that
    length, not probabilistic. The stride is the scale knob: corpus
    rows ≈ chars/8 instead of chars, and the eval set — fixed-size BY
    CONSTRUCTION (≤ _BENCH_CAP docs via the id cap, r9 VERDICT item 2)
    — is the side paying full window density. Join shape mirrors
    contamination_overlap: the bounded bench windows BROADCAST, the
    100 TB corpus side stays map-only + one aggregation shuffle. In production the
    window strings would be xxhash64-folded before the join (8-byte
    keys, same semantics); the raw-string join here keeps the pipeline
    DuckDB-verifiable end to end."""
    return (
        _substring_pairs(table(spark, sf_dir, "documents"))
        .groupBy("doc_id")
        .agg(
            F.count_distinct(col("bench_id")).alias("n_bench_docs"),
            F.min("bench_id").alias("first_bench_id"),
        )
    )


def _char_windows(df: DataFrame, stride: int) -> DataFrame:
    """(doc_id, w): distinct length-_SUB_N char windows at the stride."""
    idx = F.sequence(
        F.lit(1), F.length("text") - F.lit(_SUB_N - 1), F.lit(stride)
    )
    return df.filter(F.length("text") >= _SUB_N).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(idx, lambda i: F.substring(col("text"), i, _SUB_N))
            )
        ).alias("w"),
    )


def _substring_pairs(d: DataFrame) -> DataFrame:
    """(doc_id [corpus], bench_id) — every verbatim char-window hit
    across the bench split; pair-level core shared by
    contamination_substring and decontamination_report."""
    bench_docs, corpus_docs = _bench_split(d)
    bench = _char_windows(bench_docs, 1).select(
        col("doc_id").alias("bench_id"), "w"
    )
    corpus = _char_windows(corpus_docs, _SUB_STRIDE)
    return corpus.join(F.broadcast(bench), "w").select("doc_id", "bench_id")


# ---------------------------------------------------------------------------
# contamination_excise — APPLY the contamination gate: clean training set
# ---------------------------------------------------------------------------


def _excise_oracle() -> str:
    return f"""
WITH bench AS (
  SELECT doc_id AS bench_id, unnest({_sql_char_windows(1)}) AS w
  FROM documents
  WHERE {_sql_is_bench()} AND len(text) >= {_SUB_N}
),
corpus AS (
  SELECT doc_id, unnest({_sql_char_windows(_SUB_STRIDE)}) AS w
  FROM documents
  WHERE NOT ({_sql_is_bench()}) AND len(text) >= {_SUB_N}
),
flagged AS (SELECT DISTINCT c.doc_id FROM corpus c JOIN bench b USING (w))
SELECT d.doc_id, d.lang, d.source,
       CAST(len(string_split(COALESCE(d.text, ''), ' ')) AS BIGINT) AS n_tokens
FROM documents d
WHERE NOT ({_sql_is_bench()})
  AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
"""


@register("contamination_excise", oracle=_excise_oracle())
def contamination_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination APPLIED (the step after the scan): the clean
    training set is the corpus minus every doc the exact-substring check
    flagged — and minus the held-out benchmark docs themselves, which
    must never train. The detect ops report; this op produces the frame
    the tokenizer/packer actually consumes, so the detect→excise
    composition is verified end to end.

    Scale shape: the flagged set is contamination-rate-sized (a key set,
    doc_id only), so the LEFT ANTI join leaves the corpus side in place
    — stats score an anti join's output at the LEFT child, AQE picks a
    broadcast build for the small flagged side at bench SF, and past
    broadcast size it degrades to a doc_id hash join, never a corpus
    re-shuffle of text (the projection carries doc_id/lang/source +
    token count, not text)."""
    d = table(spark, sf_dir, "documents")
    _, corpus_docs = _bench_split(d)
    flagged = contamination_substring(spark, sf_dir).select("doc_id")
    return (
        corpus_docs.join(flagged, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            "source",
            F.size(F.split(F.coalesce(col("text"), F.lit("")), " "))
            .cast("long")
            .alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# pack_sequences — fixed-token-budget sequence packing plan
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per training sequence
_PACK_SHARDS = 32  # independent packing domains (one per worker at scale)

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
placed AS (
  SELECT shard, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
           AS start_offset
  FROM toks
)
SELECT shard,
       start_offset // {_PACK_BUDGET} AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM placed
GROUP BY shard, start_offset // {_PACK_BUDGET}
"""


@register("pack_sequences", oracle=_PACK_ORACLE)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: concatenate docs in deterministic (doc_id)
    order into fixed {budget}-token training sequences, independently
    per shard — the layout step a tokenizer/shuffle stage consumes. A
    doc's pack is floor(its start offset / budget), i.e. greedy
    contiguous fill where long docs straddle pack boundaries, which is
    how packing with truncation actually lays out sequences.

    Shape: one shuffle to (shard) for the running-sum window, then the
    pack aggregation reuses the same partitioning (shard is a prefix of
    the grouping key, so no second exchange). Shard count = worker
    parallelism at scale; everything is integer arithmetic — exact in
    both engines."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(_tokens()).alias("n_tokens"),
    )
    return _pack_from_toks(toks, _PACK_BUDGET)


def _placed_from_toks(toks: DataFrame, budget: int) -> DataFrame:
    """Greedy-contiguous placement stage over a (doc_id, shard,
    n_tokens, ...) frame: per-shard running-offset window + pack_id.
    Shared by _pack_from_toks and multimodal.multimodal_pack (whose
    items carry extra per-modality columns through the window)."""
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.withColumn(
        "start_offset", (F.sum("n_tokens").over(w) - col("n_tokens")).cast("long")
    )
    # integer floor division on BOTH sides: DuckDB's `/` on ints is float
    # division and its CAST rounds-to-nearest, Spark's cast truncates —
    # `//` and `div` agree exactly (offsets are non-negative)
    return placed.withColumn("pack_id", F.expr(f"start_offset div {budget}"))


def _pack_from_toks(toks: DataFrame, budget: int) -> DataFrame:
    """Greedy-contiguous placement kernel over a (doc_id, shard,
    n_tokens) frame — factored so the property fuzz
    (tests/test_pack_property.py) replays the rule in pure Python over
    adversarial inputs (zero-token docs, docs straddling several packs,
    single-doc shards)."""
    return (
        _placed_from_toks(toks, budget)
        .groupBy("shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# pack_utilization — per-shard context-window utilization report
# ---------------------------------------------------------------------------

_PACK_UTIL_ORACLE = f"""
WITH packs AS ({_PACK_ORACLE})
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(n_docs) AS BIGINT) AS shard_docs,
       CAST(SUM(pack_tokens) AS BIGINT) AS shard_tokens,
       CAST(COUNT(*) * {_PACK_BUDGET} AS BIGINT) AS capacity,
       CAST(SUM(pack_tokens) AS DOUBLE)
         / (COUNT(*) * {_PACK_BUDGET}) AS utilization
FROM packs GROUP BY shard
"""


@register("pack_utilization", oracle=_PACK_UTIL_ORACLE)
def pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window utilization report over the packing layout — the
    number a trainer capacity-plans with: per shard, how many
    {budget}-token sequences the corpus fills and the ratio of real
    tokens to that capacity. Greedy contiguous fill makes every pack
    except the tail exactly full, so utilization below 1 measures the
    tail shortfall — and it can EXCEED 1 when the final doc straddles
    past the last pack boundary (its tokens count in the pack it starts
    in). A shard diverging from its peers signals a skewed doc
    assignment.

    Shape: one more tiny aggregate on top of pack_sequences' lineage —
    shard is a prefix of the pack grouping key, so the rollup reuses the
    SAME hash(shard) partitioning: still exactly one exchange end to
    end. Counts and sums stay int64; the single division is one IEEE op
    on exact integers."""
    packs = pack_sequences(spark, sf_dir)
    return (
        packs.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("n_docs").alias("shard_docs"),
            F.sum("pack_tokens").alias("shard_tokens"),
        )
        # derive, don't re-aggregate: one source of truth per number
        .withColumn("capacity", col("n_packs") * _PACK_BUDGET)
        .withColumn(
            "utilization", col("shard_tokens").cast("double") / col("capacity")
        )
    )


# ---------------------------------------------------------------------------
# domain_mix_weights — per-source sampling weights for a token budget
# ---------------------------------------------------------------------------

# Per-source token budgets (the mixing recipe a pretraining run fixes up
# front). Sources beyond the recipe get the default budget.
_MIX_BUDGETS = {"src0": 800, "src1": 400, "src2": 100_000}
_MIX_DEFAULT_BUDGET = 1_000


@register(
    "domain_mix_weights",
    oracle=f"""
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
budgeted AS (
  SELECT source, n_docs, tokens,
         CAST({ " ".join(f"CASE WHEN source = '{s}' THEN {b} ELSE" for s, b in _MIX_BUDGETS.items()) } {_MIX_DEFAULT_BUDGET} {"END " * len(_MIX_BUDGETS)} AS BIGINT) AS budget
  FROM per_source
)
SELECT source, n_docs, tokens, budget,
       LEAST(1.0, CAST(budget AS DOUBLE) / tokens) AS sample_weight,
       CAST(floor(tokens * LEAST(1.0, CAST(budget AS DOUBLE) / tokens)) AS BIGINT)
         AS expected_tokens
FROM budgeted
ORDER BY source
""",
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing planner: given per-source token budgets, compute each
    source's down-sampling weight (min(1, budget/tokens)) and the token
    count the mix will actually contribute — the recipe a weighted
    sampler or per-source LIMIT then executes. One scan, map-side
    partial agg, #sources rows shuffled; the weight is a single IEEE
    division of integer-derived values, bit-identical across engines."""
    d = table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(_tokens())).cast("long").alias("tokens"),
    )
    budget = F.lit(_MIX_DEFAULT_BUDGET)
    for s, b in reversed(_MIX_BUDGETS.items()):
        budget = F.when(col("source") == s, F.lit(b)).otherwise(budget)
    weight = F.least(F.lit(1.0), budget.cast("double") / col("tokens"))
    return (
        per_source.withColumn("budget", budget.cast("long"))
        .select(
            "source",
            "n_docs",
            "tokens",
            "budget",
            weight.alias("sample_weight"),
            F.floor(col("tokens") * weight).cast("long").alias("expected_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# tfidf_top_terms — per-language salient terms (rational tf/df weighting)
# ---------------------------------------------------------------------------

_TFIDF_K = 5

_TFIDF_ORACLE = f"""
WITH tokens AS (
  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tokens GROUP BY lang, term
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT lang) AS BIGINT) AS df
  FROM tf GROUP BY term
),
scored AS (
  SELECT tf.lang, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) / df.df AS score
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT lang, term, tf, df, score, rnk FROM ranked WHERE rnk <= {_TFIDF_K}
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language salient terms: term frequency weighted by inverse
    document (language) frequency. The weighting is the RATIONAL form
    tf/df rather than tf·ln(N/df) — identical ranking within a corpus,
    and rational arithmetic on integer counts is bit-identical across
    engines where ln() is not (CLAUDE.md: transcendentals beyond sqrt
    diverge).

    Shape: explode shuffles vocabulary-sized partial (lang, term)
    counts — never raw token rows (map-side combine does the crush);
    the df table joins back onto tf UNHINTED: the vocabulary grows
    with the corpus (heaps-law, 10⁹+ tokens at web scale), so an
    explicit broadcast hint would abort at the 8 GB ceiling at 100×.
    AQE's runtime size stats pick the broadcast while df fits (plan
    pin) and degrade to a shuffle join past the ceiling; top-k per
    language is one window over the tiny scored relation. A unique
    term tiebreak keeps row_number engine-stable."""
    d = table(spark, sf_dir, "documents")
    # tf feeds BOTH the df aggregate and the join probe — persist it or
    # the token explosion re-executes per side (CLAUDE.md: self-joins
    # don't guarantee exchange reuse)
    tf = (
        d.select("lang", F.explode(_tokens()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("lang").alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", col("tf").cast("double") / col("df")
    )
    w = Window.partitionBy("lang").orderBy(col("score").desc(), col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(col("rnk") <= _TFIDF_K)
        .select("lang", "term", "tf", "df", "score", "rnk")
    )


# ---------------------------------------------------------------------------
# chunk_documents — sliding token-window chunking (context-window prep)
# ---------------------------------------------------------------------------

_CHUNK_W = 64  # tokens per chunk
_CHUNK_S = 48  # stride (16-token overlap)

_CHUNK_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t), {_CHUNK_S})) AS start
  FROM toks
)
SELECT doc_id,
       CAST((start - 1) // {_CHUNK_S} AS BIGINT) AS chunk_id,
       array_to_string(list_slice(t, start, start + {_CHUNK_W} - 1), ' ') AS chunk,
       CAST(least({_CHUNK_W}, len(t) - start + 1) AS BIGINT) AS chunk_tokens
FROM s
"""


@register("chunk_documents", oracle=_CHUNK_ORACLE)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: each document becomes ⌈n/stride⌉ chunks
    of ≤64 tokens starting every 48 tokens (16-token overlap) — the
    context-window prep step of a training/RAG pipeline. Pure JVM
    narrow ops (split → sequence → explode → slice → array_join): no
    shuffle at all, output ∝ input × (W/S) ≈ 1.33×, so at 100 TB this
    is a scan-bound map stage that parallelizes with the input splits.
    Chunk ids are derived from the 1-based token offset ((start-1) DIV
    stride), identical in both engines; slice clamps at the tail the
    same way (Spark slice length caps at the array end, DuckDB
    list_slice stop caps at len)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(col("text"), " ")
    ch = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(_CHUNK_S))).alias("start"),
    )
    return ch.select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {_CHUNK_S} AS BIGINT)").alias("chunk_id"),
        F.array_join(F.slice(col("toks"), col("start"), _CHUNK_W), " ").alias("chunk"),
        F.least(F.lit(_CHUNK_W), F.size(col("toks")) - col("start") + 1)
        .cast("long")
        .alias("chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# kwic_context — keyword-in-context concordance
# ---------------------------------------------------------------------------

_KWIC_KW = "spark"
_KWIC_R = 3  # context radius in tokens

_KWIC_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p FROM toks
)
SELECT doc_id, CAST(p AS BIGINT) AS pos,
       array_to_string(
         list_slice(t, greatest(1, p - {_KWIC_R}), least(len(t), p + {_KWIC_R})),
         ' ') AS context
FROM idx
WHERE t[p] = '{_KWIC_KW}'
"""


@register("kwic_context", oracle=_KWIC_ORACLE)
def kwic_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concordance (keyword-in-context): every occurrence of the keyword
    with ±3 tokens of context — the corpus-inspection tool behind
    contamination review and prompt mining. The contains() prefilter
    pushes to the parquet scan so only documents containing the keyword
    are tokenized/exploded at all; the explosion itself is narrow
    (no shuffle), output ∝ keyword frequency. `pos` is the 1-based
    token offset, a unique key within (doc_id) that keeps downstream
    orderings deterministic."""
    d = table(spark, sf_dir, "documents").filter(
        col("text").contains(_KWIC_KW)  # scan-level prune; semantics unchanged
    )
    toks = F.split(col("text"), " ")
    ex = d.select(
        "doc_id", toks.alias("toks"), F.posexplode(toks).alias("p0", "tok")
    ).filter(col("tok") == _KWIC_KW)
    pos = col("p0") + 1  # 1-based, matching the oracle's generate_series
    start = F.greatest(F.lit(1), pos - _KWIC_R)
    length = F.least(F.size(col("toks")), pos + _KWIC_R) - start + 1
    return ex.select(
        "doc_id",
        pos.cast("long").alias("pos"),
        F.array_join(F.slice(col("toks"), start, length), " ").alias("context"),
    )


# ---------------------------------------------------------------------------
# cooccurrence_pmi — adjacent-token association strength
# ---------------------------------------------------------------------------

_PMI_K = 100

_PMI_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
uni AS (SELECT unnest(t) AS tok FROM toks),
ucnt AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
total AS (SELECT COUNT(*) AS n FROM uni),
big AS (
  SELECT t[i] AS t1, t[i + 1] AS t2, COUNT(*) AS c_xy
  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
  GROUP BY 1, 2
)
SELECT t1, t2, c_xy, u1.c AS c_x, u2.c AS c_y,
       CAST(c_xy AS DOUBLE) * CAST(total.n AS DOUBLE)
         / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS score
FROM big, total
JOIN ucnt u1 ON big.t1 = u1.tok
JOIN ucnt u2 ON big.t2 = u2.tok
ORDER BY score DESC, t1, t2
LIMIT {_PMI_K}
"""


@register("cooccurrence_pmi", oracle=_PMI_ORACLE)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k adjacent-token associations by PMI RATIO — p(xy)/(p(x)p(y))
    = c_xy·N/(c_x·c_y) — the collocation detector behind tokenizer-merge
    and stop-phrase mining. The ratio is kept RATIONAL (integer counts,
    ONE double division at the end): ln() of it is monotone, so the
    ranking is identical to log-PMI while staying bit-identical across
    engines (CLAUDE.md: transcendentals diverge). Shape: bigram and
    unigram counts are map-side-crushed before their shuffles; the
    unigram table joins the bigram relation twice UNHINTED — the
    vocabulary grows with the corpus, so an explicit hint would abort
    at the 8 GB broadcast ceiling at production scale; AQE's size
    stats broadcast it while it fits (plan pin) and fall back to a
    shuffle join past that; the scalar N rides a 1-row broadcast cross join; the
    global top-k is a TakeOrdered, never a full sort. (t1, t2) is unique
    in the bigram relation, so the (score, t1, t2) ordering is total —
    the LIMIT boundary is engine-stable."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tok = F.size(toks)
    # bigrams: zip the array with itself shifted by one
    pairs = F.arrays_zip(
        F.slice(toks, 1, n_tok - 1).alias("t1"), F.slice(toks, 2, n_tok - 1).alias("t2")
    )
    big = (
        d.select(F.explode(pairs).alias("p"))
        .select(col("p.t1").alias("t1"), col("p.t2").alias("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("c_xy"))
    )
    uni = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .persist()  # feeds total + both join probes
    )
    total = uni.agg(F.sum("c").alias("n"))
    scored = (
        big.join(F.broadcast(total))
        .join(uni.withColumnRenamed("tok", "t1").withColumnRenamed("c", "c_x"), "t1")
        .join(uni.withColumnRenamed("tok", "t2").withColumnRenamed("c", "c_y"), "t2")
        .select(
            "t1", "t2", "c_xy", "c_x", "c_y",
            # cast each factor BEFORE multiplying: the int64 products
            # overflow at corpus scale (N ~ 1e14 × c_xy ~ 1e10 > 2^63 —
            # ANSI abort or wrapped ordering); as doubles each factor is
            # exact below 2^53 and the rounded products are identical in
            # both engines (oracle uses the same one-cast-per-factor form)
            (
                col("c_xy").cast("double") * col("n").cast("double")
                / (col("c_x").cast("double") * col("c_y").cast("double"))
            ).alias("score"),
        )
    )
    return scored.orderBy(col("score").desc(), "t1", "t2").limit(_PMI_K)


# ---------------------------------------------------------------------------
# split_drift_tvd — train/eval distribution drift without transcendentals
# ---------------------------------------------------------------------------

_DRIFT_BINS = 10

_DRIFT_ORACLE = f"""
WITH q AS (
  SELECT doc_id,
         {QUALITY_SQL} AS quality,
         CASE WHEN {sql_portable_token('doc_id')} % 100 < 90
              THEN 'train' ELSE 'eval' END AS split
  FROM documents
),
binned AS (
  SELECT split,
         LEAST(CAST(floor(quality * {_DRIFT_BINS}) AS BIGINT), {_DRIFT_BINS - 1})
           AS bin,
         COUNT(*) AS n
  FROM q GROUP BY 1, 2
),
tot AS (SELECT split, CAST(SUM(n) AS BIGINT) AS total FROM binned GROUP BY 1),
grid AS (
  SELECT b.bin,
         CAST(COALESCE(MAX(CASE WHEN b2.split = 'train' THEN b2.n END), 0)
              AS BIGINT) AS n_train,
         CAST(COALESCE(MAX(CASE WHEN b2.split = 'eval' THEN b2.n END), 0)
              AS BIGINT) AS n_eval
  FROM (SELECT DISTINCT bin FROM binned) b
  LEFT JOIN binned b2 ON b.bin = b2.bin
  GROUP BY b.bin
)
SELECT g.bin, g.n_train, g.n_eval,
       CAST(g.n_train AS DOUBLE) / t1.total AS p_train,
       CAST(g.n_eval AS DOUBLE) / t2.total AS p_eval,
       abs(CAST(g.n_train AS DOUBLE) / t1.total
           - CAST(g.n_eval AS DOUBLE) / t2.total) AS abs_diff
FROM grid g,
     (SELECT total FROM tot WHERE split = 'train') t1,
     (SELECT total FROM tot WHERE split = 'eval') t2
ORDER BY g.bin
"""


@register("split_drift_tvd", oracle=_DRIFT_ORACLE)
def split_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the train and eval splits over
    quality-score deciles — the check that catches a skewed split or a
    contaminated eval set before training does. Deliberately TVD-shaped
    (per-bin |p − q|; total-variation distance is half the column sum)
    rather than PSI/KL: those need ln(), which diverges across engines
    (CLAUDE.md), while counts and one division per bin hash-match
    exactly. The quality expression is quality_score's, bit-identical
    cross-engine, so binning is stable. Shape: one scan computes
    quality + split (both pure maps), a bins × splits aggregate, and
    two 1-row totals broadcast back — nothing scales with corpus size
    after the first aggregate."""
    d = table(spark, sf_dir, "documents")
    quality = quality_expr()
    split = F.when(portable_token(col("doc_id")) % 100 < 90, "train").otherwise("eval")
    q = d.select(
        F.least(
            F.floor(quality * _DRIFT_BINS).cast("long"), F.lit(_DRIFT_BINS - 1)
        ).alias("bin"),
        split.alias("split"),
    )
    # three consumers (grid + the two split totals): without the persist
    # the corpus scan + tokenize + quality score replays once per branch
    # — the same multi-consumer shape tfidf_top_terms persists `tf` for
    binned = q.groupBy("bin", "split").agg(F.count("*").alias("n")).persist()
    grid = (
        binned.groupBy("bin")
        .pivot("split", ["train", "eval"])
        .agg(F.first("n"))
        .select(
            "bin",
            F.coalesce(col("train"), F.lit(0)).alias("n_train"),
            F.coalesce(col("eval"), F.lit(0)).alias("n_eval"),
        )
    )
    tot = binned.groupBy("split").agg(F.sum("n").alias("total"))
    t_train = tot.filter(col("split") == "train").select(
        col("total").alias("tt")
    )
    t_eval = tot.filter(col("split") == "eval").select(col("total").alias("te"))
    return (
        grid.join(F.broadcast(t_train))
        .join(F.broadcast(t_eval))
        .select(
            "bin",
            "n_train",
            "n_eval",
            (col("n_train").cast("double") / col("tt")).alias("p_train"),
            (col("n_eval").cast("double") / col("te")).alias("p_eval"),
            F.abs(
                col("n_train").cast("double") / col("tt")
                - col("n_eval").cast("double") / col("te")
            ).alias("abs_diff"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# embed_feature_hash — hashing-trick vectorizer (text → fixed-dim counts)
# ---------------------------------------------------------------------------

_FH_DIM = 64  # feature-hash buckets
_FH_PREFIX = 8  # fold the first 8 codepoints per token (dedup.py precedent)


def _tok_fold_col(tok) -> "F.Column":
    """First-_FH_PREFIX-codepoint polynomial fold of a token column (or
    lambda variable) — the shared token→int64 code under both the
    feature-hash vectorizer and the linear quality classifier."""
    fold = None
    for k in range(_FH_PREFIX):
        term = F.when(
            F.length(tok) > k, F.ascii(F.substring(tok, k + 1, 1)).cast("long")
        ).otherwise(F.lit(0)) * F.lit(31 ** (_FH_PREFIX - 1 - k))
        fold = term if fold is None else fold + term
    return fold


def _sql_tok_bucket(var: str = "tok") -> str:
    """Oracle twin of portable_token(_tok_fold_col(tok)) % _FH_DIM over
    the named SQL column / lambda variable."""
    fold = " + ".join(
        f"(CASE WHEN {k} < length({var}) "
        f"THEN CAST(ascii(substr({var}, {k + 1}, 1)) AS BIGINT) ELSE 0 END) "
        f"* {31 ** (_FH_PREFIX - 1 - k)}"
        for k in range(_FH_PREFIX)
    )
    return f"({sql_portable_token(f'({fold})')} % {_FH_DIM})"


def _spark_tok_bucket(var: str = "t") -> str:
    """SPARK-SQL text twin of portable_token(_tok_fold_col(var)) %
    _FH_DIM — the same expression _qc_cols builds through py4j Column
    calls, emitted as one parseable string (r16: the curation hot path
    paid hundreds of py4j round trips PER PLAN BUILD constructing this
    tree — the CLAUDE.md many-HOF/selectExpr rule). Mirrors the Column
    form exactly: same when/otherwise shape, same double-divide `hi`,
    same pmod fold; equivalence is pinned by
    tests/test_plans.py::test_curation_gate_sql_text_equivalence."""
    from cqlcopy_spark.functions.portable import KNUTH, M32

    fold = " + ".join(
        f"(CASE WHEN (length({var}) > {k}) "
        f"THEN CAST(ascii(substring({var}, {k + 1}, 1)) AS BIGINT) ELSE 0 END) "
        f"* {31 ** (_FH_PREFIX - 1 - k)}"
        for k in range(_FH_PREFIX)
    )
    k1 = f"pmod(CAST(({fold}) AS BIGINT), {M32})"
    hi = f"CAST(({k1} / 65536) AS BIGINT)"
    lo = f"({k1} % 65536)"
    t1 = f"(({KNUTH} * {hi}) % {M32})"
    t2 = f"(({t1} * 65536) % {M32})"
    return f"((({t2} + {KNUTH} * {lo}) % {M32}) % {_FH_DIM})"


def _fh_oracle() -> str:
    tok_bucket = _sql_tok_bucket("tok")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
b AS (SELECT doc_id, {tok_bucket} AS bucket FROM toks),
c AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
spine AS (
  SELECT doc_id, unnest(range(0, {_FH_DIM})) AS bucket FROM documents
),
f AS (
  SELECT s.doc_id, s.bucket, COALESCE(c.cnt, 0) AS cnt
  FROM spine s LEFT JOIN c ON s.doc_id = c.doc_id AND s.bucket = c.bucket
)
SELECT doc_id,
       string_agg(CAST(cnt AS VARCHAR), '-' ORDER BY bucket) AS fvec,
       sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS l2_norm
FROM f GROUP BY doc_id
"""


@register("embed_feature_hash", oracle=_fh_oracle())
def embed_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger et al.'s feature hashing —
    the no-vocabulary embedder): every token folds to a portable 64-bit
    code (first-8-codepoint polynomial, dedup.py's recipe) which the
    ring hash scatters over 64 buckets; a document's vector is its
    bucket-count histogram plus the L2 norm downstream cosine needs.
    This is how a pipeline bootstraps embeddings for similarity/dedup
    when no model-generated vectors exist — the output feeds the same
    operators the embeddings table does.

    All JVM: token fold is 8 substr/ascii expressions, bucketing is the
    shared portable_token arithmetic, counts are one (doc, bucket)
    hash aggregate, and the dense 64-slot vector assembles via
    map_from_entries + a sequence transform (missing buckets → 0) — no
    Python, no second scan, two key-compatible shuffles. Wire form: the
    integer counts join to a '-' string (array columns can't be driver-
    hashed; float formatting differs between engines, so the DOUBLE
    norm rides as its own column and the vector stays integer)."""
    d = table(spark, sf_dir, "documents")
    bucket = portable_token(_tok_fold_col(col("tok"))) % _FH_DIM
    counts = (
        d.select("doc_id", F.explode(F.split(col("text"), " ")).alias("tok"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dense = counts.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(col("bucket"), col("cnt")))
        ).alias("m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(_FH_DIM - 1)),
        lambda b: F.coalesce(F.element_at(col("m"), b.cast("long")), F.lit(0)),
    )
    return dense.select(
        "doc_id",
        F.concat_ws("-", F.transform(vec, lambda x: x.cast("string"))).alias("fvec"),
        F.sqrt(
            F.aggregate(
                vec, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double")
            )
        ).alias("l2_norm"),
    )


# ---------------------------------------------------------------------------
# quality_classifier — linear hashed-feature classifier gate (fastText move)
# ---------------------------------------------------------------------------

# Fixed per-bucket weights over the embed_feature_hash space — a trained
# fastText/logistic quality model exports exactly this: one weight per
# hashed feature. Deterministic small integers here (pseudo-uniform in
# [-8, 8] via the Knuth multiplier, mirrored so Σw = 0 EXACTLY — with
# hash-uniform buckets the per-token expected score is then 0 and the
# keep gate splits the corpus instead of constant-rejecting) so the dot
# product is EXACT integer arithmetic in both engines; a real deployment
# would paste its trained weights into this list (scaled to ints —
# standard quantization).
_QC_W_HALF = [
    ((2654435761 * (b + 1)) % 4294967296) % 17 - 8 for b in range(_FH_DIM // 2)
]
_QC_W = _QC_W_HALF + [-w for w in _QC_W_HALF]

# Decision threshold on the per-token score, as a RATIONAL τ = NUM/DEN
# (a trained model ships a calibrated operating point the same way).
# The gate compares DEN·score_raw >= NUM·n_tokens — exact int64, never
# a float comparison. τ = -8/5 = -1.6 sits at the fixture corpus's
# median per-token score, so the gate genuinely splits.
_QC_THR_NUM = -8
_QC_THR_DEN = 5  # must stay > 0 or the inequality flips


def _qc_cols() -> "tuple[F.Column, F.Column]":
    """(n_tokens, score_raw) classifier columns over a documents frame —
    the shared kernel under quality_classifier (per-doc gate) and
    source_quality_block (per-domain rollout)."""
    w_arr = F.array(*[F.lit(w) for w in _QC_W])
    toks = F.split(F.coalesce(col("text"), F.lit("")), " ")
    bucket = lambda t: (portable_token(_tok_fold_col(t)) % _FH_DIM).cast("int")  # noqa: E731
    score_raw = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.element_at(w_arr, bucket(t) + 1).cast("long"),
    )
    return F.size(toks).cast("long"), score_raw


def _sql_qc_cols() -> "tuple[str, str]":
    """Oracle twin of _qc_cols: (n_tokens, score_raw) SQL expressions."""
    wlist = "[" + ", ".join(str(w) for w in _QC_W) + "]"
    n_tokens = "CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT)"
    score_raw = f"""CAST(list_sum(list_transform(
           string_split(COALESCE(text, ''), ' '),
           tok -> list_extract({wlist}, {_sql_tok_bucket('tok')} + 1)
         )) AS BIGINT)"""
    return n_tokens, score_raw


def _qc_oracle() -> str:
    n_tokens, score_raw = _sql_qc_cols()
    return f"""
WITH s AS (
  SELECT doc_id, lang,
         {n_tokens} AS n_tokens,
         {score_raw} AS score_raw
  FROM documents
)
SELECT doc_id, lang, n_tokens, score_raw,
       CAST(score_raw AS DOUBLE) / n_tokens AS score,
       CAST(CASE WHEN {_QC_THR_DEN} * score_raw >= {_QC_THR_NUM} * n_tokens
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
"""


@register("quality_classifier", oracle=_qc_oracle())
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring (r10 VERDICT item 5) — the
    fastText-classifier move real curation stacks run beside the
    statistical gates (lm_transition_score, quality_gopher_rules): score
    every document with a FIXED hashed-feature weight vector and gate on
    a threshold. Because the model is linear over token-count features,
    the dot product w·x collapses to a plain sum over tokens of
    w[bucket(token)] — no histogram, no explode, no shuffle: the whole
    scorer is ONE codegen'd fold per row (same F.aggregate shape as the
    bm25 rational-idf fold), so the 100 TB corpus streams through a
    map-only plan at scan speed.

    Portability: weights are integers, token bucketing is the shared
    portable ring hash (embed_feature_hash's exact space — a trained
    w would apply to its oracled vectors verbatim), so score_raw is
    exact int64 in both engines; the only float is ONE division
    (score_raw/n_tokens), IEEE-identical everywhere, and the keep gate
    cross-multiplies the rational threshold (DEN·score_raw >=
    NUM·n_tokens), never comparing doubles. n_tokens >= 1
    always: split('') yields one empty token in both engines, whose fold
    is 0 — no division guard needed.

    Plan-build cost: the scorer is emitted as SQL text (_spark_qc_sql —
    one selectExpr parse) instead of the _qc_cols Column tree, whose
    128-weight array + fold paid ~0.5s of py4j round trips per plan
    build (r16, guide §1/§4); value equality is held by this op's own
    driver oracle."""
    d = table(spark, sf_dir, "documents")
    n_tokens, score_raw = _spark_qc_sql()
    return d.selectExpr(
        "doc_id",
        "lang",
        f"{n_tokens} AS n_tokens",
        f"{score_raw} AS score_raw",
    ).selectExpr(
        "doc_id",
        "lang",
        "n_tokens",
        "score_raw",
        "CAST(score_raw AS DOUBLE) / n_tokens AS score",
        f"CAST(CASE WHEN {_QC_THR_DEN} * score_raw >= "
        f"{_QC_THR_NUM} * n_tokens THEN 1 ELSE 0 END AS BIGINT) AS keep",
    )


# ---------------------------------------------------------------------------
# source_quality_block — per-domain classifier rollup → blocklist derivation
# ---------------------------------------------------------------------------

# Block a source when fewer than _QB_NUM/_QB_DEN of its docs pass the
# classifier gate — the domain-level filter move (curation stacks block
# whole domains whose doc-level quality is systematically low, rather
# than paying per-doc filtering on every crawl of a junk domain).
_QB_NUM = 1
_QB_DEN = 2  # block iff keep_rate < 1/2, exact: DEN·n_keep < NUM·n_docs


def _qb_oracle() -> str:
    n_tokens, score_raw = _sql_qc_cols()
    return f"""
WITH s AS (
  SELECT source, {n_tokens} AS n_tokens, {score_raw} AS score_raw
  FROM documents
),
g AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN {_QC_THR_DEN} * score_raw >= {_QC_THR_NUM} * n_tokens
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         CAST(SUM(score_raw) AS BIGINT) AS sum_raw,
         CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
  FROM s GROUP BY source
)
SELECT source, n_docs, n_keep,
       CAST(n_keep AS DOUBLE) / n_docs AS keep_rate,
       CAST(sum_raw AS DOUBLE) / sum_tokens AS mean_token_score,
       CAST(CASE WHEN {_QB_DEN} * n_keep < {_QB_NUM} * n_docs
            THEN 1 ELSE 0 END AS BIGINT) AS blocked
FROM g
"""


@register("source_quality_block", oracle=_qb_oracle())
def source_quality_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist derivation: roll the linear classifier's per-doc
    keep gate up to each source and block sources whose keep rate falls
    under a rational threshold — the domain-level filter real curation
    stacks run ahead of per-doc gating (one blocklist entry retires a
    junk domain's entire future crawl volume).

    Exactness: counts and both numerators/denominators are int64 all the
    way through the aggregate (the classifier's integer weights +
    cross-multiplied gates); the two per-source divisions (keep_rate,
    mean_token_score) are single IEEE ops on exact integers, and the
    blocked flag itself never touches a double.

    Scale shape: scan → codegen'd token fold (the same map-only scorer
    as quality_classifier) → ONE partial-combining groupBy(source) whose
    shuffle carries 4 integers per (task, source) — at 100 TB that is
    #sources × #tasks rows, not corpus rows. No window, no join, no
    second scan. Scorer emitted as SQL text (_spark_qc_sql, r16 —
    see quality_classifier)."""
    d = table(spark, sf_dir, "documents")
    n_tokens, score_raw = _spark_qc_sql()
    g = (
        d.selectExpr(
            "source", f"{n_tokens} AS n_tokens", f"{score_raw} AS score_raw"
        )
        .selectExpr(
            "source",
            "n_tokens",
            "score_raw",
            f"CASE WHEN {_QC_THR_DEN} * score_raw >= "
            f"{_QC_THR_NUM} * n_tokens THEN 1 ELSE 0 END AS keep",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").alias("n_keep"),
            F.sum("score_raw").alias("sum_raw"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )
    return g.select(
        "source",
        "n_docs",
        "n_keep",
        (col("n_keep").cast("double") / col("n_docs")).alias("keep_rate"),
        (col("sum_raw").cast("double") / col("sum_tokens")).alias(
            "mean_token_score"
        ),
        F.when(F.lit(_QB_DEN) * col("n_keep") < F.lit(_QB_NUM) * col("n_docs"), 1)
        .otherwise(0)
        .cast("long")
        .alias("blocked"),
    )


# ---------------------------------------------------------------------------
# classifier_eval_auc / classifier_calibration — scorer evaluation metrics
# ---------------------------------------------------------------------------

# The evaluation half of the classifier story: curation stacks don't just
# SCORE documents, they measure how well the cheap linear scorer agrees
# with an expensive gate before rolling it out corpus-wide. Weak label =
# the gopher rule gate (quality_gopher_rules' pass flag, the shared
# _gopher_pass_col definition), prediction = the linear classifier's
# per-token score (_qc_cols) — both computed off the SAME scan.
#
# AUC is exact-with-ties via the histogram rank-sum identity:
#   AUC = Σ_s pos_s · (neg_<s + neg_s/2) / (P·N)
# over DISTINCT scores s, kept integral by doubling:
#   num2 = Σ_s pos_s · (2·cum_neg_strict + neg_s);  AUC = num2 / (2·P·N).
# Every term is int64 (num2 ≤ 2·P·N ≤ n²/2 — exact below ~3e9 docs per
# lang; beyond that the sum moves to DECIMAL, the dsum lever). The only
# float op is ONE division of exact integers, IEEE-identical across
# engines; the score key itself is one double division of exact ints, so
# the histogram groups identically in both engines.
#
# Scale shape: map-only feature fold → partial-combining groupBy
# (lang, score) histogram (distinct (score_raw, n_tokens) pairs, not
# corpus rows) → per-lang ROWS-frame cumsum over the DISTINCT-score
# histogram (tie-free ordering: rows are unique on score within lang) →
# partial-combining per-lang rollup that reuses the window's hash
# partitioning. If one lang's distinct-score histogram ever outgrew a
# task, the token_budget_select bucket-prefix decomposition applies — at
# any plausible scale it is ≤ |distinct n_tokens| × |weight span| rows.


def _auc_oracle() -> str:
    n_tokens, score_raw = _sql_qc_cols()
    return f"""
WITH feats AS (
  SELECT lang,
         {n_tokens} AS n_tokens,
         {score_raw} AS score_raw,
         {_SQL_GOPHER_FEATS}
  FROM documents
),
s AS (
  SELECT lang,
         CAST(score_raw AS DOUBLE) / n_tokens AS score,
         CASE WHEN {_SQL_GOPHER_PASS} THEN 1 ELSE 0 END AS label
  FROM feats
),
h AS (
  SELECT lang, score,
         SUM(label) AS pos,
         SUM(1 - label) AS neg
  FROM s GROUP BY lang, score
),
c AS (
  SELECT lang, pos, neg,
         COALESCE(SUM(neg) OVER (PARTITION BY lang ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_neg
  FROM h
),
g AS (
  SELECT lang,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * cum_neg + neg)) AS BIGINT) AS num2
  FROM c GROUP BY lang
)
SELECT lang, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN CAST(num2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)
            ELSE NULL END AS auc
FROM g
ORDER BY lang
"""


@register("classifier_eval_auc", oracle=_auc_oracle())
def classifier_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language ROC AUC of the linear quality classifier against the
    gopher rule gate as weak label — the offline evaluation a curation
    stack runs before trusting a cheap scorer to stand in for an
    expensive one. Exact with ties (average-rank / Mann-Whitney
    identity over the distinct-score histogram; section comment has the
    scale analysis and the integer-exactness argument). A language with
    no positives or no negatives has undefined AUC → NULL on both
    engines. Feature fold emitted as SQL text (_spark_qc_sql +
    _spark_gopher_pred, r16 — see quality_classifier)."""
    d = table(spark, sf_dir, "documents")
    n_tokens, score_raw = _spark_qc_sql()
    staged = d.selectExpr(
        "lang",
        "n_chars",
        "split(text, ' ') AS toks",
        f"{n_tokens} AS n_tokens",
        f"{score_raw} AS score_raw",
    )
    s = staged.selectExpr(
        "lang",
        "CAST(score_raw AS DOUBLE) / n_tokens AS score",
        f"CASE WHEN {_spark_gopher_pred()} THEN 1 ELSE 0 END AS label",
    )
    return _auc_kernel(s)


def _auc_kernel(s: DataFrame) -> DataFrame:
    """Grouped exact-with-ties AUC over a (lang, score double, label 0/1)
    frame — factored so the rank-sum identity is property-fuzzable
    against a pure-Python pairwise reference on arbitrary synthetic
    frames (tests/test_eval_metrics.py), independent of the classifier
    and gopher feature plumbing above."""
    h = s.groupBy("lang", "score").agg(
        F.sum("label").alias("pos"),
        F.sum(F.lit(1) - col("label")).alias("neg"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = h.select(
        "lang",
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("cum_neg"),
    )
    g = c.groupBy("lang").agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum(col("pos") * (F.lit(2) * col("cum_neg") + col("neg"))).alias("num2"),
    )
    return g.select(
        "lang",
        col("n_pos").cast("long").alias("n_pos"),
        col("n_neg").cast("long").alias("n_neg"),
        F.when(
            (col("n_pos") > 0) & (col("n_neg") > 0),
            col("num2").cast("double")
            / (F.lit(2) * col("n_pos") * col("n_neg")).cast("double"),
        ).alias("auc"),
    ).orderBy("lang")


# Calibration bins: fixed-width bins of the per-token score (width 1/10).
# The bin key is floor((10·score_raw)/n_tokens) computed as ONE double
# division of exact int64s + floor — bit-identical across engines (the
# 10·score_raw product stays int64: |score_raw| ≤ 8·n_tokens).
_CAL_BINS_PER_UNIT = 10


def _calibration_oracle() -> str:
    n_tokens, score_raw = _sql_qc_cols()
    return f"""
WITH feats AS (
  SELECT {n_tokens} AS n_tokens,
         {score_raw} AS score_raw,
         {_SQL_GOPHER_FEATS}
  FROM documents
),
s AS (
  SELECT CAST(floor(CAST({_CAL_BINS_PER_UNIT} * score_raw AS DOUBLE) / n_tokens)
              AS BIGINT) AS bin,
         CASE WHEN {_SQL_GOPHER_PASS} THEN 1 ELSE 0 END AS label
  FROM feats
)
SELECT bin,
       CAST(bin AS DOUBLE) / {_CAL_BINS_PER_UNIT} AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(label) AS BIGINT) AS n_pass,
       CAST(SUM(label) AS DOUBLE) / COUNT(*) AS pass_rate
FROM s
GROUP BY bin
ORDER BY bin
"""


@register("classifier_calibration", oracle=_calibration_oracle())
def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the linear classifier: fixed-width bins of
    the per-token score vs the observed gopher-gate pass rate in each
    bin — the reliability-diagram input that tells a curation stack
    where to place the keep threshold. Companion to classifier_eval_auc
    (AUC says the scorer RANKS well; calibration says what a score
    VALUE means).

    Scale shape: the whole op is one map-only feature fold plus ONE
    partial-combining groupBy whose key is a small-integer bin — at
    100 TB the shuffle carries #bins × #tasks rows. All counts int64;
    pass_rate is a single division of exact ints. Feature fold emitted
    as SQL text (_spark_qc_sql + _spark_gopher_pred, r16 — see
    quality_classifier)."""
    d = table(spark, sf_dir, "documents")
    n_tokens, score_raw = _spark_qc_sql()
    staged = d.selectExpr(
        "n_chars",
        "split(text, ' ') AS toks",
        f"{n_tokens} AS n_tokens",
        f"{score_raw} AS score_raw",
    )
    s = staged.selectExpr(
        f"floor(CAST({_CAL_BINS_PER_UNIT} * score_raw AS DOUBLE)"
        " / n_tokens) AS bin",
        f"CASE WHEN {_spark_gopher_pred()} THEN 1 ELSE 0 END AS label",
    )
    return (
        s.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("label").alias("n_pass"),
        )
        .select(
            "bin",
            (col("bin").cast("double") / F.lit(_CAL_BINS_PER_UNIT)).alias("bin_lo"),
            col("n_docs").cast("long").alias("n_docs"),
            col("n_pass").cast("long").alias("n_pass"),
            (col("n_pass").cast("double") / col("n_docs")).alias("pass_rate"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# boilerplate_strip — corpus-frequency segment removal (CCNet-style)
# ---------------------------------------------------------------------------

# The line-dedup step of CCNet/C4-style curation: segments repeated
# across many documents (headers, footers, navigation, license blurbs)
# are boilerplate and get stripped from every document BEFORE training.
# The fixture corpus has no newlines, so "lines" are fixed non-
# overlapping word windows — the segmentation is a parameter, the
# corpus-frequency strip is the operator.

_BP_W = 3  # words per segment
_BP_DF = 3  # strip segments appearing in >= this many distinct docs

_BP_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS toks
           FROM documents),
c AS (
  SELECT doc_id,
         -- COALESCE/GREATEST mirror the Spark side's NULL-text guard:
         -- a NULL/empty doc survives as exactly one '' chunk
         list_transform(range(0, GREATEST(
                          CAST(ceil(len(toks) / {_BP_W}.0) AS BIGINT), 1)),
                        g -> array_to_string(toks[{_BP_W}*g+1:{_BP_W}*g+{_BP_W}], ' '))
           AS chunks
  FROM t
),
x AS (SELECT DISTINCT doc_id, unnest(chunks) AS chunk FROM c),
dfc AS (SELECT chunk, CAST(COUNT(*) AS BIGINT) AS df FROM x GROUP BY chunk),
bl AS (SELECT COALESCE(list(chunk), []) AS bl FROM dfc WHERE df >= {_BP_DF})
SELECT c.doc_id,
       -- COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws
       -- of an empty array is '' — a fully-stripped doc must agree
       COALESCE(array_to_string(list_filter(c.chunks,
                                   ch -> NOT list_contains(bl.bl, ch)), ' '),
                '')
         AS clean_text,
       CAST(len(c.chunks) AS BIGINT) AS n_chunks,
       CAST(len(c.chunks)
            - len(list_filter(c.chunks,
                              ch -> NOT list_contains(bl.bl, ch))) AS BIGINT)
         AS n_stripped
FROM c CROSS JOIN bl
ORDER BY doc_id
"""


@register("boilerplate_strip", oracle=_BP_ORACLE)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet line-dedup
    curation step): segment every document into fixed word windows,
    count each segment's document frequency corpus-wide, and strip
    segments appearing in ≥ {_BP_DF} distinct documents, reassembling
    the cleaned text in original order.

    Scale shape: segments explode once; the df count is a two-phase
    exact-distinct aggregate ((chunk, doc) dedupe then chunk count, the
    CLAUDE.md two-phase form, map-side partial both times); the strip
    is a HASH left join of the exploded segments against the
    df-filtered boilerplate table (the df-distribution head — at sf0.1
    ~17k entries, a few hundred KB, which AQE broadcasts at runtime;
    the table grows with the corpus, so it carries NO explicit
    broadcast hint — past the 8 GB ceiling the join degrades to a
    shuffle instead of aborting); reassembly re-collects each doc's
    surviving segments ordered by position (one doc_id shuffle,
    doc-sized state). An earlier formulation pushed the boilerplate
    set back as ONE ARRAY and filtered per-chunk with array_contains —
    a LINEAR scan per probe that went quadratic-ish at sf0.1 (17k-entry
    set × 330k probes ≈ 5.6e9 string compares, 103 s); hash-join
    probes are O(1) and the same query now runs in ~2 s. The oracle is
    unchanged — both formulations compute the same relation."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # NULL-text guard (r7 ADVICE item 1): posexplode of a NULL chunk
    # array silently DROPS the doc while the oracle's CROSS JOIN keeps
    # it — canonicalize NULL to '' on BOTH sides (oracle COALESCEs too)
    # so such docs survive as one ''-chunk row. The GREATEST(…,1) floor
    # guards the empty-token-array edge where sequence(0, -1) would
    # infer step -1 and fabricate two descending chunks.
    toks = F.split(F.coalesce(col("text"), F.lit("")), " ")
    nch = F.greatest(
        F.ceil(F.size(toks) / F.lit(_BP_W)).cast("long"), F.lit(1).cast("long")
    )
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), nch - F.lit(1)),
        lambda g: F.concat_ws(
            " ", F.slice(toks, (g * _BP_W + 1).cast("int"), _BP_W)
        ),
    )
    x = d.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    dfc = (
        x.groupBy("chunk", "doc_id")
        .agg(F.lit(1).alias("_one"))
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    bl = dfc.filter(col("df") >= _BP_DF).select(
        "chunk", F.lit(True).alias("_bl")
    )
    # UNHINTED: the blacklist is every df-threshold window — it GROWS
    # with the corpus (CCNet shards this step), and an explicit
    # broadcast() hint has no size fallback at the 8 GB ceiling. The
    # 60× win here came from hash-probing vs the array scan, not from
    # the hint; AQE broadcasts the df-head while it fits and degrades
    # to a shuffle join when it doesn't.
    marked = x.join(bl, "chunk", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count("_bl").alias("n_stripped"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                col("_bl").isNull(),
                                F.struct(col("pos").alias("p"), col("chunk").alias("c")),
                            )
                        )
                    ),
                    lambda s: s["c"],
                ),
            ).alias("clean_text"),
        )
        .select("doc_id", "clean_text", "n_chunks", "n_stripped")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# lm_transition_score — statistical LM quality scoring (CCNet shape)
# ---------------------------------------------------------------------------

# CCNet's quality gate scores each document against a reference language
# model and keeps the low-perplexity tail. Perplexity needs exp/ln —
# transcendentals diverge between engines (CLAUDE.md) — so this operator
# emits the RATIONAL core of the same signal: the document's mean and
# minimum add-1-smoothed bigram transition probability
# p_i = (c(w_{i-1} w_i) + 1) / (c(w_{i-1} ·) + V) under the corpus's own
# bigram counts. Every p_i is one IEEE division of exact integers
# (< 2^53) and the per-doc mean folds the p_i in position order with the
# shared left-to-right discipline (Spark aggregate(0.0, +) == DuckDB
# list_reduce(list_prepend(0.0, ...))), so the doubles hash bitwise and
# the op carries a FULL value-hash oracle. Low mean/min transition
# probability flags the same junk perplexity would (rare-transition word
# salad), monotonically in the bigram counts.

_LM_ORACLE = """
WITH w0 AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE text IS NOT NULL AND text <> ''
),
w AS (SELECT * FROM w0 WHERE len(ws) >= 2),
tok AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i] AS w1, ws[i + 1] AS w2
  FROM w, UNNEST(range(1, len(ws))) AS t(i)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM tok GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM tok GROUP BY w1),
vocab AS (
  -- from w0, NOT w: the Spark side builds vocabulary over ALL
  -- non-empty docs — a 1-token doc carries no bigram but DOES widen
  -- the smoothing denominator (pinned by the hand test's 'solo' doc)
  SELECT COUNT(DISTINCT x) AS v
  FROM (SELECT unnest(ws) AS x FROM w0)
),
p AS (
  SELECT tok.doc_id, tok.pos, (c2.c2 + 1) / (c1.c1 + vocab.v) AS p
  FROM tok
  JOIN c2 USING (w1, w2)
  JOIN c1 USING (w1), vocab
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(p ORDER BY pos)),
                   (a, b) -> a + b) / COUNT(*) AS avg_trans_prob,
       MIN(p) AS min_trans_prob
FROM p GROUP BY doc_id
"""


@register("lm_transition_score", oracle=_LM_ORACLE)
def lm_transition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document smoothed bigram transition-probability stats against
    the corpus's own LM counts (see module comment above for why this is
    the transcendental-free core of CCNet's perplexity gate).

    Scale shape: one map-side bigram explode persisted for its THREE
    consumers (c2 counts, c1 counts, the probability probe — CLAUDE.md
    self-join rule); both count tables partial-aggregate map-side; the
    probe joins key on word strings, so the 'the'-sized hot key is a
    skewed JOIN partition (AQE splits it), never a hot window. The
    per-doc collect+fold is DOC-bounded state — the same row-sized
    class as the text column itself (and dedup_spans' reassembly), not
    the corpus-growing group-sized collect CLAUDE.md's block-fold rule
    targets. Vocabulary is the usual 1-row broadcast cross join. In production the counts come
    from a REFERENCE corpus (Wikipedia in CCNet) — swap the c1/c2
    lineage for a pre-built count table and nothing else changes."""
    words = (
        table(spark, sf_dir, "documents")
        .filter(col("text").isNotNull() & (col("text") != ""))
        .select("doc_id", F.split(col("text"), " ").alias("ws"))
    )
    toks = (
        words.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(ws)-1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    "             element_at(ws, i+1) AS w2))"
                )
            ).alias("pos", "bg"),
        )
        .select("doc_id", "pos", col("bg.w1").alias("w1"), col("bg.w2").alias("w2"))
        .persist()
    )
    c2 = toks.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = toks.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        words.select(F.explode("ws").alias("x"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    p = (
        toks.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "pos",
            ((col("c2") + 1) / (col("c1") + col("v"))).alias("p"),
        )
    )
    return (
        p.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "p"))),
                    lambda x: x["p"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("sum_p"),
            F.min("p").alias("min_trans_prob"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (col("sum_p") / col("n_bigrams")).alias("avg_trans_prob"),
            "min_trans_prob",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# curation_funnel — per-source survival counts across the curation gates
# ---------------------------------------------------------------------------

# The report every data pipeline runs before a training launch: how many
# documents per source survive each gate, cumulatively — language
# agreement, the gopher rule set, exact-dedup keeper status, and the
# quality threshold. Each gate reuses the EXACT expression of its
# standalone op (one definition per predicate or hash parity drifts):
# _pred_lang_expr/_LANGID_ORACLE, the gopher rule block, the
# min-doc_id-per-text keeper, and QUALITY_SQL/quality_expr.

_FUNNEL_QUALITY_T = 0.5


def _funnel_oracle() -> str:
    lang_case = """CASE
    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
    WHEN s_fr >= s_zh THEN 'fr'
    ELSE 'zh'
  END"""
    stops = " + ".join(
        f"CASE WHEN list_contains(string_split(text,' '), '{s}') THEN 1 ELSE 0 END"
        for s in _GOPHER_STOPS
    )
    scores = ", ".join(f"{_sql_score(lg)} AS s_{lg}" for lg in _PRIORITY)
    return f"""
WITH scored AS (
  SELECT doc_id, source, lang, text, n_chars,
         {scores},
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) AS n_types,
         {stops} AS n_stops
  FROM documents
),
k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
f AS (
  SELECT source,
         ({lang_case}) = lang AS ok_lang,
         (n_words BETWEEN 10 AND 1000)
           AND ((CAST(n_chars AS DOUBLE) - n_words + 1) / n_words
                BETWEEN 2.0 AND 12.0)
           AND (CAST(n_types AS DOUBLE) / n_words >= 0.2)
           AND (n_stops >= 2) AS ok_gopher,
         doc_id IN (SELECT doc_id FROM k) AS ok_keep,
         {QUALITY_SQL} >= CAST({_FUNNEL_QUALITY_T} AS DOUBLE) AS ok_quality
  FROM scored
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN ok_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(SUM(CASE WHEN ok_lang AND ok_gopher THEN 1 ELSE 0 END)
            AS BIGINT) AS n_gopher,
       CAST(SUM(CASE WHEN ok_lang AND ok_gopher AND ok_keep THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dedup,
       CAST(SUM(CASE WHEN ok_lang AND ok_gopher AND ok_keep AND ok_quality
                THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
FROM f GROUP BY source
"""


@register("curation_funnel", oracle=_funnel_oracle())
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-source survival counts across the four curation
    gates (language agreement → gopher rules → exact-dedup keeper →
    quality ≥ _FUNNEL_QUALITY_T). Gate booleans are bit-exact across engines (integer
    counts, single IEEE divisions, the shared lang CASE chain), so the
    whole funnel carries a full value-hash oracle.

    Scale shape: ONE corpus scan computes every per-doc flag as codegen
    map expressions; the keeper set is a partial-combining aggregate on
    text (md5(text) at 100 TB — dedup_exact's documented key cap) joined
    back on the 8-byte doc_id (co-partitioned, AQE-splittable); the
    final rollup partial-aggregates to |sources| rows. No windows, no
    cross products, nothing driver-side."""
    d = table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", "source", "lang", "n_chars", _tokens().alias("toks")
    )
    t = col("toks")
    n_words = F.size(t)
    n_types = F.size(F.array_distinct(t))
    n_stops = sum(
        F.when(F.array_contains(t, s), 1).otherwise(0) for s in _GOPHER_STOPS
    )
    mwl = (col("n_chars").cast("double") - n_words + 1) / n_words
    ttr = n_types.cast("double") / n_words
    flags = staged.select(
        "doc_id",
        "source",
        (_pred_lang_expr(t) == col("lang")).alias("ok_lang"),
        (
            n_words.between(10, 1000)
            & mwl.between(2.0, 12.0)
            & (ttr >= 0.2)
            & (n_stops >= 2)
        ).alias("ok_gopher"),
        (quality_expr(t) >= F.lit(_FUNNEL_QUALITY_T)).alias("ok_quality"),
    )
    keepers = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    flagged = flags.join(
        keepers.select("doc_id").withColumn("_k", F.lit(1)), "doc_id", "left"
    ).withColumn("ok_keep", col("_k").isNotNull())

    def through(*gates):
        cond = col(gates[0])
        for g in gates[1:]:
            cond = cond & col(g)
        return F.sum(F.when(cond, 1).otherwise(0))

    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            through("ok_lang").alias("n_lang"),
            through("ok_lang", "ok_gopher").alias("n_gopher"),
            through("ok_lang", "ok_gopher", "ok_keep").alias("n_dedup"),
            through("ok_lang", "ok_gopher", "ok_keep", "ok_quality").alias(
                "n_quality"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# bm25_retrieval — posting-list keyword retrieval (BM25-shaped scoring)
# ---------------------------------------------------------------------------

# The lexical-retrieval twin of similarity_topk: 8 fixed query documents
# (the lowest doc_ids, the _N_QUERIES convention from similarity.py)
# rank the corpus by a BM25-shaped relevance score over their shared
# terms. Scoring is TRANSCENDENTAL-FREE for cross-engine parity: the
# classic idf = ln((N-df+0.5)/(df+0.5)) is replaced by the rational
# (N-df+0.5)/(df+0.5) itself — a different (still df-monotone per term)
# weighting, which is fine because the oracle defines the contract, not
# a textbook constant. The tf saturation tf·(k1+1)/(tf+k1·(1-b+b·dl/avgdl))
# is rational already. Every float op appears in the IDENTICAL order in
# both engines, and the per-(query, doc) sum over matched terms folds in
# TERM order (array_sort + sequential fold) so the add sequence is
# engine-deterministic. The matched-term list per (query, doc) is
# bounded by the QUERY's distinct-term count — a workload constant, not
# corpus-growing, so the collect_list is exempt from the flat-fold ban.

_BM25_K = 5
_BM25_K1 = "CAST(1.2 AS DOUBLE)"
_BM25_B = "CAST(0.75 AS DOUBLE)"

_BM25_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE text IS NOT NULL AND text <> ''
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM d)
  GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM d
),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
q AS (
  SELECT doc_id AS q_id, term
  FROM (SELECT doc_id, unnest(ws) AS term FROM d WHERE doc_id < 8)
  GROUP BY 1, 2
),
hits AS (
  SELECT q.q_id, tf.doc_id, tf.term,
         ((CAST(stats.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
         * ((CAST(tf.tf AS DOUBLE) * ({_BM25_K1} + 1.0))
            / (CAST(tf.tf AS DOUBLE)
               + {_BM25_K1} * (1.0 - {_BM25_B}
                               + {_BM25_B} * (CAST(dl.dl AS DOUBLE)
                                              / stats.avgdl)))) AS contrib
  FROM q
  JOIN tf ON tf.term = q.term
  JOIN df ON df.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id <> q.q_id
),
scored AS (
  SELECT q_id, doc_id,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(
               list_sort(list(struct_pack(t := term, c := contrib))),
               s -> s.c)),
           (a, b) -> a + b) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM hits GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT q_id, doc_id, score, n_terms, rank FROM ranked WHERE rank <= {_BM25_K}
"""


def _bm25_rank(d: DataFrame) -> DataFrame:
    """BM25 ranking kernel over a (doc_id long, ws array<string>) frame:
    doc_ids < 8 are the query set, output is the top-_BM25_K corpus docs
    per query. Factored out of bm25_retrieval so the numeric kernel is
    property-fuzzable against a pure-Python reference on arbitrary
    corpora (tests/test_bm25_property.py) — the r9 VERDICT item 2
    treatment every other r9-new numeric kernel already received."""
    toks = d.select(
        "doc_id", F.size("ws").cast("long").alias("dl"), F.explode("ws").alias("term")
    )
    # dl rides the tf aggregate (constant within the group) — no
    # doc-sized dl join, one fewer shuffle + one fewer corpus-growing
    # join side
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.size("ws")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = (
        toks.filter(col("doc_id") < 8)
        .select(col("doc_id").alias("q_id"), "term")
        .distinct()
    )
    k1, b = F.lit(1.2), F.lit(0.75)
    contrib = (
        ((col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5))
        * (
            (col("tf").cast("double") * (k1 + 1.0))
            / (
                col("tf").cast("double")
                + k1 * (1.0 - b + b * (col("dl").cast("double") / col("avgdl")))
            )
        )
    )
    hits = (
        tf.join(q, "term")
        .join(df_, "term")
        .crossJoin(F.broadcast(stats))
        .filter(col("doc_id") != col("q_id"))
        .select("q_id", "doc_id", "term", contrib.alias("contrib"))
    )
    scored = hits.groupBy("q_id", "doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(col("term"), col("contrib")))
                ),
                lambda s: s["contrib"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = Window.partitionBy("q_id").orderBy(col("score").desc(), col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= _BM25_K)
        .select("q_id", "doc_id", "score", "n_terms", "rank")
    )


@register("bm25_retrieval", oracle=_BM25_ORACLE)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} corpus documents per query document under a BM25-shaped
    rational relevance score (see the section comment for the parity
    design; tiny fixed query set, the similarity_topk convention).

    Scale shape: the corpus term index (doc_id, term, tf) and df table
    are each ONE map-side-combined aggregate of the token explode; the
    probe join keys the CORPUS posting lists against the tiny query
    term set (size stats broadcast it — at most |q|·distinct terms,
    a workload constant, so the hint question never arises), meaning a
    stopword posting list never shuffles: candidates stream past the
    broadcast hash table. Per-(query, doc) scores fold a
    query-length-bounded matched-term list in term order; top-k is one
    window over the scored relation with a doc_id tiebreak. The scalar
    (N, avgdl) stats ride a 1-row broadcast cross join."""
    return _bm25_rank(_bm25_corpus(spark, sf_dir))


def _bm25_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenized corpus frame the BM25 kernel ranks over — shared
    with rag_hybrid_retrieval (similarity.py) so the lexical half of the
    fused list is the standalone op's exact relation."""
    return (
        table(spark, sf_dir, "documents")
        .filter(col("text").isNotNull() & (col("text") != ""))
        .select("doc_id", _tokens().alias("ws"))
        .persist()  # tf, dl, stats, and the query set all scan it
    )


# ---------------------------------------------------------------------------
# pipeline_pretrain_pack — gates → dedup keeper → packing, end to end
# ---------------------------------------------------------------------------

# The round-12 capstone composition (the curation_funnel /
# decontamination_report pattern): ONE driver entry that exercises the
# interplay of the quality gates, exact dedup survivorship, and the
# sequence packer — each stage the standalone op's exact factored
# expression (_gopher_pass_col, _qc_cols' rational keep gate, md5
# identity, _placed_from_toks), so a drift in any stage breaks this
# hash too. Output is the packed-corpus layout a trainer would consume
# after curation: per (shard, pack) doc/token counts over the SURVIVOR
# set only.


def _capstone_survivor_ctes(
    extra_survivor_pred: str = "",
    extra_gate_pred: str = "",
    prefix_ctes: str = "",
    feats_pred: str = "",
) -> str:
    """WITH … survivors — the capstone admission pipeline's CTE chain in
    DuckDB SQL, shared by the pack oracle and the provenance oracle so
    the admission spec cannot drift between them. `extra_survivor_pred`
    splices AFTER the keeper's rn = 1 — post-admission masking, the
    takedown semantics (a taken-down md5 keeper must NOT resurrect its
    duplicates, so the exclusion cannot move before ROW_NUMBER).
    `extra_gate_pred` splices INTO the gated WHERE — pre-keeper
    exclusion, the decontamination semantics (an excised doc never
    enters admission, so the keeper re-picks among clean copies).
    `feats_pred` (a full WHERE clause) restricts the document set
    itself — the time-travel semantics (an as-of read sees only the
    docs delivered before its batch id). `prefix_ctes` prepends CTEs
    (trailing comma included) for the predicates to reference."""
    n_tokens, score_raw = _sql_qc_cols()
    return f"""
WITH {prefix_ctes}feats AS (
  SELECT doc_id, text,
         {n_tokens} AS n_toks,
         {score_raw} AS score_raw,
         {_SQL_GOPHER_FEATS}
  FROM documents{feats_pred}
),
gated AS (
  SELECT doc_id, text, n_toks
  FROM feats
  WHERE ({_SQL_GOPHER_PASS})
    AND {_QC_THR_DEN} * score_raw >= {_QC_THR_NUM} * n_toks{extra_gate_pred}
),
keeper AS (
  SELECT doc_id, n_toks,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM gated
),
survivors AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard, n_toks
  FROM keeper WHERE rn = 1{extra_survivor_pred}
)"""


def _pretrain_pack_oracle(
    extra_survivor_pred: str = "",
    extra_gate_pred: str = "",
    prefix_ctes: str = "",
    feats_pred: str = "",
) -> str:
    """The capstone relation in DuckDB SQL — the shared survivor CTEs
    (_capstone_survivor_ctes, see there for the splice-point semantics)
    plus the shard placement and pack aggregation."""
    return f"""
{_capstone_survivor_ctes(extra_survivor_pred, extra_gate_pred, prefix_ctes, feats_pred)},
placed AS (
  SELECT shard, doc_id, n_toks,
         CAST(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT)
           AS start_offset
  FROM survivors
)
SELECT shard,
       start_offset // {_PACK_BUDGET} AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM placed
GROUP BY shard, start_offset // {_PACK_BUDGET}
"""


@register("pipeline_pretrain_pack", oracle=_pretrain_pack_oracle())
def pipeline_pretrain_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining-corpus layout: documents pass the gopher
    rule gate AND the linear classifier's rational keep gate, exact
    duplicates collapse to their lowest-doc_id keeper (md5 identity),
    and the survivors pack greedily into {budget}-token sequences per
    shard — the frame a trainer's data loader reads after curation.

    Scale shape: one scan computes both gates (map-only codegen folds);
    the dedup keeper is the partial-combining groupBy(md5) argmin + a
    16-byte-key join back (NEVER a window over the md5 key — CLAUDE.md's
    hot-key argmin rule; the oracle's ROW_NUMBER form is the spec); the
    packer is the shared placement kernel (one (shard) exchange, rollup
    reuses it). Token counts are the classifier's n_tokens (= gopher
    n_words — one definition), all integer arithmetic through the
    pack."""
    return _capstone_pack(_curation_gated(table(spark, sf_dir, "documents")))


def _capstone_pack(gated: DataFrame) -> DataFrame:
    """md5 keeper + shard placement + pack over a gated (doc_id, th,
    n_toks) relation — the post-gate half of pipeline_pretrain_pack,
    factored so the decontaminated twin composes the LITERAL same
    keeper/pack expressions on its excised input."""
    # argmin directly (r16, guide §2.3/§2.4): min(struct(doc_id,
    # n_toks)) per th IS the min-doc_id keeper row (doc_id unique, so
    # the struct min is deterministic and n_toks rides along) — ONE
    # partial-combining aggregate where the former groupBy + semi-join-
    # back pair shuffled twice AND ran the gate lineage on both join
    # sides (two corpus scans per action at any scale).
    from cqlcopy_spark.functions.skew import keep_min_by

    survivors = keep_min_by(gated.select("th", "doc_id", "n_toks"), "th").select(
        "doc_id",
        (col("doc_id") % _PACK_SHARDS).alias("shard"),
        col("n_toks").alias("n_tokens"),
    )
    return _pack_from_toks(survivors, _PACK_BUDGET)


def _spark_qc_sql() -> "tuple[str, str]":
    """SPARK-SQL text twin of _qc_cols(): (n_tokens, score_raw)
    expressions over a documents frame, emitted as parseable strings —
    the Column form's 128-weight array + fold cost ~0.5-0.7s of py4j
    round trips PER PLAN BUILD (r16 guide §1/§4; CLAUDE.md's
    generated-projection selectExpr rule). Shared by the curation gate
    and the classifier/eval ops; value-equality with the Column form is
    held by those ops' own driver oracles plus
    test_curation_gate_sql_text_equivalence."""
    warr = "array(" + ", ".join(str(w) for w in _QC_W) + ")"
    bucket = f"CAST({_spark_tok_bucket('t')} AS INT)"
    score = (
        "aggregate(split(coalesce(text, ''), ' '), CAST(0 AS BIGINT), "
        f"(acc, t) -> acc + CAST(element_at({warr}, {bucket} + 1) AS BIGINT))"
    )
    n_tokens = "CAST(size(split(coalesce(text, ''), ' ')) AS BIGINT)"
    return n_tokens, score


def _spark_gopher_pred(toks: str = "toks") -> str:
    """SPARK-SQL text twin of _gopher_pass_col over a staged token-array
    column named `toks` (n_chars must be in scope). Float literals ride
    as CAST('<repr>' AS DOUBLE) — bare SQL decimals are DECIMAL-typed."""
    stops = " + ".join(
        f"(CASE WHEN array_contains({toks}, '{s}') THEN 1 ELSE 0 END)"
        for s in _GOPHER_STOPS
    )
    return (
        f"(size({toks}) BETWEEN 10 AND 1000)"
        f" AND (((CAST(n_chars AS DOUBLE) - size({toks}) + 1) / size({toks}))"
        " BETWEEN CAST('2.0' AS DOUBLE) AND CAST('12.0' AS DOUBLE))"
        f" AND ((CAST(size(array_distinct({toks})) AS DOUBLE) / size({toks}))"
        " >= CAST('0.2' AS DOUBLE))"
        f" AND (({stops}) >= 2)"
    )


def _spark_gate_exprs() -> "tuple[list[str], str]":
    """(feats selectExpr list, filter predicate) — the curation gate as
    SPARK-SQL TEXT, expression-for-expression the tree _qc_cols() +
    _gopher_pass_col() build through py4j Column calls (r16 guide §1/§4:
    the Column form cost ~0.5-0.7s of driver-side construction+analysis
    PER PLAN BUILD — three builds per streamed lifecycle op — where one
    selectExpr parse is milliseconds; CLAUDE.md's generated-projection
    selectExpr rule). Equivalence with the Column form is pinned by
    test_curation_gate_sql_text_equivalence."""
    n_tokens, score = _spark_qc_sql()
    feats = [
        "doc_id",
        "text",
        "n_chars",
        "split(text, ' ') AS toks",
        f"{n_tokens} AS n_toks",
        f"{score} AS score_raw",
    ]
    pred = (
        f"({_spark_gopher_pred()}) AND "
        f"({_QC_THR_DEN} * score_raw >= {_QC_THR_NUM} * n_toks)"
    )
    return feats, pred


def _curation_gated(d: DataFrame) -> DataFrame:
    """(doc_id, th, n_toks) for the documents passing BOTH curation
    gates (gopher rules AND the classifier's rational keep gate) — ONE
    scan computing both, md5 text identity attached for the dedup
    keeper. Factored from pipeline_pretrain_pack so the streaming
    kernel (streaming/sinks.py curation_apply_batch) applies the
    LITERAL same gate expression per micro-batch — a drift in either
    consumer breaks both driver hashes. Input needs (doc_id, text,
    n_chars). The gate is emitted as SQL text (_spark_gate_exprs) —
    value-identical to the _qc_cols/_gopher_pass_col Column form (the
    pinned equivalence test), ~6× cheaper to build per plan."""
    feats_exprs, pred = _spark_gate_exprs()
    return (
        d.selectExpr(*feats_exprs)
        .filter(pred)
        .selectExpr("doc_id", "md5(text) AS th", "n_toks")
    )


# ---------------------------------------------------------------------------
# stream_curation_apply — the capstone's gates + keeper as live ingest
# ---------------------------------------------------------------------------


@register("stream_curation_apply", oracle=_pretrain_pack_oracle())
def stream_curation_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable batch contract of continuous_curation_sink
    (streaming/sinks.py): the corpus arrives as three doc_id-sliced
    micro-batches, each gate-filtered and deduped against the PERSISTED
    text-hash index of everything admitted before it
    (curation_apply_batch), then the cumulative survivor set packs with
    the shared placement kernel — and the result must HASH-equal
    pipeline_pretrain_pack's one-shot relation (same oracle SQL).

    Why slicing is invisible: the gates are per-document pure functions,
    and with doc_id-ascending arrival the streaming keeper
    (first-delivery-wins on md5(text): in-batch min doc_id, cross-batch
    earliest batch) selects exactly the one-shot keeper (global min
    doc_id per hash). Out-of-order arrival keeps first-delivery-wins
    semantics instead — pinned, with replay idempotence, in
    tests/test_stream_curation.py. The one driver-side scalar is the
    max-doc_id slice bound (stream_minhash_incremental's convention,
    same state lifecycle)."""
    from cqlcopy_spark.streaming.sinks import read_curation_survivors

    state = _streamed_curation_state(spark, sf_dir)
    return _pack_from_toks(read_curation_survivors(spark, state), _PACK_BUDGET)


_CURATION_STATE_PREFIX = "curation_stream_state_"


def _streamed_curation_state(
    spark: SparkSession, sf_dir: str, decontam: bool = False
) -> str:
    """Fresh temp state dir after the three doc_id-sliced curation
    micro-batches (batches 0-2) — factored so stream_curation_apply and
    the takedown/vacuum/decontam ops drive the IDENTICAL streamed
    lifecycle. decontam=True persists the eval char-window index FIRST
    (the benchmark exists before training ingest begins), arming
    curation_apply_batch's per-batch decontamination gate."""
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        decontamination_index_write,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    slices, _ = id_thirds(d, sf_dir, "documents", "doc_id")
    state = session_tempdir(_CURATION_STATE_PREFIX)
    if decontam:
        decontamination_index_write(_bench_split(d)[0], state)
    for batch_id, batch in enumerate(slices):
        curation_apply_batch(batch, batch_id, state)
    return state


# which admitted documents the takedown op retires: every doc_id ≡ 3
# (mod 7) — a deterministic, SQL-expressible target set that hits
# keepers, duplicates-of-keepers and gate-failed docs alike (takedown
# of a never-admitted id is a legal no-op)
_TAKEDOWN_MOD = 7
_TAKEDOWN_RESIDUE = 3


@register(
    "stream_curation_takedown",
    oracle=_pretrain_pack_oracle(
        f" AND doc_id % {_TAKEDOWN_MOD} <> {_TAKEDOWN_RESIDUE}"
    ),
)
def stream_curation_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The right-to-be-forgotten lifecycle over the streamed curation
    state: after the three-slice ingest, every doc_id ≡ 3 (mod 7) is
    retired via curation_takedown_batch (batch 3 — monotone log), and
    the remaining survivors pack with the shared placement kernel. The
    oracle is the capstone SQL with the exclusion applied AFTER the md5
    keeper (post-admission masking): a taken-down keeper's duplicates
    must NOT resurrect, because their text hash stays in the admitted
    index — the content-permanence policy (identical text never
    re-enters under any id; see curation_takedown_batch).

    Scale shape: the ingest is stream_curation_apply's (per-batch work ∝
    batch); the takedown adds one batch-sized delta write and ONE
    broadcast anti-join at read; the pack runs over the masked view
    (offsets re-derived — a takedown changes downstream pack layout by
    design, exactly like the one-shot capstone on the reduced corpus).
    Physical pruning of masked survivor rows is the vector_index_vacuum
    discipline applied verbatim when the masked fraction matters."""
    from cqlcopy_spark.streaming.sinks import (
        curation_takedown_batch,
        read_curation_survivors,
    )

    state = _streamed_curation_state(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    # Spark `%`, not pmod: Spark and DuckDB `%` both follow the DIVIDEND
    # sign (CLAUDE.md), so this matches the oracle's `doc_id % 7 <> 3`
    # for negative ids too — pmod would silently diverge there
    doomed = d.select("doc_id").filter(
        (col("doc_id") % _TAKEDOWN_MOD) == _TAKEDOWN_RESIDUE
    )
    curation_takedown_batch(doomed, 3, state)
    return _pack_from_toks(read_curation_survivors(spark, state), _PACK_BUDGET)


@register(
    "stream_curation_vacuum",
    oracle=_pretrain_pack_oracle(
        f" AND doc_id % {_TAKEDOWN_MOD} <> {_TAKEDOWN_RESIDUE}"
    ),
)
def stream_curation_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_curation_takedown's lifecycle with a PHYSICAL vacuum
    spliced between the takedown and the pack (r14 VERDICT item 5):
    curation_vacuum rewrites survivors-ANTI-JOIN-takedowns as a new
    compaction version and swaps the mask empty — and the pack over the
    post-swap reader view must be HASH-identical to the takedown op's
    (same oracle SQL: the capstone with the exclusion spliced
    post-keeper). This driver-checks reader-view invariance of the
    SECOND state_log.vacuum instance under the oracle — the vector
    twin (similarity_index_vacuum_verify) covers the first; until this
    entry, curation_vacuum was only pytest-pinned. The in-op
    nothing-pruned guard keeps the check non-vacuous: a silently
    no-op'd vacuum would hash the UN-vacuumed view and prove nothing.

    Scale shape: the vacuum is one offline corpus-sized rewrite (the
    compaction trade, amortized across every later read, which stops
    carrying dead rows and the mask anti-join); the ingest/takedown/
    pack costs are stream_curation_takedown's."""
    from cqlcopy_spark.streaming.sinks import (
        curation_takedown_batch,
        curation_vacuum,
        read_curation_survivors,
    )

    state = _streamed_curation_state(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    doomed = d.select("doc_id").filter(
        (col("doc_id") % _TAKEDOWN_MOD) == _TAKEDOWN_RESIDUE
    )
    curation_takedown_batch(doomed, 3, state)
    n_pruned = curation_vacuum(spark, state)
    if n_pruned <= 0:
        raise AssertionError(
            "curation_vacuum pruned nothing — the reader-view-invariance "
            "check would be vacuous (it would hash the un-vacuumed view)"
        )
    return _pack_from_toks(read_curation_survivors(spark, state), _PACK_BUDGET)


# ---------------------------------------------------------------------------
# decontaminated capstone — the contamination gate spliced into curation
# ---------------------------------------------------------------------------


def _decontam_pack_oracle() -> str:
    """The capstone SQL with the decontamination gate spliced PRE-keeper
    (r14 VERDICT item 6): the gated CTE additionally drops the held-out
    bench docs themselves and every doc sharing a verbatim
    {_SUB_N}-char window with one — contamination_excise's exact
    membership rule (contamination_substring's flagged set). Pre-keeper
    is the correct splice for excision (unlike the takedown's
    post-keeper mask): an excised doc never enters admission, so the
    md5 keeper re-picks among the remaining clean copies."""
    prefix = f"""bench_w AS (
  SELECT DISTINCT unnest({_sql_char_windows(1)}) AS w FROM documents
  WHERE {_sql_is_bench()} AND len(text) >= {_SUB_N}
),
flagged AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest({_sql_char_windows(_SUB_STRIDE)}) AS w
        FROM documents
        WHERE NOT ({_sql_is_bench()}) AND len(text) >= {_SUB_N}) c
  JOIN bench_w b USING (w)
),
"""
    gate = (
        f"\n    AND NOT ({_sql_is_bench()})"
        "\n    AND doc_id NOT IN (SELECT doc_id FROM flagged)"
    )
    return _pretrain_pack_oracle(extra_gate_pred=gate, prefix_ctes=prefix)


_DECONTAM_PACK_ORACLE = _decontam_pack_oracle()


def _decontaminated_corpus(d: DataFrame) -> DataFrame:
    """documents minus the bench split minus the exact-substring flagged
    set — contamination_excise's membership rule projected for the
    curation gates. The flagged side is contamination-rate-sized
    (doc_id keys only), so the anti-join leaves the corpus in place."""
    _, corpus_docs = _bench_split(d)
    flagged = _substring_pairs(d).select("doc_id").dropDuplicates(["doc_id"])
    return corpus_docs.join(flagged, "doc_id", "left_anti").select(
        "doc_id", "text", "n_chars"
    )


@register("pipeline_pretrain_pack_decontam", oracle=_DECONTAM_PACK_ORACLE)
def pipeline_pretrain_pack_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-shot decontaminated capstone: contamination excision
    (bench docs + verbatim-window hits out, pre-keeper) → quality gates
    → md5 keeper → pack, each stage the standalone op's literal factored
    expression (_substring_pairs / _bench_split / _curation_gated /
    _capstone_pack). The batch twin stream_curation_decontam must
    HASH-equal this relation (same oracle SQL) — the
    stream_curation_apply == pipeline_pretrain_pack precedent extended
    to the decontaminated pipeline.

    Scale shape: the flag scan is contamination_substring's (batch
    windows vs the broadcast fixed-size bench index, corpus never
    shuffles on text); everything downstream is the capstone's."""
    d = table(spark, sf_dir, "documents")
    return _capstone_pack(_curation_gated(_decontaminated_corpus(d)))


@register("stream_curation_decontam", oracle=_DECONTAM_PACK_ORACLE)
def stream_curation_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed curation ingest WITH the decontamination gate armed
    (r14 VERDICT item 6): the eval char-window index is persisted into
    the state dir before ingest begins (benchmarks exist before
    training data arrives), and every micro-batch's docs are probed
    against it inside curation_apply_batch — flagged docs and bench
    docs are rejected pre-admission, exactly the asymmetric
    dedup_incremental shape (per-batch work ∝ batch; the fixed-size
    eval index broadcasts). HASH-equal to pipeline_pretrain_pack_decontam
    by the slice-invisibility argument: the flag is a pure per-document
    function (text windows + the id-based bench rule) constant across
    batches, so first-delivery-wins admission over clean gated arrivals
    selects exactly the one-shot keeper set."""
    from cqlcopy_spark.streaming.sinks import read_curation_survivors

    state = _streamed_curation_state(spark, sf_dir, decontam=True)
    return _pack_from_toks(read_curation_survivors(spark, state), _PACK_BUDGET)


# ---------------------------------------------------------------------------
# delta-log time travel + provenance over the streamed curation state
# ---------------------------------------------------------------------------

# time-travel read point: the state a reader at batch id 2 saw — deltas
# 0 and 1 only, i.e. the first two doc_id slices
_ASOF_BATCH = 2
_SQL_ASOF_CUT = "2 * ((SELECT MAX(doc_id) FROM documents) // 3)"


@register(
    "stream_curation_asof",
    oracle=_pretrain_pack_oracle(
        feats_pred=f"\n  WHERE doc_id <= {_SQL_ASOF_CUT}"
    ),
)
def stream_curation_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the curation delta log: after the full
    three-slice ingest, read the survivor state AS OF batch
    {_ASOF_BATCH} (deltas strictly below it — exactly what a replay of
    batch 2 would have seen) and pack it. The oracle is the capstone
    SQL over ONLY the documents the first two slices delivered
    (doc_id <= 2·(max//3)) — equality proves the as-of read
    reconstructs the exact historical admission state, which holds
    because survivor deltas are disjoint first-delivery-wins sets and
    compactions only ever fold deltas strictly below their own version
    (a vacuum version stamps ABOVE every id, so historical reads skip
    it and fall back to the retained raw deltas — time travel survives
    physical pruning by construction; see read_curation_survivors).

    Scale shape: identical to stream_curation_apply's read (a plain
    union of fewer deltas); time travel costs nothing because the log
    IS the history — no snapshot copies, the lakehouse version-read
    economics."""
    from cqlcopy_spark.streaming.sinks import read_curation_survivors

    state = _streamed_curation_state(spark, sf_dir)
    return _pack_from_toks(
        read_curation_survivors(spark, state, as_of=_ASOF_BATCH), _PACK_BUDGET
    )


@register(
    "stream_curation_epoch_resume",
    oracle=_pretrain_pack_oracle(
        f" AND NOT (doc_id % {_TAKEDOWN_MOD} = {_TAKEDOWN_RESIDUE}"
        f" AND doc_id <= {_SQL_ASOF_CUT})"
    ),
)
def stream_curation_epoch_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The log-epoch lever driver-checked end to end: ingest the first
    two slices (batches 0-1), take down every ADMITTED doc_id ≡ 3 mod 7
    (batch 2), PHYSICALLY vacuum with bump_epoch=True, then deliver the
    third slice as a RESUMED checkpoint's batch 0 — the id that dies at
    the state_log floor guard without the epoch; with it, the write lands at
    effective id = the vacuum stamp and the same checkpoint continues.

    The oracle is the capstone SQL with the exclusion bounded to the
    pre-vacuum horizon (taken-down ids at-or-below the second slice's
    cut): the takedown masked only content admitted BEFORE the vacuum,
    and the vacuum's horizon claim means later deliveries of never-
    admitted mod-7 ids land legitimately (the mask was physically
    pruned). Content permanence still holds across the swap — a
    third-slice doc whose text equals a taken-down keeper stays out,
    because the admitted-hash index is deliberately NOT vacuumed. Hash
    equality therefore proves three things at once: the epoch mapping
    is correct, the vacuum swapped the reader view losslessly, and the
    post-resume admission pipeline is the same first-delivery-wins
    relation the one-shot SQL specifies.

    Scale shape: stream_curation_vacuum's lifecycle + one more ingest
    batch; the epoch adds one tiny file read per kernel call."""
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_takedown_batch,
        curation_vacuum,
        read_curation_survivors,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    slices, cuts = id_thirds(d, sf_dir, "documents", "doc_id")
    state = session_tempdir(_CURATION_STATE_PREFIX)
    curation_apply_batch(slices[0], 0, state)
    curation_apply_batch(slices[1], 1, state)
    doomed = d.select("doc_id").filter(
        ((col("doc_id") % _TAKEDOWN_MOD) == _TAKEDOWN_RESIDUE)
        & (col("doc_id") <= cuts[1])
    )
    curation_takedown_batch(doomed, 2, state)
    n_pruned = curation_vacuum(spark, state, bump_epoch=True)
    if n_pruned <= 0:
        raise AssertionError(
            "curation_vacuum pruned nothing — the epoch-resume check "
            "would not be exercising a post-vacuum resume at all"
        )
    # the resumed checkpoint restarts numbering at 0: without the epoch
    # this exact call is the state_log floor-guard error
    curation_apply_batch(slices[2], 0, state)
    return _pack_from_toks(read_curation_survivors(spark, state), _PACK_BUDGET)


@register("stream_curation_branch", oracle=_pretrain_pack_oracle())
def stream_curation_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State BRANCHING driver-checked end to end: fork the fully
    ingested trunk at batch {_ASOF_BATCH} (curation_state_clone — the
    as-of delta file set copied zero-copy into the branch, branch
    epoch = the fork point), deliver the trunk's third slice to the
    BRANCH as a brand-new checkpoint's batch 0 (the epoch maps it onto
    the fork point), and pack the branch. The oracle is the PLAIN
    capstone SQL: replaying the trunk's remaining deliveries on the
    branch must reproduce the trunk relation exactly — hash equality
    proves the fork is faithful (as-of exactness), the epoch mapping is
    correct for fresh checkpoints, and branch admission composes with
    the cloned hash index (cross-fork duplicates still collapse to the
    trunk keeper).

    Scale shape: the fork is zero-copy — driver-side file copies of the
    as-of delta set, no Spark job at all (see state_log.clone);
    everything else is the streamed capstone's per-batch shape. The
    trunk is never touched — divergence isolation is pinned in
    tests/test_curation_branch.py."""
    from cqlcopy_spark.streaming.sinks import (
        curation_apply_batch,
        curation_state_clone,
        read_curation_survivors,
    )

    state = _streamed_curation_state(spark, sf_dir)
    branch = session_tempdir(_CURATION_STATE_PREFIX)
    curation_state_clone(spark, state, branch, as_of=_ASOF_BATCH)
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    (_, _, third), _ = id_thirds(d, sf_dir, "documents", "doc_id")
    curation_apply_batch(third, 0, branch)
    return _pack_from_toks(read_curation_survivors(spark, branch), _PACK_BUDGET)


def _provenance_oracle() -> str:
    cut1 = "(SELECT MAX(doc_id) // 3 FROM documents)"
    return f"""
{_capstone_survivor_ctes()}
SELECT doc_id, shard,
       CAST(n_toks AS BIGINT) AS n_tokens,
       CAST(CASE WHEN doc_id <= {cut1} THEN 0
                 WHEN doc_id <= {_SQL_ASOF_CUT} THEN 1
                 ELSE 2 END AS BIGINT) AS admitted_batch
FROM survivors
"""


@register("stream_curation_provenance", oracle=_provenance_oracle())
def stream_curation_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission PROVENANCE over the curation delta log: every live
    survivor with the batch id that admitted it, read from the RAW
    survivor deltas (read_curation_survivors_with_batch — the curation
    twin of the vector index's raw-delta audit, state_log.read_provenance). The
    oracle derives each keeper's batch from the slice that contained
    its doc_id: with ascending doc_id slices, first-delivery-wins
    admits every capstone keeper in exactly its own slice's batch, so
    the delta-file provenance must reproduce the CASE — a drift in
    either the keeper rule or the delta discipline breaks the hash.

    Scale shape: a union PLAN over the raw delta files (file count ∝
    batches on disk, bounded by retention policy; rows never collect)
    plus the usual mask anti-join; this is the audit/lineage read a
    takedown-compliance review runs, not a hot path."""
    from cqlcopy_spark.streaming.sinks import read_curation_survivors_with_batch

    state = _streamed_curation_state(spark, sf_dir)
    return read_curation_survivors_with_batch(spark, state)
