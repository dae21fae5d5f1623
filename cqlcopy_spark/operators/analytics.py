"""Analytics surface: multi-level aggregation (rollup/cube/grouping sets),
distinct aggregation, running/sliding window functions, global top-k, and
the scalar function library (SURVEY.md §2B rows 2-4 and 6).

The reference implements none of these (it is a loader, SURVEY.md §0);
they are the §2B categories made concrete, all built-in Catalyst plans:

- rollup/cube compile to Expand + one hash aggregate — grouping-set
  multiplicity costs map-side rows, never an extra shuffle;
- COUNT(DISTINCT) compiles to Expand + two-phase aggregate (partial
  distinct per mapper, final merge) — at 100 TB swap in
  approx_count_distinct (HyperLogLog++) when exactness isn't required;
- window functions shuffle ONCE on the partition key and sort within
  partitions; frames are streamed, not materialized;
- global top-k is orderBy+limit → TakeOrderedAndProject: per-partition
  heap of k, then a k·partitions merge on the driver — no global sort.

Oracle-parity: float window sums use the dsum decimal trick per frame
(portable.py); transcendentals (exp/ln/trig) are AVOIDED in the scalar
library query because libm implementations differ — sqrt is IEEE-754
correctly-rounded and therefore portable, the rest are not.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col
from pyspark.sql.window import Window

from cqlcopy_spark.catalog import table
from cqlcopy_spark.functions.portable import (cents, dsum, exact_sum, sql_cents, sql_dsum, sql_exact_sum)
from cqlcopy_spark.plans.registry import register

_DEC = "decimal(38,10)"

# ---------------------------------------------------------------------------
# agg_rollup — hierarchical totals (status → status+priority → grand total)
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@register("agg_rollup", oracle=_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (status, priority): detail rows + per-status subtotals +
    grand total in one pass. The explicit gid column disambiguates a
    rolled-up NULL from a data NULL — portable across engines (Spark's
    grouping_id bit order is engine-defined, 2*g(a)+g(b) is not)."""
    orders = table(spark, sf_dir, "orders")
    gid = 2 * F.grouping("o_orderstatus") + F.grouping("o_orderpriority")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        gid.cast("int").alias("gid"),
        F.count("*").alias("n_orders"),
        dsum(col("o_totalprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# agg_cube — all 2^k grouping combinations
# ---------------------------------------------------------------------------

_CUBE_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS gid,
       COUNT(*) AS n_items,
       {sql_exact_sum('CAST(l_quantity AS BIGINT)')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("agg_cube", oracle=_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (returnflag, linestatus): all four grouping sets via one
    Expand (4× map-side rows, ≤ ~12 output groups) — never 4 scans."""
    li = table(spark, sf_dir, "lineitem")
    gid = 2 * F.grouping("l_returnflag") + F.grouping("l_linestatus")
    return li.cube("l_returnflag", "l_linestatus").agg(
        gid.cast("int").alias("gid"),
        F.count("*").alias("n_items"),
        # quantities are integral: exact long accumulation (portable.py
        # exact-sum route), 4x cheaper than the decimal-per-row path
        # under Expand's row multiplication
        exact_sum(col("l_quantity").cast("long")).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# agg_distinct — exact multi-column COUNT(DISTINCT)
# ---------------------------------------------------------------------------

_DISTINCT_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_order_days
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_distinct", oracle=_DISTINCT_ORACLE)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact COUNT(DISTINCT) columns → Catalyst Expand with one
    row per (row, distinct-slot), partial-distinct map-side, single
    shuffle. At 100 TB, approx_count_distinct (HLL++, fixed 2^p bytes
    per group) replaces this when ±2% error is acceptable."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.count_distinct(col("o_custkey")).alias("n_customers"),
            F.count_distinct(F.to_date(col("o_orderdate"))).alias("n_order_days"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# window_running — lag / cumulative sum / sliding average per customer
# ---------------------------------------------------------------------------

_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
  LAG(o_totalprice) OVER w AS prev_price,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
       OVER (w ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS cum_spend,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
       OVER (w ROWS 2 PRECEDING) AS VARCHAR) AS DOUBLE)
    / COUNT(*) OVER (w ROWS 2 PRECEDING) AS avg3,
  ROW_NUMBER() OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("window_running", oracle=_RUNNING_ORACLE)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline: previous price (lag), running total,
    3-order moving average, sequence number. ONE shuffle on o_custkey
    serves all four functions (same window spec); frames are streamed by
    the window operator, nothing quadratic. Float frames use the decimal
    dsum trick so both engines produce bit-identical doubles; ordering
    has the unique o_orderkey tiebreak (parity requirement)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last3 = w.rowsBetween(-2, Window.currentRow)

    def _wsum(frame):
        return (
            F.sum(col("o_totalprice").cast(_DEC)).over(frame).cast("string").cast("double")
        )

    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        _wsum(cum).alias("cum_spend"),
        (_wsum(last3) / F.count("*").over(last3)).alias("avg3"),
        F.row_number().over(w).alias("order_seq"),
    )


# ---------------------------------------------------------------------------
# topk_global — global top-N without a global sort
# ---------------------------------------------------------------------------

_TOPK_GLOBAL_N = 100

_TOPK_GLOBAL_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT {_TOPK_GLOBAL_N}
"""


@register("topk_global", oracle=_TOPK_GLOBAL_ORACLE)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 100 most expensive orders. orderBy+limit compiles to
    TakeOrderedAndProject: each task keeps a k-row heap, the driver
    merges partitions×k rows — the full table is never globally sorted
    or shuffled. Deterministic tiebreak on o_orderkey."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(col("o_totalprice").desc(), col("o_orderkey"))
        .limit(_TOPK_GLOBAL_N)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# agg_collect — array aggregation (nested results)
# ---------------------------------------------------------------------------

_COLLECT_ORACLE = """
SELECT l_orderkey,
       array_to_string(list_sort(list(l_linenumber)), '-') AS line_numbers,
       COUNT(*) AS n_items,
       MAX(l_linenumber) AS max_line
FROM lineitem
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


@register("agg_collect", oracle=_COLLECT_ORACLE)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: the line numbers of each order gathered into
    one value — collect_list is unordered by contract (partition
    arrival order), so sort_array canonicalizes before any comparison
    or downstream use; emitted as a joined string, the portable wire
    form for nested results. State per group is the item list itself —
    at 100 TB guard wide groups with a slice/limit or switch to the
    windowed top-k shape."""
    li = table(spark, sf_dir, "lineitem")
    nums = F.sort_array(F.collect_list(col("l_linenumber")))
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.concat_ws("-", F.transform(nums, lambda x: x.cast("string"))).alias(
                "line_numbers"
            ),
            F.count("*").alias("n_items"),
            F.max("l_linenumber").alias("max_line"),
        )
        .orderBy("l_orderkey")
    )


# ---------------------------------------------------------------------------
# agg_pivot — long-to-wide reshape
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
SELECT user_id,
  {', '.join(f"COUNT(*) FILTER (event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("agg_pivot", oracle=_PIVOT_ORACLE)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts per user, one column per event type. The pivot
    values are DECLARED (not discovered): with an explicit list the
    reshape is a single groupBy — no extra distinct-values job, which at
    100 TB would be a full second scan. Missing combinations coalesce
    to 0 to match the conditional-aggregation formulation."""
    e = table(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# sort_global — true distributed total order
# ---------------------------------------------------------------------------

_SORT_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
"""


@register("sort_global", oracle=_SORT_ORACLE)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total order over the whole table (no limit — contrast with
    topk_global). Physical plan: RANGE partitioning — Spark samples the
    sort key, computes balanced split bounds, one shuffle routes rows to
    ordered partitions, each sorts locally (external sort, spills).
    Partition i's rows all precede partition i+1's: a global sort with
    no single-machine bottleneck. Deterministic o_orderkey tiebreak."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc(), col("o_orderkey"))
    )


# ---------------------------------------------------------------------------
# agg_grouping_sets — arbitrary (non-hierarchical) grouping sets
# ---------------------------------------------------------------------------

_GSETS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("agg_grouping_sets", oracle=_GSETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status), (priority), ()) — the general form that
    rollup/cube are sugar for: two independent one-dimension breakdowns
    plus the grand total in ONE scan (Expand emits 3 rows per input row,
    one hash aggregate, one shuffle) instead of three scans unioned.
    Same explicit-gid portability trick as agg_rollup."""
    orders = table(spark, sf_dir, "orders")
    gid = 2 * F.grouping("o_orderstatus") + F.grouping("o_orderpriority")
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        gid.cast("int").alias("gid"),
        F.count("*").alias("n_orders"),
        dsum(col("o_totalprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# window_ranks — rank family (rank/dense_rank/ntile/percent_rank/cume_dist)
# ---------------------------------------------------------------------------

_RANKS_ORACLE = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
  RANK() OVER w AS rnk,
  DENSE_RANK() OVER w AS drnk,
  NTILE(4) OVER w AS quartile,
  PERCENT_RANK() OVER w AS pct_rank,
  CUME_DIST() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
"""


@register("window_ranks", oracle=_RANKS_ORACLE)
def window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank-function family per priority class. All five share
    one window spec → one shuffle + one sort serves everything.
    percent_rank ((rank-1)/(n-1)) and cume_dist (n_le/n) are exact
    integer ratios, so doubles match the oracle bitwise; ntile is
    deterministic because the ordering carries the unique o_orderkey
    tiebreak."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        col("o_totalprice").desc(), col("o_orderkey")
    )
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# explode_unnest — lateral array expansion (flatten → re-aggregate)
# ---------------------------------------------------------------------------

_UNNEST_ORACLE = """
SELECT word, pos,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT p_brand) AS n_brands
FROM (
  SELECT p_brand,
         unnest(string_split(p_name, ' ')) AS word,
         generate_subscripts(string_split(p_name, ' '), 1) - 1 AS pos
  FROM part
)
GROUP BY word, pos
ORDER BY word, pos
"""


@register("explode_unnest", oracle=_UNNEST_ORACLE)
def explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST surface: posexplode(split(p_name)) flattens each name into
    (position, token) rows, then re-aggregates token frequency and brand
    spread. Explode is a narrow op (no shuffle — rows expand in place
    inside the same stage as the scan); the only shuffle is the final
    groupBy. At 100 TB the pre-aggregation still combines map-side, so
    the shuffle carries ≤ |vocab|·partitions rows, not the exploded
    token stream."""
    p = table(spark, sf_dir, "part")
    toks = p.select(
        "p_brand", F.posexplode(F.split("p_name", " ")).alias("pos", "word")
    )
    return (
        toks.groupBy("word", "pos")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("p_brand").alias("n_brands"),
        )
        .orderBy("word", "pos")
    )


# ---------------------------------------------------------------------------
# array_hof — higher-order array functions over embeddings
# ---------------------------------------------------------------------------

# Sequential left-to-right fold == DuckDB list_reduce order ⇒ bitwise-equal
# doubles (same trick as similarity.py's _dot).
_HOF_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i])), (a, b) -> a + b)"
)

_HOF_ORACLE = f"""
SELECT vec_id,
       len(embedding) AS dim,
       len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_pos,
       sqrt({_HOF_DOT_SQL}) AS l2_norm,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(embedding::DOUBLE[],
           x -> CASE WHEN x > 0.5 THEN 0.5 WHEN x < -0.5 THEN -0.5 ELSE x END)),
         (a, b) -> a + b) AS clipped_sum
FROM (SELECT vec_id, embedding, embedding::DOUBLE[] AS emb FROM embeddings)
ORDER BY vec_id
"""


@register("array_hof", oracle=_HOF_ORACLE)
def array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function surface (transform / filter /
    aggregate / size) over the embedding column: dimensionality, count
    of positive components, L2 norm, and a clip-then-sum — all JVM-side
    lambda expressions inside one codegen stage, zero shuffles, zero
    Python. The fold accumulates left-to-right exactly like DuckDB's
    list_reduce, so the doubles hash-match bitwise."""
    e = table(spark, sf_dir, "embeddings")
    emb = col("embedding").cast("array<double>")
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)  # noqa: E731
    clip = F.transform(
        emb,
        lambda x: F.when(x > 0.5, F.lit(0.5)).when(x < -0.5, F.lit(-0.5)).otherwise(x),
    )
    return (
        e.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
            F.sqrt(fold(F.zip_with(emb, emb, lambda a, b: a * b))).alias("l2_norm"),
            fold(clip).alias("clipped_sum"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# agg_approx — sketch-based aggregation (the 100 TB substitutes)
# ---------------------------------------------------------------------------


@register("agg_approx")  # rows-only: sketch results are engine-specific
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) and approx_percentile
    (quantile sketch) per order priority — the fixed-memory substitutes
    for agg_distinct / text_percentiles at 100 TB: state per group is a
    bounded sketch (2^p registers / sketch buffer) instead of a hash set
    or a sorted spill. Deterministic given the data, but the register
    layout is engine-specific, so no cross-engine oracle — accuracy vs
    the exact operators is asserted in tests/test_approx.py."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_median_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# scalar_funcs — the scalar function library surface
# ---------------------------------------------------------------------------

_SCALAR_ORACLE = """
SELECT o_orderkey,
  upper(o_orderstatus) AS status_u,
  lower(o_orderpriority) AS prio_l,
  substr(o_orderpriority, 1, 3) AS prio3,
  concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
  length(o_orderpriority) AS prio_len,
  string_split(o_orderpriority, '-')[1] AS prio_code,
  year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
  date_trunc('month', o_orderdate) AS month_start,
  abs(o_totalprice - 150000.0) AS dist_150k,
  CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_k_floor,
  CAST(ceil(o_totalprice / 1000.0) AS BIGINT) AS price_k_ceil,
  sqrt(o_totalprice) AS price_sqrt,
  greatest(o_totalprice, 150000.0) AS price_hi,
  least(o_totalprice, 150000.0) AS price_lo,
  o_orderkey % 7 AS key_mod7,
  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_decoded
FROM orders
"""


@register("scalar_funcs", oracle=_SCALAR_ORACLE)
def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math / array / conditional scalar functions in one
    projection — the pyspark.sql.functions library surface (§2B). Pure
    map, single codegen stage, zero shuffles. Transcendentals beyond
    sqrt are deliberately absent: libm results differ across engines,
    sqrt is IEEE-correctly-rounded everywhere."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_u"),
        F.lower("o_orderpriority").alias("prio_l"),
        F.substring("o_orderpriority", 1, 3).alias("prio3"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").alias("prio_len"),
        F.element_at(F.split("o_orderpriority", "-"), 1).alias("prio_code"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_trunc("month", col("o_orderdate")).alias("month_start"),
        F.abs(col("o_totalprice") - 150000.0).alias("dist_150k"),
        F.floor(col("o_totalprice") / 1000.0).alias("price_k_floor"),
        F.ceil(col("o_totalprice") / 1000.0).alias("price_k_ceil"),
        F.sqrt("o_totalprice").alias("price_sqrt"),
        F.greatest(col("o_totalprice"), F.lit(150000.0)).alias("price_hi"),
        F.least(col("o_totalprice"), F.lit(150000.0)).alias("price_lo"),
        (col("o_orderkey") % 7).alias("key_mod7"),
        F.coalesce(F.nullif(col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_decoded"
        ),
    )


# ---------------------------------------------------------------------------
# agg_stats — moment statistics (variance / stddev / covar / corr), portable
# ---------------------------------------------------------------------------

# Spark's var_samp/corr use streaming (Welford-style) float updates whose
# result depends on row visit order — unusable for a cross-engine value
# hash. Portable construction: the inputs are exact integers in cents/
# units, accumulated exactly (decimal(38,0) / HUGEINT), converted to
# double once per group via the varchar trick (portable.py), and
# combined with the identical double expression on both sides.

_STATS_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(l_quantity AS BIGINT)) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(l_quantity AS BIGINT)) AS VARCHAR) AS DOUBLE) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       sx / n / 100.0 AS mean_price,
       (sxx - sx * sx / n) / (n - 1) / 10000.0 AS var_price,
       sqrt((sxx - sx * sx / n) / (n - 1) / 10000.0) AS std_price,
       (sxy - sx * sy / n) / (n - 1) / 100.0 AS covar_pq,
       (sxy - sx * sy / n)
         / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_pq
FROM s
ORDER BY l_returnflag
"""


@register("agg_stats", oracle=_STATS_ORACLE)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev of price, covariance and correlation of
    (price, quantity) per return flag — EXACT INTEGER moments in one
    pass. Prices are exactly 2-decimal and quantities integral, so the
    moments accumulate as integer cents/units: per-row products are
    int64-safe single multiplications (price < $3e7 by construction),
    the sums are overflow-proof decimal(38,0) (DuckDB: SUM(BIGINT) →
    HUGEINT), and each exact sum converts to double once per GROUP via
    the varchar route (portable.py). Measured 2.3× faster than the
    decimal(38,10)-per-row route this replaces — integer accumulation
    keeps whole-stage codegen in long arithmetic — and the closed-form
    combination is the identical IEEE expression in both engines.
    corr is unit-free; var/covar/mean rescale by the cents factor."""
    li = table(spark, sf_dir, "lineitem")
    xc = F.round(col("l_extendedprice") * 100).cast("long")
    yq = col("l_quantity").cast("long")
    D0 = "decimal(38,0)"

    def exact_sum(c):
        return F.sum(c.cast(D0)).cast("string").cast("double")

    grouped = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        exact_sum(xc).alias("sx"),
        exact_sum(yq).alias("sy"),
        exact_sum(xc * xc).alias("sxx"),
        exact_sum(yq * yq).alias("syy"),
        exact_sum(xc * yq).alias("sxy"),
    )
    n, sx, sy = col("n"), col("sx"), col("sy")
    sxx, syy, sxy = col("sxx"), col("syy"), col("sxy")
    var_price = (sxx - sx * sx / n) / (n - 1) / 10000.0
    return grouped.select(
        "l_returnflag",
        "n",
        (sx / n / 100.0).alias("mean_price"),
        var_price.alias("var_price"),
        F.sqrt(var_price).alias("std_price"),
        ((sxy - sx * sy / n) / (n - 1) / 100.0).alias("covar_pq"),
        (
            (sxy - sx * sy / n)
            / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
        ).alias("corr_pq"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# window_frames — value-navigation window functions (first/last/nth/lead)
# ---------------------------------------------------------------------------

_FRAMES_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
  FIRST_VALUE(o_totalprice) OVER w AS first_price,
  LAST_VALUE(o_totalprice) OVER
    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
  NTH_VALUE(o_totalprice, 2) OVER
    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_price,
  LEAD(o_totalprice) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("window_frames", oracle=_FRAMES_ORACLE)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value navigation along each customer's order timeline: first /
    last / 2nd order price and the next order's price. last/nth use an
    explicit full-partition frame (the default frame stops at the
    current row — a classic silent-wrong-answer trap in both engines).
    One shuffle + sort serves all four; the unique o_orderkey tiebreak
    makes every value deterministic."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


# ---------------------------------------------------------------------------
# agg_histogram — fixed-width histogram (distribution profiling)
# ---------------------------------------------------------------------------

_HIST_WIDTH = 50_000.0

_HIST_ORACLE = f"""
SELECT CAST(floor(o_totalprice / {_HIST_WIDTH}) AS BIGINT) AS bucket,
       {_HIST_WIDTH} * CAST(floor(o_totalprice / {_HIST_WIDTH}) AS BIGINT) AS bucket_lo,
       COUNT(*) AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders
GROUP BY 1, 2
ORDER BY 1
"""


@register("agg_histogram", oracle=_HIST_ORACLE)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram of order totals — the single-pass
    distribution profile a pipeline runs before choosing partition
    bounds or spotting skew. Fixed bucket width keeps it one scan + one
    tiny shuffle (bucket count is data-range/width, independent of row
    count); a quantile-based equi-height histogram would need the
    percentile machinery (text_percentiles) instead. floor() on an IEEE
    division is deterministic in both engines."""
    o = table(spark, sf_dir, "orders")
    bucket = F.floor(col("o_totalprice") / _HIST_WIDTH).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .select(
            "bucket",
            (F.lit(_HIST_WIDTH) * col("bucket")).alias("bucket_lo"),
            "n",
            "lo",
            "hi",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# window_range_time — time-based RANGE frame (trailing 1-hour per user)
# ---------------------------------------------------------------------------

_RANGE_MS = 3_600_000  # trailing 1 hour, in epoch milliseconds

_RANGE_TIME_ORACLE = f"""
SELECT event_id, user_id, ts,
  CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) OVER w AS VARCHAR) AS DOUBLE) AS sum_1h,
  COUNT(*) OVER w AS n_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             RANGE BETWEEN {_RANGE_MS} PRECEDING AND CURRENT ROW)
"""


@register("window_range_time", oracle=_RANGE_TIME_ORACLE)
def window_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour sum/count per user at every event — the
    time-based RANGE frame (vs the ROWS frames of window_running). The
    frame is defined by the ORDER BY *value* (epoch millis), so ties
    are all-in — frame membership is deterministic without a tiebreak,
    which is exactly why the float sum inside can use the decimal dsum
    trick and still hash-match. One shuffle on user_id; the window
    operator streams each partition with a sliding two-pointer frame,
    nothing quadratic. At scale this is the fraud/rate-limit feature
    shape: state is bounded by the hour span per user."""
    e = table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; the NTZ→TIMESTAMP cast is exact because
    # catalog.table() pins the session timezone to UTC.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis(col("ts").cast("timestamp")))
        .rangeBetween(-_RANGE_MS, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(col("value").cast(_DEC)).over(w).cast("string").cast("double").alias("sum_1h"),
        F.count("*").over(w).alias("n_1h"),
    )


# ---------------------------------------------------------------------------
# agg_bool_bitwise — boolean and bitwise aggregates
# ---------------------------------------------------------------------------

_BOOLBIT_ORACLE = """
SELECT l_returnflag,
  bool_and(l_quantity > 1)   AS all_multi,
  bool_or(l_discount > 0.09) AS any_deep_disc,
  bit_and(l_linenumber) AS band_line,
  bit_or(l_linenumber)  AS bor_line,
  bit_xor(l_orderkey)   AS bxor_order
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_bool_bitwise", oracle=_BOOLBIT_ORACLE)
def agg_bool_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean (every/any) and bitwise (AND/OR/XOR) aggregates — the
    flag-consolidation surface. All are commutative+associative, so
    they partial-aggregate map-side and merge exactly like SUM: one
    tiny shuffle of per-group accumulators, order-insensitive by
    algebra (no float caveats — these are exact integer/boolean ops)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bool_and(col("l_quantity") > 1).alias("all_multi"),
            F.bool_or(col("l_discount") > 0.09).alias("any_deep_disc"),
            F.bit_and(col("l_linenumber")).alias("band_line"),
            F.bit_or(col("l_linenumber")).alias("bor_line"),
            F.bit_xor(col("l_orderkey")).alias("bxor_order"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# unpivot_melt — wide→long reshaping (the inverse of agg_pivot)
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = f"""
WITH a AS (
  SELECT l_returnflag,
         {sql_dsum('l_quantity')} AS sum_qty,
         {sql_dsum('l_extendedprice')} AS sum_price,
         CAST(COUNT(*) AS DOUBLE) AS n_lines
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a
UNION ALL SELECT l_returnflag, 'n_lines', n_lines FROM a
"""


@register("unpivot_melt", oracle=_UNPIVOT_ORACLE)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (melt): a per-flag metrics row becomes one
    (metric, value) row per measure — the inverse of agg_pivot and the
    standard shape for feeding generic downstream consumers (plotting,
    metric stores). Spark's unpivot compiles to Expand — a map-side row
    multiplication, NO extra shuffle beyond the one aggregation; the
    oracle spells the same reshape as a UNION ALL, which is what Expand
    is. Measures are pre-cast to one common double type (unpivot
    requires it, exactly like UNION column typing)."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum(col("l_quantity")).alias("sum_qty"),
        dsum(col("l_extendedprice")).alias("sum_price"),
        F.count("*").cast("double").alias("n_lines"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n_lines"], "metric", "value"
    )


# ---------------------------------------------------------------------------
# map_funcs — MapType construction, lookup, and higher-order filtering
# ---------------------------------------------------------------------------

_MAP_ORACLE = """
WITH pc AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS INT) AS n_priorities,
       MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN n END) AS urgent_n,
       array_to_string(list_sort(list(o_orderpriority)), ',') AS prio_keys,
       CAST(COUNT(*) FILTER (n > 40) AS INT) AS big_prios
FROM pc GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("map_funcs", oracle=_MAP_ORACLE)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MapType surface: per-status priority→count maps built with
    map_from_entries, then consumed four ways — size, point lookup
    (element_at returns NULL on a missing key, mirrored by MAX(CASE)
    in the oracle), sorted key extraction, and a higher-order
    map_filter. The map lives entirely inside one aggregation pipeline
    (two keyed shuffles: (status,priority) counts, then status) — maps
    here are a row-local container, never a shuffle key, which is the
    rule that keeps MapType viable at scale."""
    o = table(spark, sf_dir, "orders")
    pc = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    m = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct(col("o_orderpriority"), col("n"))))
    )
    mapped = pc.groupBy("o_orderstatus").agg(m.alias("m"))
    return (
        mapped.select(
            "o_orderstatus",
            F.size(col("m")).alias("n_priorities"),
            F.element_at(col("m"), "1-URGENT").alias("urgent_n"),
            F.array_join(F.array_sort(F.map_keys(col("m"))), ",").alias("prio_keys"),
            F.size(F.map_filter(col("m"), lambda k, v: v > 40)).alias("big_prios"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# date_funcs — calendar arithmetic beyond the scalar_funcs basics
# ---------------------------------------------------------------------------

_DATE_ORACLE = """
SELECT o_orderkey,
  quarter(o_orderdate) AS q,
  weekofyear(o_orderdate) AS iso_week,
  isodow(o_orderdate) - 1 AS weekday0,
  dayofyear(o_orderdate) AS doy,
  CAST(last_day(o_orderdate) AS TIMESTAMP) AS eom,
  CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS TIMESTAMP) AS plus3mo,
  datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch95
FROM orders
"""


@register("date_funcs", oracle=_DATE_ORACLE)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic surface: quarter, ISO week, Monday-based
    weekday, day-of-year, end-of-month, month addition (end-of-month
    clamped identically in both engines), and day deltas. Weekday
    numbering is the classic cross-engine trap — Spark weekday() is
    Monday=0 while DuckDB dow() is Sunday=0 — so the oracle uses
    isodow-1 to meet Spark's convention. Pure codegen maps; nothing
    here shuffles."""
    o = table(spark, sf_dir, "orders")
    d = col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.quarter(d).alias("q"),
        F.weekofyear(d).alias("iso_week"),
        F.weekday(d).alias("weekday0"),
        F.dayofyear(d).alias("doy"),
        F.last_day(d).cast("timestamp").alias("eom"),
        F.add_months(d, 3).cast("timestamp").alias("plus3mo"),
        F.datediff(d, F.lit("1995-01-01")).alias("days_since_epoch95"),
    )


# ---------------------------------------------------------------------------
# cogroup_user_join — cogrouped applyInPandas (two tables, one Python merge)
# ---------------------------------------------------------------------------

_COGROUP_ORACLE = """
WITH p AS (SELECT user_id, COUNT(*) AS n_purchase, MAX(value) AS max_purchase
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
v AS (SELECT user_id, COUNT(*) AS n_view, MAX(value) AS max_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       COALESCE(p.n_purchase, 0) AS n_purchase,
       COALESCE(v.n_view, 0) AS n_view,
       p.max_purchase AS max_purchase,
       v.max_view AS max_view
FROM u LEFT JOIN p USING (user_id) LEFT JOIN v USING (user_id)
ORDER BY u.user_id
"""


@register("cogroup_user_join", oracle=_COGROUP_ORACLE)
def cogroup_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogrouped-pandas API surface: two DataFrames grouped on the
    same key, each key's two partitions handed to ONE Python function as
    a pair of pandas frames (`groupBy().cogroup().applyInPandas`) — the
    escape hatch for per-key merge logic no join can express (custom
    alignment, model scoring over both sides, merge_asof variants).
    Here the kernel computes per-user counts and maxima from both sides
    so the DuckDB oracle can state the same result as two aggregates +
    outer join. Physical shape: BOTH sides shuffle once on the cogroup
    key and arrive co-partitioned — at scale this is exactly a shuffle
    join whose probe logic happens to run in Arrow batches.

    The cogroup key is a HASH BUCKET of user_id, not user_id itself:
    applyInPandas fires the Python kernel once per key, so keying on the
    user would pay per-key interpreter + DataFrame-construction overhead
    for millions of keys. Bucketing amortizes that to ~par×4 calls while
    the kernel stays a vectorized pandas groupby within each bucket —
    the same rows meet (bucket is a function of user_id), only batched.
    Keys present on only one side still fire (the other frame arrives
    empty), which the oracle's full outer spine mirrors."""
    e = table(spark, sf_dir, "events")
    n_buckets = spark.sparkContext.defaultParallelism * 4
    bucket = F.pmod(F.col("user_id"), F.lit(n_buckets)).alias("bucket")
    purchases = e.filter(col("event_type") == "purchase").select(
        bucket, "user_id", "value"
    )
    views = e.filter(col("event_type") == "view").select(bucket, "user_id", "value")
    # All-users spine so users with neither purchases nor views — absent
    # from both cogroup sides — still appear, matching the oracle's u CTE.
    spine = e.select("user_id").distinct()

    def merge(pdf_p, pdf_v):
        import pandas as pd

        # Column access is defensive: when NO output column of the
        # cogroup is consumed downstream (e.g. a bare count()), Catalyst
        # prunes the children to the grouping key only and the value
        # column never reaches the kernel. That pruning is NOT harmless
        # here (the per-user breakdown needs user_id), so fall back to a
        # schema-shaped empty frame rather than crashing — the pruned
        # plan only ever feeds a count-style consumer.
        def _agg(pdf):
            if len(pdf) and {"user_id", "value"} <= set(pdf.columns):
                g = pdf.groupby("user_id")["value"]
                return pd.DataFrame({"n": g.size(), "mx": g.max()})
            return pd.DataFrame({"n": [], "mx": []})

        ap, av = _agg(pdf_p), _agg(pdf_v)
        out = ap.join(av, how="outer", lsuffix="_p", rsuffix="_v")
        return pd.DataFrame(
            {
                "user_id": out.index.to_numpy(dtype="int64"),
                "n_purchase": out["n_p"].fillna(0).to_numpy(dtype="int64"),
                "n_view": out["n_v"].fillna(0).to_numpy(dtype="int64"),
                "max_purchase": out["mx_p"].to_numpy(dtype="float64"),
                "max_view": out["mx_v"].to_numpy(dtype="float64"),
            }
        )

    merged = (
        purchases.groupBy("bucket")
        .cogroup(views.groupBy("bucket"))
        .applyInPandas(
            merge,
            schema="user_id long, n_purchase long, n_view long, "
            "max_purchase double, max_view double",
        )
    )
    return (
        spine.join(merged, "user_id", "left")
        .select(
            "user_id",
            F.coalesce(col("n_purchase"), F.lit(0)).alias("n_purchase"),
            F.coalesce(col("n_view"), F.lit(0)).alias("n_view"),
            "max_purchase",
            "max_view",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# udaf_median — custom aggregate via pandas_udf grouped-agg
# ---------------------------------------------------------------------------

_UDAF_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(median(o_totalprice) AS DOUBLE) AS median_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("udaf_median", oracle=_UDAF_ORACLE)
def udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (UDAF) via an Arrow-batched grouped-agg
    pandas_udf: Series in, scalar out, usable inside a normal
    groupBy().agg() beside built-ins. Exact median needs the whole
    group (not decomposable into partial aggregates), so Spark shuffles
    full groups to the UDAF — the structural cost of any holistic
    aggregate; at scale prefer percentile_approx (t-digest sketches,
    see agg_approx) and reserve this path for moderate group sizes.
    Parity: both engines average the two middle doubles on even counts
    — the same single IEEE operation."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    # Spark disallows mixing grouped-agg pandas UDFs with JVM aggregates
    # in one agg() (they run in different physical operators), so the
    # count rides the same Arrow path.
    @pandas_udf("long")
    def count_udaf(v: pd.Series) -> int:
        return len(v)

    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            count_udaf(col("o_totalprice")).alias("n_orders"),
            median_udaf(col("o_totalprice")).alias("median_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# sketch_distinct_users — mergeable HLL sketches (Apache DataSketches)
# ---------------------------------------------------------------------------


@register("sketch_distinct_users")  # rows-only: sketch estimates are engine-specific
def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via MERGEABLE HyperLogLog sketches
    (hll_sketch_agg, Apache DataSketches), plus an 'ALL' row whose
    estimate comes from hll_union_agg over the per-type sketches — NOT
    from a second scan.

    This mergeability is the whole point at 100 TB: per-shard/per-day
    sketches are a few KB each, persist as binary columns, and any
    rollup (day→month, shard→global) is a union of sketches instead of
    a re-scan of raw events. HLL register-max updates are
    order-insensitive, so union-of-parts is EXACTLY the sketch of the
    whole (pinned by tests/test_curation.py::test_hll_union_is_exact);
    the estimate's error vs true distinct is the usual ~1.6%/√(2^lgK).
    DuckDB's approx sketches differ → rows-only + error-bound test."""
    e = table(spark, sf_dir, "events")
    per = (
        e.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .persist()  # feeds both the per-type rows and the union row
    )
    per_type = per.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    merged = per.agg(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    return per_type.unionByName(merged).orderBy("event_type")


# ---------------------------------------------------------------------------
# sketch_quantiles_merge — mergeable quantile summaries (shard → global)
# ---------------------------------------------------------------------------

# The quantile companion to sketch_distinct_users' HLL (r5 VERDICT item
# 7): per-shard COMPRESSED RANK SUMMARIES (the classic Munro-Paterson /
# MRL construction — keep the values at ranks ceil(i·n_s/k), weight each
# by the rank gap it covers) merge into a global weighted summary whose
# rank error is provably ≤ Σ ceil(n_s/k) ≈ N/k + S. Unlike HLL/KLL the
# whole construction is deterministic comparison-and-integer arithmetic,
# so this sketch gets a FULL value-hash oracle, not a rows-only check.
# Error-bound + mergeability-under-resharding pins: tests/test_approx.py.

_QSK_K = 32  # summary points kept per shard
_QSK_SHARDS = 8  # shards per group (stand-in for partitions/days at scale)
_QSK_PS = (0.5, 0.9, 0.99)


def _qsk_oracle() -> str:
    k, s = _QSK_K, _QSK_SHARDS
    picks = ", ".join(
        # DuckDB ceil() returns DOUBLE and / on BIGINT is float division
        # (CLAUDE.md): integer ceil via (a + b - 1) // b. The p·N target
        # CASTs the literal to DOUBLE first: a bare 0.99 is DECIMAL in
        # DuckDB and the exact decimal product can ceil differently from
        # Spark's double product when p·N grazes an integer — latent for
        # these constants (scanned to 5M), forced identical by the cast
        f"MIN(CASE WHEN cumw >= CAST(ceil(CAST({p} AS DOUBLE) * total_w) "
        f"AS BIGINT) THEN value END) AS p{int(p * 100)}"
        for p in _QSK_PS
    )
    return f"""
WITH sharded AS (
  SELECT event_type, event_id, value,
         ((event_id % {s}) + {s}) % {s} AS shard
  FROM events
),
r AS (
  SELECT event_type, shard, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, shard
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type, shard) AS ns
  FROM sharded
),
kept AS (
  -- keep rank rn iff rn = ceil(i*ns/k) for some i, i.e. an integer i
  -- lies in ((rn-1)*k/ns, rn*k/ns]: floor-div strictly increases.
  -- This keeps rank ns ALWAYS, so weights sum to ns exactly.
  SELECT event_type, shard, value, rn, ns
  FROM r
  WHERE (rn * {k}) // ns > ((rn - 1) * {k}) // ns
),
weighted AS (
  SELECT event_type, shard, value, rn,
         rn - COALESCE(LAG(rn) OVER (PARTITION BY event_type, shard
                                     ORDER BY rn), 0) AS weight
  FROM kept
),
merged AS (
  SELECT event_type, value, shard, rn, weight,
         SUM(weight) OVER (PARTITION BY event_type
                           ORDER BY value, shard, rn) AS cumw,
         SUM(weight) OVER (PARTITION BY event_type) AS total_w
  FROM weighted
)
SELECT event_type,
       CAST(MIN(total_w) AS BIGINT) AS n,
       {picks},
       CAST(MIN(total_w) // {k} + {s} AS BIGINT) AS rank_err_bound
FROM merged
GROUP BY event_type
ORDER BY event_type
"""


@register("sketch_quantiles_merge", oracle=_qsk_oracle())
def sketch_quantiles_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch rollup — the shard→global quantile a
    100 TB profiling pass actually runs: each (group, shard) builds a
    k-point compressed rank summary (value at every ceil(i·n_s/k)-th
    rank, weighted by the rank gap it covers — weights sum to n_s
    EXACTLY, so the merged count is exact, the HLL-union-is-exact
    analogue), summaries union into a shards×k-row table per group, and
    a weighted cumulative-rank walk answers any quantile with rank
    error ≤ N/k + S regardless of data skew (with DUPLICATED values the
    estimate occupies a run of ranks — the guarantee is that the run
    intersects the target window; test_sketch_property.py fuzzes
    exactly this form of the claim).

    At scale: the only event-volume shuffle is the (group, shard) rank
    window; everything after operates on summaries (S·k rows per
    group). Summaries persist as tiny tables and re-merge across any
    rollup (shard→day→month) without touching raw data — the same
    mergeability contract as sketch_distinct_users, but with a FULL
    value-hash oracle because the construction is pure comparisons +
    int arithmetic (pmod sharding per CLAUDE.md; integer ceil-div via
    (a+b-1)//b on both engines; the p·N target is the same IEEE
    product both engines ceil)."""
    return _quantile_summary(
        table(spark, sf_dir, "events").select("event_type", "event_id", "value"),
        _QSK_K,
        _QSK_SHARDS,
    )


def _quantile_summary(e: DataFrame, k: int, s: int) -> DataFrame:
    """Core of sketch_quantiles_merge, parameterized so tests can pin
    the error bound under different shardings (merge-of-parts must stay
    within N/k + S for ANY partitioning of the rows into shards)."""
    sharded = e.withColumn("shard", F.pmod(col("event_id"), F.lit(s)))
    wr = Window.partitionBy("event_type", "shard").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type", "shard")
    r = sharded.withColumn("rn", F.row_number().over(wr)).withColumn(
        "ns", F.count(F.lit(1)).over(wn)
    )

    def floor_div(a, b):
        # exact while a < 2^53 (double division of exact ints): rn·k at
        # 100 TB group sizes stays far under that; avoids Spark's
        # DecimalType long/long `/`
        return F.floor(a / b).cast("long")

    # keep rank rn iff rn = ceil(i·ns/k) for some i ⇔ an integer lies in
    # ((rn-1)·k/ns, rn·k/ns] ⇔ the floor-div strictly increases. Rank ns
    # is always kept, so per-shard weights sum to ns EXACTLY (the
    # HLL-union-is-exact analogue; pinned in test_approx.py).
    kept = r.filter(
        floor_div(col("rn") * k, col("ns"))
        > floor_div((col("rn") - 1) * k, col("ns"))
    )
    wl = Window.partitionBy("event_type", "shard").orderBy("rn")
    weighted = kept.select(
        "event_type",
        "shard",
        "value",
        "rn",
        (col("rn") - F.coalesce(F.lag("rn").over(wl), F.lit(0))).alias("weight"),
    )
    wm = Window.partitionBy("event_type").orderBy("value", "shard", "rn")
    wt = Window.partitionBy("event_type")
    merged = weighted.select(
        "event_type",
        "value",
        F.sum("weight").over(wm).alias("cumw"),
        F.sum("weight").over(wt).alias("total_w"),
    )
    picks = [
        F.min(
            F.when(
                col("cumw") >= F.ceil(F.lit(p) * col("total_w")), col("value")
            )
        ).alias(f"p{int(p * 100)}")
        for p in _QSK_PS
    ]
    return (
        merged.groupBy("event_type")
        .agg(
            F.min("total_w").alias("n"),
            *picks,
            (F.floor(F.min("total_w") / k) + F.lit(s)).cast("long").alias(
                "rank_err_bound"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# sketch_heavy_hitters — mergeable frequent-items sketch (shard → global)
# ---------------------------------------------------------------------------

# Completes the profiling sketch trio (HLL distinct / quantile summary /
# heavy hitters). Per shard the item counts are EXACT (a groupBy), the
# shard keeps its top-k items and records the (k+1)-th count as its
# drop threshold; merging sums kept counts and bounds what the dropped
# occurrences could add: true_count ∈ [est, est + Σ thresholds of shards
# that dropped the item] — the Metwally SpaceSaving merge guarantee,
# here in pure integer arithmetic, so the sketch gets a FULL value-hash
# oracle (DuckDB twin below). Bounds + resharding pins: test_approx.py.

_HH_K = 16  # items kept per shard
_HH_SHARDS = 8
_HH_TOP = 10  # reported heavy hitters


def _hh_oracle() -> str:
    k, s, top = _HH_K, _HH_SHARDS, _HH_TOP
    return f"""
WITH c AS (
  SELECT ((event_id % {s}) + {s}) % {s} AS shard, user_id,
         COUNT(*) AS cnt
  FROM events
  GROUP BY 1, 2
),
r AS (
  SELECT shard, user_id, cnt,
         ROW_NUMBER() OVER (PARTITION BY shard
                            ORDER BY cnt DESC, user_id) AS rk
  FROM c
),
thr AS (
  SELECT shard,
         COALESCE(MAX(CASE WHEN rk = {k} + 1 THEN cnt END), 0) AS thr
  FROM r GROUP BY shard
),
tot AS (SELECT CAST(SUM(thr) AS BIGINT) AS total_thr FROM thr),
kept AS (SELECT shard, user_id, cnt FROM r WHERE rk <= {k}),
m AS (
  SELECT kept.user_id,
         CAST(SUM(kept.cnt) AS BIGINT) AS est,
         CAST(SUM(thr.thr) AS BIGINT) AS present_thr
  FROM kept JOIN thr ON kept.shard = thr.shard
  GROUP BY kept.user_id
),
ranked AS (
  SELECT m.user_id, m.est,
         m.est + (tot.total_thr - m.present_thr) AS upper_bound,
         ROW_NUMBER() OVER (ORDER BY m.est DESC, m.user_id) AS rank
  FROM m CROSS JOIN tot
)
SELECT user_id, est, upper_bound, rank
FROM ranked WHERE rank <= {top}
ORDER BY rank
"""


@register("sketch_heavy_hitters", oracle=_hh_oracle())
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items (heavy-hitters) rollup: each shard keeps
    its exact top-k item counts plus the (k+1)-th count as the drop
    threshold; the merge sums an item's kept counts (est = a certain
    LOWER bound on its true count) and adds the thresholds of shards
    that dropped it (upper_bound — the most its unseen occurrences
    could contribute). The interval [est, upper_bound] always contains
    the true count (pinned against exact counts in test_approx.py for
    every sharding), which is what makes shard→day→global top-N safe
    without re-scanning raw data — same contract as the HLL and
    quantile sketches beside it. Shards split by event_id (a
    data-partition stand-in), so each item's occurrences scatter
    across shards and the merge genuinely reassembles partial counts —
    sharding by the item key would make every per-item count exact and
    the merge vacuous.

    Scale: ONE event-volume shuffle (the (shard, item) exact-count
    groupBy, map-side partial); the rank window and merge run on the
    distinct (shard, item) table and the S·k kept rows. The final
    global rank window orders ≤ S·k rows — driver-trivial. All-integer
    arithmetic end to end ⇒ full value-hash oracle."""
    return _heavy_hitters(
        table(spark, sf_dir, "events").select("event_id", "user_id"),
        _HH_K,
        _HH_SHARDS,
        _HH_TOP,
    )


def _heavy_hitters(e: DataFrame, k: int, s: int, top: int) -> DataFrame:
    """Core of sketch_heavy_hitters, parameterized so tests can pin the
    [est, upper_bound] containment guarantee under different shardings:
    exact (shard, item) counts → per-shard summaries → one fold → the
    rank tail."""
    c = e.groupBy(
        F.pmod(col("event_id"), F.lit(s)).alias("shard"), col("user_id").alias("item")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return hh_rank(hh_fold(hh_summary(c, k)), top, "user_id")


def hh_summary(c: DataFrame, k: int) -> DataFrame:
    """The per-shard half of the heavy-hitters sketch, over exact
    (shard, item, cnt) counts: each shard's top-k rows (item, cnt, thr)
    by (cnt DESC, item), thr = the shard's (k+1)-th count (0 when it
    holds ≤ k items), plus one ledger row (NULL item, NULL cnt, thr) per
    shard that carries its threshold into total_thr. Only each shard's
    top k+1 survive the rank (Spark applies the limit before the
    shuffle; for one shard it is a TakeOrdered), and thr is a window
    max over those rows: no join, no broadcast."""
    wr = Window.partitionBy("shard").orderBy(col("cnt").desc(), col("item"))
    r = c.withColumn("rk", F.row_number().over(wr)).filter(col("rk") <= k + 1)
    thr = F.max(F.when(col("rk") == k + 1, col("cnt"))).over(Window.partitionBy("shard"))
    r = r.withColumn("thr", F.coalesce(thr, F.lit(0)))
    ledger = r.filter(col("rk") == 1).select(
        F.lit(None).cast(c.schema["item"].dataType).alias("item"),
        F.lit(None).cast("long").alias("cnt"),
        "thr",
    )
    return r.filter(col("rk") <= k).select("item", "cnt", "thr").unionByName(ledger)


def hh_fold(rows: DataFrame) -> DataFrame:
    """The merge half: (item, cnt, thr) rows of any number of shard
    summaries and earlier folds → one row per item with cnt = est (the
    sum of its kept counts) and thr = present_thr (the thresholds of the
    shards that kept it), and one ledger row (cnt NULL) with thr =
    total_thr. Sums only, so a fold of folds equals one fold of every
    summary: shards, micro-batches and time merge alike."""
    return (
        rows.groupBy("item", col("cnt").isNull().alias("_ledger"))
        .agg(F.sum("cnt").alias("cnt"), F.sum("thr").alias("thr"))
        .drop("_ledger")
    )


def hh_rank(folded: DataFrame, top: int, name: str = "item") -> DataFrame:
    """The rank tail of a fold: the `top` items by (est DESC, item) with
    upper_bound = est + total_thr - present_thr (the most the shards
    that dropped the item could have missed) and their rank. Orders
    ≤ S·k rows — driver-trivial."""
    tot = folded.filter(col("cnt").isNull()).select(col("thr").alias("total_thr"))
    wg = Window.orderBy(col("cnt").desc(), col("item"))
    return (
        folded.filter(col("cnt").isNotNull())
        .crossJoin(broadcast(tot))
        .withColumn("rank", F.row_number().over(wg))
        .filter(col("rank") <= top)
        .select(
            col("item").alias(name),
            col("cnt").alias("est"),
            (col("cnt") + col("total_thr") - col("thr")).alias("upper_bound"),
            "rank",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# skyline_pareto — 2-D Pareto frontier (dominance skyline)
# ---------------------------------------------------------------------------

# The SKYLINE operator (Börzsönyi et al., ICDE 2001): keep every part
# not dominated on (minimize price, maximize size). The oracle states
# the dominance predicate directly as NOT EXISTS — quadratic but
# unambiguous; the Spark plan is the O(n log n) sort-based algorithm.

_SKYLINE_ORACLE = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p.p_partkey
"""


@register("skyline_pareto", oracle=_SKYLINE_ORACLE)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier via the sort-based skyline: a part survives iff
    (a) it has the max size AT its price point and (b) its size
    strictly exceeds the max size over all strictly-cheaper prices.
    Equal (price, size) rows are mutually non-dominating — all kept.

    Plan: one shuffle to the per-price max (map-side partial), a
    running-max window over the DISTINCT-PRICE table, and a join back
    to the parts. The window is global-ordered but runs on the
    price-DOMAIN table, not the data: a 2-decimal bounded price domain
    is ≤ ~1M rows no matter how many parts exist, so the single-
    partition sort is domain-sized, never 100 TB-sized. The join back
    broadcasts the frontier-threshold table for the same reason.
    Everything is comparison-only — no float arithmetic, so double
    prices compare identically in both engines."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    pmax = p.groupBy("p_retailprice").agg(F.max("p_size").alias("pmax"))
    prev = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    thresh = pmax.withColumn("prev_max", F.max("pmax").over(prev))
    keep = (
        (col("p_size") == col("pmax"))
        & (col("prev_max").isNull() | (col("p_size") > col("prev_max")))
    )
    return (
        p.join(F.broadcast(thresh), "p_retailprice")
        .filter(keep)
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# try_funcs — error-tolerant scalar surface (dirty-data evaluation)
# ---------------------------------------------------------------------------

# The loader's per-cell philosophy (cast failures become NULL, never
# task failures — write.go:207-223's precedence) generalized to the
# expression layer: try_cast / try_divide / try_to_timestamp return
# NULL where their strict twins would raise or poison a batch. The
# probe values are synthesized from order columns so every branch
# (success, failure, NULL propagation) is exercised on real rows.

_TRY_ORACLE = """
SELECT o_orderkey,
  TRY_CAST(raw_int AS BIGINT) AS as_int,
  TRY_CAST(raw_num AS DOUBLE) AS as_double,
  TRY_CAST(raw_date AS TIMESTAMP) AS as_ts,
  CASE WHEN o_orderkey % 7 = 0 THEN NULL
       ELSE o_totalprice / (o_orderkey % 7) END AS safe_div,
  TRY_CAST(CASE WHEN o_orderstatus = 'O' THEN 'not a number'
                ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS mixed
FROM (
  SELECT o_orderkey, o_totalprice, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0 THEN 'x' || CAST(o_orderkey AS VARCHAR)
              ELSE CAST(o_orderkey AS VARCHAR) END AS raw_int,
         CASE WHEN o_orderkey % 4 = 0 THEN '1.5e3'
              WHEN o_orderkey % 4 = 1 THEN 'NaNish'
              ELSE CAST(o_totalprice AS VARCHAR) END AS raw_num,
         CASE WHEN o_orderkey % 5 = 0 THEN '2024-02-30 00:00:00'
              ELSE '2024-01-15 12:30:00' END AS raw_date
  FROM orders
)
ORDER BY o_orderkey
"""


@register("try_funcs", oracle=_TRY_ORACLE)
def try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-on-error evaluation: malformed ints, unparseable numbers,
    impossible dates (Feb 30), and division guarded against zero — the
    per-row failure containment a loader needs so one bad cell costs
    one NULL, not a 100 TB job retry. Pure codegen map, zero shuffles;
    try_divide's zero case is expressed as the same CASE both engines
    evaluate identically (DuckDB's `/` raises on zero only for
    integers, so the guard IS the portable form)."""
    o = table(spark, sf_dir, "orders")
    raw_int = F.when(
        col("o_orderkey") % 3 == 0,
        F.concat(F.lit("x"), col("o_orderkey").cast("string")),
    ).otherwise(col("o_orderkey").cast("string"))
    raw_num = (
        F.when(col("o_orderkey") % 4 == 0, F.lit("1.5e3"))
        .when(col("o_orderkey") % 4 == 1, F.lit("NaNish"))
        .otherwise(col("o_totalprice").cast("string"))
    )
    raw_date = F.when(
        col("o_orderkey") % 5 == 0, F.lit("2024-02-30 00:00:00")
    ).otherwise(F.lit("2024-01-15 12:30:00"))
    mixed_src = F.when(col("o_orderstatus") == "O", F.lit("not a number")).otherwise(
        col("o_orderkey").cast("string")
    )
    return o.select(
        "o_orderkey",
        raw_int.try_cast("bigint").alias("as_int"),
        raw_num.try_cast("double").alias("as_double"),
        raw_date.try_cast("timestamp").alias("as_ts"),
        F.when(col("o_orderkey") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(col("o_totalprice") / (col("o_orderkey") % 7))
        .alias("safe_div"),
        mixed_src.try_cast("bigint").alias("mixed"),
    )


# ---------------------------------------------------------------------------
# agg_incremental_merge — incremental view maintenance (partial-agg merge)
# ---------------------------------------------------------------------------

# The daily-ingest aggregate pattern: yesterday's materialized partial
# aggregates + today's batch, MERGED — never a full recompute. The
# oracle IS the full recompute over the union, so a green row proves
# the maintenance algebra (count/sum are mergeable; avg derives from
# them) gives bit-identical results to rebuilding from scratch.

_IVM_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS qty_cents,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 100.0 AS avg_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_incremental_merge", oracle=_IVM_ORACLE)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a grouped aggregate: the table is
    split into a BASE (the standing materialized state, 90% of rows)
    and a DELTA batch (today's ingest, l_orderkey % 10 == 0), each
    aggregated independently, then merged per key with the partial-
    aggregate algebra — n = n_b + n_d, sum = sum_b + sum_d, avg
    re-derived from the merged sums. The oracle recomputes from the
    full table, so the hash match IS the maintenance-correctness proof.

    Scale shape: the delta aggregate scans only the batch (pushed-down
    filter), the merge is a grouped-key-sized FULL OUTER join (a key
    may exist in only one side), and sums ride exact integer cents so
    merged and recomputed results agree bitwise. At 100 TB the base agg
    is a stored table read back, not a scan — the plan shape from the
    merge onward is identical."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.round(col("l_quantity") * 100).cast("long").alias("qc"),
    )

    def _partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"), F.sum("qc").alias("qty_cents")
        )

    base = _partial(li.filter(col("l_orderkey") % 10 != 0))
    delta = _partial(li.filter(col("l_orderkey") % 10 == 0))
    merged = merge_partials(base, delta, "l_returnflag", ("n", "qty_cents"))
    return merged.select(
        "l_returnflag",
        "n",
        "qty_cents",
        (col("qty_cents").cast("double") / col("n") / F.lit(100.0)).alias("avg_qty"),
    ).orderBy("l_returnflag")


def merge_partials(state: DataFrame, part: DataFrame, key: str, cols) -> DataFrame:
    """The partial-aggregate merge of agg_incremental_merge and
    continuous_agg_sink: per `key`, each mergeable partial in `cols`
    (counts, exact integer sums) is its value in `state` plus its value
    in `part`. A grouped-key-sized FULL OUTER join, since a key may sit
    on one side only."""
    s = state.select(key, *(col(c).alias(f"_s_{c}") for c in cols))
    p = part.select(key, *(col(c).alias(f"_p_{c}") for c in cols))
    return s.join(p, key, "full_outer").select(
        key,
        *(
            (
                F.coalesce(col(f"_s_{c}"), F.lit(0))
                + F.coalesce(col(f"_p_{c}"), F.lit(0))
            ).alias(c)
            for c in cols
        ),
    )


# ---------------------------------------------------------------------------
# decile_bands — equal-frequency binning (per-group NTILE band profile)
# ---------------------------------------------------------------------------

_BANDS = 10

def _bands_oracle() -> str:
    from cqlcopy_spark.functions.portable import sql_block_fold_agg

    inner = sql_block_fold_agg(
        f"""SELECT event_type, event_id, value,
       NTILE({_BANDS}) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS band
FROM events""",
        ["event_type", "band"],
        "event_id",
        sums={"_s": "value"},
        mins={"lo": "value"},
        maxs={"hi": "value"},
    )
    return f"""
WITH s AS ({inner})
SELECT event_type, band, n, lo, hi, _s / n AS band_mean
FROM s
ORDER BY event_type, band
"""


_BANDS_ORACLE = _bands_oracle()


@register("decile_bands", oracle=_BANDS_ORACLE)
def decile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-FREQUENCY binning (feature-engineering quantile bands):
    each group's values split into 10 same-size rank bands via NTILE
    over the (value, event_id)-tiebroken order, then a per-band profile
    (count, bounds, mean). This is the binning a feature pipeline
    prefers over equal-width histograms for skewed measures —
    agg_histogram covers the equal-width variant.

    Portability: NTILE's bucket rule (first n mod k buckets take the
    extra row) is the same in both engines given a total tiebroken
    order; band means use the deterministic-order fixed-block fold tree
    (portable.block_fold_agg — values are full-precision doubles, the
    decimal route diverges, see similarity.py's centroid note), which
    also bounds task state under a hot event_type to max(block,
    n/block²) instead of the band's whole value list. Plan: ONE
    shuffle on event_type serves the ntile window, the fold's rank
    window, and all three (type, band)-keyed fold levels."""
    from cqlcopy_spark.functions.portable import block_fold_agg

    e = table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    band = F.ntile(_BANDS).over(
        Window.partitionBy("event_type").orderBy("value", "event_id")
    )
    s = block_fold_agg(
        e.withColumn("band", band),
        ["event_type", "band"],
        "event_id",
        sums={"_s": col("value")},
        mins={"lo": col("value")},
        maxs={"hi": col("value")},
    )
    return s.select(
        "event_type",
        "band",
        "n",
        "lo",
        "hi",
        (col("_s") / col("n")).alias("band_mean"),
    ).orderBy("event_type", "band")


# ---------------------------------------------------------------------------
# approx_bounds_verify — driver-checkable accuracy claims for agg_approx
# ---------------------------------------------------------------------------

# agg_approx stays rows-only (sketch register layouts are engine-
# specific) but its ACCURACY claims are checkable by the same
# empty-relation discipline as similarity_ann_verify: Spark's sketches
# are DETERMINISTIC given the data, so comparing them against the exact
# values computed in the same query either always passes or always
# fails at a given SF — no flake risk — and any violation row flips the
# driver's verdict against the empty oracle.

_APPROX_RSD = 0.02
_APPROX_DISTINCT_TOL = 5 * _APPROX_RSD  # 5σ of the documented rsd
_APPROX_PCT_ACCURACY = 10000  # percentile_approx accuracy parameter

_APPROX_VERIFY_ORACLE = """
SELECT CAST(NULL AS VARCHAR) AS o_orderpriority, CAST(NULL AS VARCHAR) AS kind
WHERE 1 = 0
"""


@register("approx_bounds_verify", oracle=_APPROX_VERIFY_ORACLE)
def approx_bounds_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violations of agg_approx's accuracy contract, expected EMPTY:
    per group, approx_count_distinct(rsd=0.02) must sit within 5σ of
    the exact distinct count, and percentile_approx(0.5, 10000)'s
    tie-run of true ranks must intersect the median rank window at
    ceil(n / accuracy) + 1. Exact references are computed in the same
    query (two-phase exact distinct; the percentile's tie-run ranks as
    plain conditional counts — no sort or window needed) — one orders
    scan feeds both sides."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey", "o_orderkey", "o_totalprice"
    )
    approx = o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=_APPROX_RSD).alias("ad"),
        F.percentile_approx(
            "o_totalprice", 0.5, _APPROX_PCT_ACCURACY
        ).alias("ap"),
    )
    exact_d = (
        o.groupBy("o_orderpriority", "o_custkey")
        .agg(F.lit(1).alias("_1"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("ed"))
    )
    ranked = o.select("o_orderpriority", "o_totalprice")
    j = approx.join(exact_d, "o_orderpriority")
    bad_distinct = j.filter(
        F.abs(col("ad") - col("ed"))
        > F.lit(_APPROX_DISTINCT_TOL) * col("ed")
    ).select("o_orderpriority", F.lit("distinct_out_of_bounds").alias("kind"))
    # percentile: the approx median's tie-run of ranks must intersect
    # [ceil(n/2) - tol, ceil(n/2) + tol], tol = ceil(n/accuracy) + 1
    pr = ranked.join(broadcast(approx.select("o_orderpriority", "ap")), "o_orderpriority")
    runs = pr.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.when(col("o_totalprice") < col("ap"), 1)) + 1).alias("lo_rank"),
        F.count(F.when(col("o_totalprice") <= col("ap"), 1)).alias("hi_rank"),
    )
    target = F.ceil(col("n") / 2)
    tol = F.ceil(col("n") / _APPROX_PCT_ACCURACY) + 1
    bad_pct = runs.filter(
        (col("lo_rank") > target + tol) | (col("hi_rank") < target - tol)
    ).select("o_orderpriority", F.lit("median_rank_out_of_bounds").alias("kind"))
    return bad_distinct.unionByName(bad_pct).orderBy("o_orderpriority", "kind")


# ---------------------------------------------------------------------------
# sketch_distinct_verify — driver-red escape hatch for the HLL sketch op
# ---------------------------------------------------------------------------

# sketch_distinct_users is rows-only (DataSketches estimates have no
# DuckDB twin); this companion turns its contracts into a driver-checkable
# empty relation, the same pattern as approx_bounds_verify /
# graph_pagerank_verify. The decisive invariant is MERGEABILITY: HLL
# register updates are order-insensitive maxes, so union-of-per-type
# sketches must estimate BITWISE identically to one whole-scan sketch —
# any resharding bug breaks this exactly, no tolerance involved. The
# accuracy invariants bound per-type and global estimates against exact
# two-phase distinct counts at 5σ of the documented rsd.

_HLL_RSD = 0.01625  # 1.04 / sqrt(2^12): default lgConfigK = 12
_HLL_TOL = 5 * _HLL_RSD

_SKETCH_VERIFY_ORACLE = """
SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS event_type,
       CAST(NULL AS DOUBLE) AS metric
WHERE 1 = 0
"""


def _sketch_distinct_violations(
    spark: SparkSession,
    sf_dir: str,
    tol: float = _HLL_TOL,
    got: "DataFrame | None" = None,
) -> DataFrame:
    """Invariant violations of sketch_distinct_users' ACTUAL output
    (empty iff sound) — the verify consumes the op's rows, it does not
    re-derive them, so a regression in the op itself (wrong grouping,
    dropped 'ALL' row, an extra filter) fires here and flips the driver
    red. `got` substitutes a doctored output frame and a negative `tol`
    trips both accuracy checks (planted-corruption liveness tests).

    Invariants, all recomputed independently of the op:
    - per-type row set == the exact per-type distinct row set (missing,
      extra, DUPLICATED, or NULL-typed rows each emit a violation — a
      full-outer join alone would let a doubled row inner-match and a
      NULL key slip both equality filters);
    - per-type estimate within tol of the exact distinct;
    - exactly ONE 'ALL' row, bitwise equal to an independently built
      whole-scan sketch estimate (union-of-parts == sketch-of-whole is
      HLL's register-max mergeability — the claim the op rides at
      100 TB) and within tol of the exact global distinct."""
    if got is None:
        got = sketch_distinct_users(spark, sf_dir)
    got = got.persist()  # feeds the per-type branch + the ALL branch
    e = table(spark, sf_dir, "events").select("event_type", "user_id")
    whole_est = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("w_est")
    )
    # exact distinct counts, two-phase (no Expand-plan countDistinct).
    # hll_sketch_agg IGNORES NULL inputs, so the exact references count
    # only non-NULL user_ids (F.count(col) skips NULLs after the pair
    # dedup) — counting the NULL pair would drift exact vs estimate by
    # one per type and skew the 5σ bound; the type itself stays present
    # (ed = 0) even when every user_id in it is NULL, matching the op's
    # groupBy over the unfiltered relation.
    exact = (
        e.groupBy("event_type", "user_id")
        .agg(F.lit(1).alias("_1"))
        .groupBy("event_type")
        .agg(F.count(col("user_id")).alias("ed"))
    )
    exact_all = (
        e.select("user_id")
        .distinct()
        .agg(F.count(col("user_id")).alias("ea"))
    )

    types = got.filter(col("event_type") != "ALL")
    bad_dup = (
        types.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(col("n_rows") > 1)
        .select(
            F.lit("duplicate_type_row").alias("kind"),
            "event_type",
            col("n_rows").cast("double").alias("metric"),
        )
    )
    bad_null = got.filter(col("event_type").isNull()).select(
        F.lit("null_type_row").alias("kind"),
        "event_type",
        col("approx_users").cast("double").alias("metric"),
    )
    bad_type = (
        types.join(exact, "event_type", "full_outer")
        .filter(
            col("approx_users").isNull()
            | col("ed").isNull()
            | (F.abs(col("approx_users") - col("ed")) > F.lit(tol) * col("ed"))
        )
        .select(
            F.when(col("approx_users").isNull(), F.lit("missing_type_row"))
            .when(col("ed").isNull(), F.lit("extra_type_row"))
            .otherwise(F.lit("type_estimate_out_of_bounds"))
            .alias("kind"),
            "event_type",
            col("approx_users").cast("double").alias("metric"),
        )
    )
    g = (
        got.filter(col("event_type") == "ALL")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.max("approx_users").alias("u_est"),
        )
        .crossJoin(broadcast(whole_est))
        .crossJoin(broadcast(exact_all))
    )
    bad_shape = g.filter(col("n_all") != 1).select(
        F.lit("all_row_count_wrong").alias("kind"),
        F.lit(None).cast("string").alias("event_type"),
        col("n_all").cast("double").alias("metric"),
    )
    bad_merge = g.filter(
        (col("n_all") == 1) & ~col("u_est").eqNullSafe(col("w_est"))
    ).select(
        F.lit("union_not_bitwise_equal_to_whole").alias("kind"),
        F.lit(None).cast("string").alias("event_type"),
        col("u_est").cast("double").alias("metric"),
    )
    bad_global = g.filter(
        (col("n_all") == 1)
        & (F.abs(col("u_est") - col("ea")) > F.lit(tol) * col("ea"))
    ).select(
        F.lit("global_estimate_out_of_bounds").alias("kind"),
        F.lit(None).cast("string").alias("event_type"),
        col("u_est").cast("double").alias("metric"),
    )
    return (
        bad_type.unionByName(bad_dup)
        .unionByName(bad_null)
        .unionByName(bad_shape)
        .unionByName(bad_merge)
        .unionByName(bad_global)
        .orderBy("kind", "event_type")
    )


@register("sketch_distinct_verify", oracle=_SKETCH_VERIFY_ORACLE)
def sketch_distinct_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-relation verification of sketch_distinct_users (see
    _sketch_distinct_violations for the invariants): the driver's
    row-count + hash compare flips red on any violation. Cost: one
    extra events scan for the exact references — verification price,
    same class as approx_bounds_verify."""
    return _sketch_distinct_violations(spark, sf_dir)


# ---------------------------------------------------------------------------
# order_statistic_select — exact k-th order statistic WITHOUT a global sort
# ---------------------------------------------------------------------------

# Exact global median/percentile at 100 TB: a global orderBy is one
# range-partitioned sort of the whole column, but a SELECTION only needs
# the k-th value — iterative histogram narrowing (the classic external
# quickselect) finds it in a few counting passes whose shuffle is
# #buckets integers, with a final tiny collect inside the winning
# bucket. The answer is a VALUE PICKED FROM THE DATA (never computed),
# so no float-arithmetic parity question can arise — the only cross-
# engine surface is the k definition, exact integer arithmetic.
_OSEL_BUCKETS = 4096
# Final in-bucket collect bound. 10k keeps the driver collect trivial
# AND forces the sf0.01 driver check (60k rows) through a real
# histogram-narrowing pass instead of degenerating to collect-all.
_OSEL_COLLECT_CAP = 10_000

_OSEL_ORACLE = """
WITH v AS (
  SELECT l_extendedprice AS val FROM lineitem
  WHERE l_extendedprice IS NOT NULL
),
n AS (SELECT COUNT(*) AS c FROM v)
SELECT 'p50' AS stat,
       CAST((c + 1) // 2 AS BIGINT) AS k,
       CAST(c AS BIGINT) AS n,
       (SELECT val FROM v ORDER BY val
        LIMIT 1 OFFSET ((SELECT (c + 1) // 2 FROM n) - 1)) AS value
FROM n
UNION ALL
SELECT 'p90',
       CAST((9 * c + 9) // 10 AS BIGINT),
       CAST(c AS BIGINT),
       (SELECT val FROM v ORDER BY val
        LIMIT 1 OFFSET ((SELECT (9 * c + 9) // 10 FROM n) - 1))
FROM n
ORDER BY stat
"""


@register("order_statistic_select", oracle=_OSEL_ORACLE)
def order_statistic_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 of l_extendedprice by iterative histogram
    narrowing: count into {B} equal-width buckets over the live [lo, hi]
    range, walk the prefix to the bucket containing the k-th value,
    recurse into it until its population fits the collect cap, then pick
    the exact order statistic from the sorted in-bucket values.
    k = ceil(q·n) in exact integer arithmetic ((n+1)//2, (9n+9)//10).

    Scale shape: each pass is ONE partial-combining groupBy over a
    codegen'd bucket expression — the shuffle carries ≤{B} longs per
    task — and the recursion depth is log_B(n/cap) (two passes cover
    10^12 rows at B=4096, cap=200k). Driver state: one histogram + the
    final bucket's values. (n, lo, hi) come from ONE aggregate pass,
    and the level-0 histogram is computed ONCE and prefix-walked for
    every percentile target — only the narrowing below level 0 branches
    per target (r12 review finding: the naive form re-ran the identical
    full-corpus counting pass per percentile). The float bucket
    boundaries only ROUTE rows (both bounds come from the data, the
    answer is selected, not computed), so engine float parity is a
    non-issue by construction. The oracle's ORDER BY ... OFFSET
    formulation is the spec; this plan never sorts more than one
    bucket."""
    vals = (
        table(spark, sf_dir, "lineitem")
        .select(col("l_extendedprice").alias("val"))
        .filter(col("val").isNotNull())
        .persist()  # histogram passes + final collect all scan it
    )
    row = vals.agg(
        F.count("val").alias("n"), F.min("val").alias("lo"), F.max("val").alias("hi")
    ).first()
    n = row["n"]
    if n == 0:
        # degenerate empty input: lo/hi are NULL and float(None) would
        # TypeError before the n <= cap guard could help (r12 ADVICE).
        # Mirror the ORACLE's exact degenerate relation — its scalar
        # subqueries still emit one row per stat with a NULL value
        # (k = 0, n = 0), so an empty frame here would rows-mismatch
        # on any empty slice (r13 review finding).
        vals.unpersist()
        return spark.createDataFrame(
            [("p50", 0, 0, None), ("p90", 0, 0, None)],
            "stat string, k long, n long, value double",
        ).orderBy("stat")
    targets = {"p50": (n + 1) // 2, "p90": (9 * n + 9) // 10}
    lo, hi = float(row["lo"]), float(row["hi"])

    if n <= _OSEL_COLLECT_CAP or not (hi - lo) / _OSEL_BUCKETS > 0.0:
        # tiny or degenerate input: one shared exact resolution
        answers = {
            stat: _select_kth(vals, k, lo, hi) for stat, k in targets.items()
        }
    else:
        # shared level-0 histogram: one counting pass serves every target
        width = (hi - lo) / _OSEL_BUCKETS
        b = F.greatest(
            F.lit(0),
            F.least(
                F.floor((col("val") - F.lit(lo)) / F.lit(width)).cast("int"),
                F.lit(_OSEL_BUCKETS - 1),
            ),
        )
        hist = dict(vals.groupBy(b.alias("b")).count().collect())
        answers = {}
        for stat, k in targets.items():
            acc = 0
            for i in range(_OSEL_BUCKETS):
                c = hist.get(i, 0)
                if acc + c >= k:
                    answers[stat] = _select_kth(
                        vals,
                        k,
                        lo + i * width,
                        hi if i == _OSEL_BUCKETS - 1 else lo + (i + 1) * width,
                        pred=(b == i),
                        skipped=acc,
                    )
                    break
                acc += c
    out = [(stat, k, n, answers[stat]) for stat, k in sorted(targets.items())]
    vals.unpersist()
    return spark.createDataFrame(
        out, "stat string, k long, n long, value double"
    ).orderBy("stat")


def _select_kth(
    vals: DataFrame,
    k: int,
    lo: float,
    hi: float,
    buckets: int = _OSEL_BUCKETS,
    cap: int = _OSEL_COLLECT_CAP,
    pred: "F.Column | None" = None,
    skipped: int = 0,
) -> float:
    """External-quickselect kernel over a (val double) frame: the k-th
    smallest value overall (1-based; [lo, hi] are the data's min/max).
    Factored with (buckets, cap) knobs so the property fuzz can force
    multi-level recursion on small synthetic frames
    (tests/test_order_statistic.py).

    Membership/count consistency: each narrowing level filters by the
    EXACT bucket expression the histogram counted (the predicate chain
    accumulates `floor-expr == i` terms), never by a reconstructed
    [lo2, hi2] range — float roundoff at a bucket boundary could put a
    value on different sides of `floor((v-lo)/width) == i` and
    `v >= lo + i*width`, silently shifting the selected position by
    one. (lo, hi) after the first level are only SEEDS for the next
    width; the clamped floor keeps any boundary stragglers countable.
    A massive tie eventually collapses width below float resolution —
    the degenerate branch resolves it from the (val, count) histogram,
    which is at most a couple of rows no matter how many duplicates.

    (pred, skipped) seed a narrowing already in progress — the op's
    shared level-0 histogram hands each percentile its own starting
    bucket so the first full-corpus counting pass runs once, not once
    per target."""
    if pred is None:
        pred = F.lit(True)
    while True:
        cur = vals.filter(pred)
        cnt = cur.count()
        if cnt <= cap:
            in_bucket = sorted(r["val"] for r in cur.collect())
            return in_bucket[k - skipped - 1]
        width = (hi - lo) / buckets
        if not width > 0.0:  # interval below float resolution: resolve
            dv = sorted(  # from the tiny distinct-value histogram
                (r["val"], r["count"])
                for r in cur.groupBy("val").count().collect()
            )
            acc = skipped
            for v, c in dv:
                if acc + c >= k:
                    return v
                acc += c
            return dv[-1][0]  # unreachable when k ≤ skipped + cnt
        b = F.greatest(
            F.lit(0),
            F.least(
                F.floor((col("val") - F.lit(lo)) / F.lit(width)).cast("int"),
                F.lit(buckets - 1),
            ),
        )
        hist = dict(cur.groupBy(b.alias("b")).count().collect())  # ≤ B rows
        acc = skipped
        for i in range(buckets):
            c = hist.get(i, 0)
            if acc + c >= k:
                pred = pred & (b == i)  # the SAME expr the count used
                lo, hi = (
                    lo + i * width,
                    hi if i == buckets - 1 else lo + (i + 1) * width,
                )
                skipped = acc
                break
            acc += c
