"""Relational operator surface (SURVEY.md §2B/§2C ops 23-28).

The reference (riptl/cqlcopy) implements none of these — it is a bulk
loader (SURVEY.md §0) — so these are the mandated extension operators,
written declaratively so Catalyst picks the physical strategy:

- filters/projections push down into the parquet scan (check
  `PushedFilters` in .explain),
- small dimension joins are explicitly broadcast (no shuffle of the fact
  table for dim lookups),
- the one large join (lineitem ⋈ orders) shuffles on the join key with
  AQE skew handling,
- aggregations get map-side partial aggregation for free.

Scale posture at 100 TB: every query here is a scan → (broadcast-)join →
partial-agg → shuffle-by-group-key → final-agg pipeline whose shuffle
volume is the aggregated groups, not the fact rows, except
`filter_predicate` (pure scan, pushdown does the work) and `window_topk`
(single shuffle on the partition key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from cqlcopy_spark.catalog import table
from cqlcopy_spark.functions.portable import (
    cents,
    davg,
    dsum,
    exact_sum,
    sql_cents,
    sql_davg,
    sql_dsum,
    sql_exact_sum,
)
from cqlcopy_spark.functions.skew import keep_min_by
from cqlcopy_spark.plans.registry import register

# ---------------------------------------------------------------------------
# op 24: agg_pricing_summary — TPC-H Q1-style grouped aggregation
# ---------------------------------------------------------------------------

# Exact integer-moment formulation: prices/discounts/taxes are exactly
# 2-decimal and quantities integral in this schema, so every Q1 measure
# is an integer-cents sum — decimal(38,0) Spark-side, SUM(BIGINT)→
# HUGEINT oracle-side, each converted to double once per GROUP via the
# varchar route (portable.py). vs the decimal(38,10)-per-row dsum route
# this keeps whole-stage codegen in long arithmetic (measured 2.3× on
# agg_stats) and the sums are EXACT rationals, not sums of rounded
# per-row doubles. Per-row product bound: pc·(100−dc)·(100+tc) ≤ ~1.2e11
# — int64-safe for prices to ~$3e7.
_Q1_ORACLE = """
WITH s AS (
  SELECT
    l_returnflag, l_linestatus,
    COUNT(*) AS n,
    CAST(CAST(SUM(CAST(l_quantity AS BIGINT)) AS VARCHAR) AS DOUBLE) AS sq,
    CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS VARCHAR) AS DOUBLE) AS sp,
    CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS VARCHAR) AS DOUBLE) AS sdp,
    CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS VARCHAR) AS DOUBLE) AS sch,
    CAST(CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS VARCHAR) AS DOUBLE) AS sd
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  GROUP BY l_returnflag, l_linestatus
)
SELECT
  l_returnflag,
  l_linestatus,
  sq AS sum_qty,
  sp / 100.0 AS sum_base_price,
  sdp / 10000.0 AS sum_disc_price,
  sch / 1000000.0 AS sum_charge,
  sq / n AS avg_qty,
  sp / n / 100.0 AS avg_price,
  sd / n / 100.0 AS avg_disc,
  n AS count_order
FROM s
ORDER BY l_returnflag, l_linestatus
"""


@register("agg_pricing_summary", oracle=_Q1_ORACLE)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan→filter→hash-agg→sort. Filter and the 7-column projection push
    into the parquet scan; sums accumulate map-side before one shuffle on
    the 2-column group key (≤ 6 groups at any scale). Measures are EXACT
    integer-cents moments (see the oracle comment above): long
    arithmetic per row, overflow-proof decimal(38,0) accumulation, one
    varchar-exact double conversion per group."""
    li = table(spark, sf_dir, "lineitem")
    qc = col("l_quantity").cast("long")
    pc = cents(col("l_extendedprice"))
    dc = cents(col("l_discount"))
    tc = cents(col("l_tax"))
    s = (
        li.filter(col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            exact_sum(qc).alias("sq"),
            exact_sum(pc).alias("sp"),
            exact_sum(pc * (100 - dc)).alias("sdp"),
            exact_sum(pc * (100 - dc) * (100 + tc)).alias("sch"),
            exact_sum(dc).alias("sd"),
        )
    )
    n = col("n")
    return s.select(
        "l_returnflag",
        "l_linestatus",
        col("sq").alias("sum_qty"),
        (col("sp") / 100.0).alias("sum_base_price"),
        (col("sdp") / 10000.0).alias("sum_disc_price"),
        (col("sch") / 1000000.0).alias("sum_charge"),
        (col("sq") / n).alias("avg_qty"),
        (col("sp") / n / 100.0).alias("avg_price"),
        (col("sd") / n / 100.0).alias("avg_disc"),
        n.alias("count_order"),
    ).orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# op 23: filter_predicate — pushdown-eligible WHERE surface
# ---------------------------------------------------------------------------

_FILTER_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("filter_predicate", oracle=_FILTER_ORACLE)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped predicate set. All four predicates and the 5-column
    projection reach the parquet reader (PushedFilters + ReadSchema) — at
    100 TB this is the difference between scanning ~2% and 100% of bytes."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (col("l_discount") >= 0.05)
        & (col("l_discount") <= 0.07)
        & (col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")


# ---------------------------------------------------------------------------
# op 25: join_star — multi-way star join with broadcast dims
# ---------------------------------------------------------------------------

_STAR_ORACLE = f"""
SELECT
  r.r_name,
  n.n_name,
  {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
  COUNT(*) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r.r_name, n.n_name
ORDER BY r.r_name, n.n_name
"""


@register("join_star", oracle=_STAR_ORACLE)
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region/nation. Physical shape: ONE shuffle join
    (lineitem ⋈ orders on orderkey, both large) and three broadcast hash
    joins for customer/nation/region — the fact table is never shuffled
    for a dimension lookup. nation/region are HINTED (cardinality is
    fixed, broadcast at any SF); customer is deliberately UNHINTED —
    it scales with SF, and an explicit broadcast() hint is honored
    unconditionally (no AQE size fallback exists for hints), which at
    100 TB would hit the 8 GB broadcast limit. Unhinted, AQE broadcasts
    it while small and flips that one edge to a shuffle join when it
    outgrows the threshold (join_q10_returned encodes the same
    posture)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        (col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        li.join(orders, col("l_orderkey") == col("o_orderkey"))
        .join(cust, col("o_custkey") == col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") == col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") == col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum(col("l_extendedprice") * (1 - col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# sql_shipping_priority — the spark.sql() text interface (TPC-H Q3 shape)
# ---------------------------------------------------------------------------

# ONE SQL string, executed verbatim by BOTH engines — the engine's SQL
# text surface demonstrated at dialect intersection (STRING casts, typed
# TIMESTAMP literals, decimal-exact revenue). Deterministic LIMIT:
# l_orderkey is unique per group, so (revenue DESC, l_orderkey) totally
# orders the result.
_Q3_SQL = """
SELECT l_orderkey,
  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS STRING) AS DOUBLE) AS revenue,
  o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("sql_shipping_priority", oracle=_Q3_SQL)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape through spark.sql(): Catalyst plans the textual
    join exactly like the DataFrame form (broadcast customer, shuffle
    lineitem ⋈ orders, partial agg, TakeOrdered top-10). The oracle IS
    this query string — one text, two engines, hash-identical output."""
    from cqlcopy_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


# ---------------------------------------------------------------------------
# op 26: join_semi_anti — existence / absence in one query
# ---------------------------------------------------------------------------

_SEMI_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM customer c
WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
  AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


@register("join_semi_anti", oracle=_SEMI_ANTI_ORACLE)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (has a big order) chained with left_anti (never had an 'F'
    order). Both sides hash-join on o_custkey; semi/anti joins never
    materialize the probe side's payload — minimal shuffle width."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    big = orders.filter(col("o_totalprice") > 150000).select("o_custkey")
    failed = orders.filter(col("o_orderstatus") == "F").select("o_custkey")
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .join(failed, cust.c_custkey == failed.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# join_outer — full outer join with unmatched rows on both sides
# ---------------------------------------------------------------------------

_OUTER_ORACLE = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
FROM (SELECT * FROM customer WHERE c_acctbal > 0) c
FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o
  ON c.c_custkey = o.o_custkey
"""


@register("join_outer", oracle=_OUTER_ORACLE)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with genuine unmatched rows on BOTH sides
    (positive-balance customers vs big orders): null-extended rows in
    each direction. Physical shape: full outer forces a shuffle join
    (broadcast can't do full outer); one shuffle each side on the key."""
    cust = table(spark, sf_dir, "customer").filter(col("c_acctbal") > 0)
    orders = table(spark, sf_dir, "orders").filter(col("o_totalprice") > 200000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "full_outer"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# op 27: window_topk — top-k per group via window function
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn <= 3
"""


@register("window_topk", oracle=_TOPK_ORACLE)
def window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer. Deterministic tiebreak on
    o_orderkey (oracle-parity requirement: row_number over ties is
    otherwise engine-dependent). One shuffle on o_custkey; rank filter is
    applied before any further stage, so only k rows per key survive."""
    from pyspark.sql.window import Window

    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc(), col("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# agg_scalar_subquery — TPC-H Q17 shape (per-group threshold from a subquery)
# ---------------------------------------------------------------------------

_Q17_ORACLE = f"""
WITH lim AS (
  SELECT l_partkey,
         0.2 * ({sql_exact_sum('CAST(l_quantity AS BIGINT)')}
                / COUNT(l_quantity)) AS qty_lim
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       {sql_exact_sum(sql_cents('l.l_extendedprice'))} / 100.0 / 7.0 AS avg_yearly,
       COUNT(*) AS n_small_orders
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN lim t ON t.l_partkey = l.l_partkey
WHERE l.l_quantity < t.qty_lim
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


@register("agg_scalar_subquery", oracle=_Q17_ORACLE)
def agg_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items below 20% of their part's
    average quantity — the correlated-scalar-subquery class, decorrelated
    by hand into aggregate-then-join (exactly what Catalyst's subquery
    decorrelation produces). Two scans of lineitem (threshold + probe),
    one shuffle join on partkey; part is deliberately UNHINTED — it
    grows with SF, and an explicit broadcast() hint has no size
    fallback at the 8 GB broadcast ceiling (the join_star rule, see
    its docstring). Static parquet stats / AQE pick the broadcast
    side while part is small and degrade to a shuffle join when it
    isn't. The 0.2·avg threshold
    is an exact-integer-moment expression identical on both sides, so
    the < comparison binds identically in both engines — no boundary
    flake."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    # integral quantities / 2-decimal prices: exact integer moments
    # (portable.py exact-sum route) replace the decimal-per-row sums;
    # the 0.2·avg threshold is the identical IEEE expression on both
    # sides, so the < comparison still binds without boundary flake
    lim = li.groupBy("l_partkey").agg(
        (
            0.2
            * (exact_sum(col("l_quantity").cast("long")) / F.count("l_quantity"))
        ).alias("qty_lim")
    )
    return (
        li.join(part, col("p_partkey") == col("l_partkey"))
        .join(lim.withColumnRenamed("l_partkey", "lim_partkey"),
              col("lim_partkey") == col("l_partkey"))
        .filter(col("l_quantity") < col("qty_lim"))
        .groupBy("p_brand")
        .agg(
            (exact_sum(cents(col("l_extendedprice"))) / 100.0 / 7.0).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_small_orders"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# merge_upsert — the CDC apply / MERGE INTO pattern
# ---------------------------------------------------------------------------

_MERGE_ORACLE = """
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 'N' AS o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 25 = 0
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM updates
UNION ALL
SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice
FROM orders b ANTI JOIN updates u ON b.o_orderkey = u.o_orderkey
"""


def apply_upsert(base: DataFrame, deltas: DataFrame, key: str) -> DataFrame:
    """The MERGE-INTO kernel: delta rows win on key, unmatched base rows
    survive (left-anti), new keys append. Shared by merge_upsert and the
    property fuzz (tests/test_cdc_property.py) so the resolution algebra
    is pinned against a pure-Python reference, not just one fixture.
    Precondition (merge_upsert's construction guarantees it; the fuzz
    exercises it explicitly): deltas carry at most one row per key —
    multi-version changelogs go through cdc_apply_changelog's seq-LWW
    instead."""
    kept = base.join(deltas.select(key), key, "left_anti")
    return deltas.unionByName(kept.select(*deltas.columns))


@register("merge_upsert", oracle=_MERGE_ORACLE)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) without a transactional table format: updated
    rows win, unmatched base rows survive (left-anti), inserts append —
    the CDC-apply pattern for plain-file lakes. One shuffle on the merge
    key; with the base bucketed on the key (tests/test_bucketing.py)
    even that disappears. Deltas here are synthesized deterministically
    from orders (10% price-bumped updates, 4% new keys)."""
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.filter(col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    inserts = base.filter(col("o_orderkey") % 25 == 0).select(
        (col("o_orderkey") + 100_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return apply_upsert(base, updates.unionByName(inserts), "o_orderkey")


# ---------------------------------------------------------------------------
# cdc_apply_changelog — multi-version changelog apply (LWW + deletes)
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH log AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         0 AS seq, 'B' AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, 'U1', o_totalprice * 1.05, 1, 'U'
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, 'U2', o_totalprice * 1.10, 2, 'U'
  FROM orders WHERE o_orderkey % 20 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 3, 'D'
  FROM orders WHERE o_orderkey % 50 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice, 1, 'I'
  FROM orders WHERE o_orderkey % 25 = 0
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
  FROM log
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, op AS last_op
FROM ranked WHERE rn = 1 AND op <> 'D'
"""


@register("cdc_apply_changelog", oracle=_CDC_ORACLE)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC changelog application — the multi-VERSION generalization
    of merge_upsert: a sequenced change stream (two update generations,
    delete markers, inserts) collapses onto the base snapshot by
    last-writer-wins. Base rows enter the log at seq 0, so ONE fold
    (keep_min_by ordered by seq DESC, the last-writer-wins fold
    continuous_cdc_sink and stream_cdc_apply share) resolves
    everything: the newest version wins, a winning delete marker erases
    the key, and untouched base rows survive as their own winners — no
    join, no window.

    Scale shape: one shuffle on the merge key, with partials combined
    map-side, so a hot key never funnels its versions into one window
    task; per-key state is the handful of versions in this batch, never
    history. Changelog synthesized
    deterministically from orders (10% updated, 5% updated twice, 2%
    deleted, 4% inserted) so the oracle is closed-form. seq is unique
    per key by construction — the fold needs no further tiebreak."""
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )

    def _version(pred, status, factor, seq, op, shift=0):
        src = base.filter(pred)
        return src.select(
            (col("o_orderkey") + shift).alias("o_orderkey"),
            "o_custkey",
            (F.lit(status) if status else col("o_orderstatus")).alias("o_orderstatus"),
            (col("o_totalprice") * factor if factor else col("o_totalprice")).alias(
                "o_totalprice"
            ),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
        )

    log = (
        base.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.lit(0).alias("seq"), F.lit("B").alias("op"),
        )
        .unionByName(_version(col("o_orderkey") % 10 == 0, "U1", 1.05, 1, "U"))
        .unionByName(_version(col("o_orderkey") % 20 == 0, "U2", 1.10, 2, "U"))
        .unionByName(_version(col("o_orderkey") % 50 == 0, None, None, 3, "D"))
        .unionByName(
            _version(col("o_orderkey") % 25 == 0, "N", None, 1, "I", shift=100_000_000)
        )
    )
    return (
        keep_min_by(log, "o_orderkey", order=(-col("seq"),))
        .filter(col("op") != "D")
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            col("op").alias("last_op"),
        )
    )


# ---------------------------------------------------------------------------
# op 28: set_ops — union / intersect / except over key sets
# ---------------------------------------------------------------------------

_SETOPS_ORACLE = """
SELECT c_custkey FROM (
  (SELECT o_custkey AS c_custkey FROM orders
   WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
     AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
   INTERSECT
   SELECT o_custkey AS c_custkey FROM orders
   WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
     AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
  EXCEPT
  SELECT c_custkey FROM customer WHERE c_acctbal < 0
)
UNION
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


@register("set_ops", oracle=_SETOPS_ORACLE)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """((1995-buyers ∩ 1996-buyers) ∖ negative-balance) ∪ urgent-buyers.
    All four legs reduce to distinct key sets before combining — each set
    op is a shuffle on the single key column only."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")

    def buyers(lo: str, hi: str) -> DataFrame:
        return orders.filter(
            (col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (col("o_orderdate") < F.lit(hi).cast("timestamp"))
        ).select(col("o_custkey").alias("c_custkey"))

    a = buyers("1995-01-01 00:00:00", "1996-01-01 00:00:00")
    b = buyers("1996-01-01 00:00:00", "1997-01-01 00:00:00")
    neg = cust.filter(col("c_acctbal") < 0).select("c_custkey")
    urgent = orders.filter(col("o_orderpriority") == "1-URGENT").select(
        col("o_custkey").alias("c_custkey")
    )
    # .intersect / .subtract are distinct-set ops (match SQL INTERSECT/EXCEPT);
    # .union is UNION ALL, so a final .distinct() matches SQL UNION.
    return a.intersect(b).subtract(neg).union(urgent).distinct()


# ---------------------------------------------------------------------------
# agg_exists_q4 — correlated EXISTS subquery feeding an aggregate (Q4 shape)
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_late_risk
FROM orders o
WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_exists_q4", oracle=_Q4_ORACLE)
def agg_exists_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one line item shipped >60
    days after the order date, counted per priority. The correlated
    EXISTS decorrelates to a LEFT SEMI join on l_orderkey with the
    date inequality as a residual join condition — lineitem's payload
    never crosses the shuffle (semi joins carry keys only), and the
    aggregate afterwards is a handful of groups. At 100 TB both sides
    shuffle once on orderkey; no second pass, no distinct needed
    (semi join dedups matches by construction)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # interval add, not date_add: date_add truncates the timestamp to
    # DATE while the oracle's + INTERVAL keeps time-of-day (fixtures are
    # midnight-only today, so the truncation is a latent divergence)
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_late_risk"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# agg_promo_ratio — conditional aggregation ratio (TPC-H Q14 shape)
# ---------------------------------------------------------------------------

_Q14_ORACLE = f"""
SELECT 100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
       / {sql_dsum('l_extendedprice * (1 - l_discount)')} AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


@register("agg_promo_ratio", oracle=_Q14_ORACLE)
def agg_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: revenue share of promo parts in one ship month —
    conditional (CASE-gated) aggregation feeding a ratio. The month
    filter pushes into the lineitem scan; part plays the dim role and
    is left UNHINTED (join_star rule: it grows with SF; a hint has no
    size fallback) — static parquet stats / AQE broadcast it while it
    fits, so the fact table never shuffles at bench SF, and the plan
    degrades to a shuffle join instead of an abort past the 8 GB
    ceiling. Both sums accumulate in
    one pass. Numerator and denominator use the decimal dsum path, and
    the final 100*x/y is the same IEEE op sequence in both engines."""
    li = table(spark, sf_dir, "lineitem").filter(
        (col("l_shipdate") >= F.lit("1997-09-01"))
        & (col("l_shipdate") < F.lit("1997-10-01"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = col("l_extendedprice") * (1 - col("l_discount"))
    promo = F.when(col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(p, col("l_partkey") == col("p_partkey"))
        .agg((F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_revenue"))
    )


# ---------------------------------------------------------------------------
# join_q5_local — 6-way join with a cross-dimension equality (TPC-H Q5)
# ---------------------------------------------------------------------------

_Q5_ORACLE = f"""
SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("join_q5_local", oracle=_Q5_ORACLE)
def join_q5_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: local-supplier revenue per nation. Six tables, and the
    defining constraint c_nationkey = s_nationkey links two DIFFERENT
    dimension branches of the star — it can't push into either scan and
    survives as a join filter. Physical shape at scale: the one big
    shuffle is lineitem ⋈ orders on orderkey; nation and region are
    hinted broadcasts (FIXED 25/5-row cardinality at any SF); customer
    AND supplier are UNHINTED — both scale linearly with SF
    (catalog.SF_SCALING_DIMS) and explicit hints have no size fallback,
    so stats/AQE broadcast them while small and flip those edges to
    shuffle joins beyond the threshold."""
    o = table(spark, sf_dir, "orders").filter(
        (col("o_orderdate") >= F.lit("1996-01-01"))
        & (col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = table(spark, sf_dir, "region").filter(col("r_name") == "ASIA")
    rev = col("l_extendedprice") * (1 - col("l_discount"))
    return (
        li.join(o, col("l_orderkey") == col("o_orderkey"))
        .join(c, col("o_custkey") == col("c_custkey"))
        .join(
            s,
            (col("l_suppkey") == col("s_suppkey"))
            & (col("c_nationkey") == col("s_nationkey")),
        )
        .join(broadcast(n), col("s_nationkey") == col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") == col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(col("revenue").desc(), col("n_name"))
    )


# ---------------------------------------------------------------------------
# filter_disjunctive — OR-of-ANDs predicate pushdown (TPC-H Q19 shape)
# ---------------------------------------------------------------------------

_Q19_ORACLE = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))
"""


@register("filter_disjunctive", oracle=_Q19_ORACLE)
def filter_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of AND-clauses mixing columns from both
    join sides. Catalyst factors the single-side conjuncts out of the
    disjunction: the p_brand/p_size OR pushes into the part scan and the
    l_quantity range union into the lineitem scan, leaving only the
    cross-table residual on the join — the classic test that
    disjunctive predicates still prune scans instead of riding the
    join. part is UNHINTED (join_star rule: grows with SF, hints have
    no size fallback); the pushed-down brand/size OR keeps the probe
    side tiny so stats/AQE broadcast it at any realistic SF."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = col("l_quantity")
    sz = col("p_size")
    pred = (
        ((col("p_brand") == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((col("p_brand") == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((col("p_brand") == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    rev = col("l_extendedprice") * (1 - col("l_discount"))
    return (
        li.join(p, col("l_partkey") == col("p_partkey"))
        .filter(pred)
        .agg(dsum(rev).alias("revenue"), F.count("*").alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# agg_anti_subquery — scalar subquery + NOT EXISTS (TPC-H Q22 shape)
# ---------------------------------------------------------------------------

_Q22_ORACLE = f"""
SELECT c_mktsegment, COUNT(*) AS numcust, {sql_dsum('c_acctbal')} AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT {sql_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("agg_anti_subquery", oracle=_Q22_ORACLE)
def agg_anti_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted to the fixture schema): well-funded
    customers with no finished order, counted per market segment. Two
    decorrelations in one query: the scalar AVG subquery becomes a
    1-row broadcast crossed against the customer scan, and NOT EXISTS
    becomes a LEFT ANTI join against the filtered orders — keys only
    cross the shuffle, and the 'F' filter prunes orders before the
    join. The threshold avg uses the decimal davg path so the
    comparison boundary is bit-identical in both engines."""
    c = table(spark, sf_dir, "customer")
    avg_df = c.filter(col("c_acctbal") > 0.0).agg(
        davg(col("c_acctbal")).alias("avg_bal")
    )
    o = table(spark, sf_dir, "orders").filter(col("o_orderstatus") == "F").select(
        "o_custkey"
    )
    return (
        c.crossJoin(broadcast(avg_df))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(o, col("c_custkey") == col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("numcust"), dsum(col("c_acctbal")).alias("totacctbal"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# join_cross — explicit Cartesian product (dimension grid)
# ---------------------------------------------------------------------------

_CROSS_ORACLE = """
SELECT r.r_name, n.n_name,
       CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END AS is_home
FROM region r CROSS JOIN nation n
ORDER BY r.r_name, n.n_name
"""


@register("join_cross", oracle=_CROSS_ORACLE)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product of two dimensions — the grid-building
    primitive (every region × every nation, flagged with membership).
    Compiles to BroadcastNestedLoopJoin with the smaller side broadcast:
    legitimate ONLY when one side is tiny; the engine's big-big pairing
    ops (dedup, similarity) all pre-bucket instead of crossing. Output
    is |R|×|N| rows by construction."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return (
        r.crossJoin(broadcast(n))
        .select(
            "r_name",
            "n_name",
            F.when(col("n_regionkey") == col("r_regionkey"), 1)
            .otherwise(0)
            .alias("is_home"),
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# null_handling — NULL-production and NULL-consumption semantics
# ---------------------------------------------------------------------------

_NULL_ORACLE = f"""
SELECT o_orderpriority,
  COUNT(*) AS n_total,
  COUNT(NULLIF(o_orderstatus, 'O')) AS n_closed,
  COUNT(*) - COUNT(NULLIF(o_orderstatus, 'O')) AS n_open,
  {sql_dsum("COALESCE(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END, 0.0)")} AS finished_value,
  MIN(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) AS min_pending
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("null_handling", oracle=_NULL_ORACLE)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL semantics surface in one query: NULLIF produces nulls,
    COUNT(expr) skips them (vs COUNT(*)), COALESCE re-defaults them
    inside an aggregate, and MIN over an all-NULL group yields NULL
    (three-valued logic end-to-end, identical in both engines). Stays
    one scan + one small aggregate; no shuffle beyond the group key."""
    o = table(spark, sf_dir, "orders")
    status = col("o_orderstatus")
    closed = F.nullif(status, F.lit("O"))
    finished = F.when(status == "F", col("o_totalprice"))
    pending = F.when(status == "P", col("o_totalprice"))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_total"),
            F.count(closed).alias("n_closed"),
            (F.count("*") - F.count(closed)).alias("n_open"),
            dsum(F.coalesce(finished, F.lit(0.0))).alias("finished_value"),
            F.min(pending).alias("min_pending"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# join_lateral — correlated LATERAL subquery (top-N per row, SQL text)
# ---------------------------------------------------------------------------

# ONE SQL string, executed verbatim by BOTH engines (same trick as
# sql_shipping_priority): each BUILDING customer pulls its own two most
# expensive orders through a correlated LATERAL derived table.
_LATERAL_SQL = """
SELECT c_custkey, t.o_orderkey, t.o_totalprice
FROM customer, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2) t
WHERE c_mktsegment = 'BUILDING'
"""


@register("join_lateral", oracle=_LATERAL_SQL)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: a per-row dependent subquery with ORDER
    BY + LIMIT — the top-N-per-key idiom written relationally instead of
    via window_topk. Catalyst decorrelates it into a join + per-key
    ranked filter, so the physical plan is the window_topk shape (one
    shuffle on the correlation key), not N subquery executions — which
    is why it survives at scale. Deterministic by the o_orderkey
    tiebreak inside LIMIT; oracle is the same SQL text on DuckDB."""
    from cqlcopy_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# join_skew_salted — explicit salting, proven exact against the plain join
# ---------------------------------------------------------------------------

_SALTED_ORACLE = f"""
SELECT c.c_nationkey,
       COUNT(*) AS n_orders,
       {sql_dsum('o.o_totalprice')} AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""


@register("join_skew_salted", oracle=_SALTED_ORACLE)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The functions/skew.py salted join as a first-class query: orders
    (probe) salted deterministically on its unique o_orderkey, customer
    (build) replicated 8×, equi-join on (custkey, salt) — hot customers
    scatter across 8 tasks instead of one. The ORACLE is the PLAIN
    join: salting must be invisible in the result, which is the whole
    correctness contract (every probe/build row pair meets on exactly
    one salt). Use when AQE can't split the skew — a broadcast-
    ineligible build side or a mid-plan exchange; the build-side 8×
    blow-up is the price of the scatter."""
    from cqlcopy_spark.functions.skew import salted_join

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select(
        col("c_custkey").alias("custkey"), "c_nationkey"
    )
    j = salted_join(o, c, on=["custkey"], probe_unique_col="o_orderkey", n_salts=8)
    return (
        j.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(col("o_totalprice")).alias("total_price"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# join_null_safe — NULL-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

# The fixtures have no NULL keys; derive one identically in both engines
# (nullif on a modular bucket) so the null-matches-null branch is actually
# exercised, not vacuous.
_NULLSAFE_ORACLE = """
WITH c AS (
  SELECT NULLIF(c_nationkey % 7, 3) AS seg, c_custkey FROM customer
),
s AS (
  SELECT NULLIF(s_nationkey % 7, 3) AS seg, s_suppkey FROM supplier
)
SELECT c.seg AS seg,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT c.c_custkey) AS n_customers,
       COUNT(DISTINCT s.s_suppkey) AS n_suppliers
FROM c JOIN s ON c.seg IS NOT DISTINCT FROM s.seg
GROUP BY c.seg
ORDER BY seg NULLS FIRST
"""


@register("join_null_safe", oracle=_NULLSAFE_ORACLE)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join: Spark's `<=>` (eqNullSafe) vs the oracle's
    IS NOT DISTINCT FROM — NULL keys pair with NULL keys instead of
    dropping out, the semantics MERGE/dedup pipelines need when the
    business key is nullable.

    Plan note: eqNullSafe keys still hash-partition (NULL is one hash
    bucket), so this stays a plain shuffled/broadcast hash join — the
    supplier side is UNHINTED (it scales with SF; stats/AQE broadcast
    it while small). At scale a hot NULL bucket is a skew key like any
    other: prefilter or salt it."""
    c = table(spark, sf_dir, "customer").select(
        F.nullif(col("c_nationkey") % 7, F.lit(3)).alias("cseg"), "c_custkey"
    )
    s = table(spark, sf_dir, "supplier").select(
        F.nullif(col("s_nationkey") % 7, F.lit(3)).alias("sseg"), "s_suppkey"
    )
    return (
        c.join(s, c["cseg"].eqNullSafe(s["sseg"]))
        .groupBy(col("cseg").alias("seg"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
        .orderBy(col("seg").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# recursive_price_buckets — WITH RECURSIVE (Spark 4 + DuckDB, one SQL text)
# ---------------------------------------------------------------------------

# ONE SQL string executed verbatim by BOTH engines (the
# sql_shipping_priority pattern): the recursive member generates the
# bucket spine, the outer query left-joins the order histogram onto it so
# empty buckets surface as zero. FLOOR (not CAST) buckets the double —
# double→INT CAST truncates in Spark but rounds in DuckDB.
_RECURSIVE_SQL = """
WITH RECURSIVE buckets(b) AS (
  SELECT 0
  UNION ALL
  SELECT b + 1 FROM buckets WHERE b < 11
),
hist AS (
  SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS b,
         COUNT(*) AS n_orders
  FROM orders
  GROUP BY 1
)
SELECT buckets.b AS bucket,
       COALESCE(n_orders, 0) AS n_orders
FROM buckets LEFT JOIN hist ON buckets.b = hist.b
ORDER BY bucket
"""


@register("recursive_price_buckets", oracle=_RECURSIVE_SQL)
def recursive_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (Spark 4's WITH RECURSIVE): a generated
    12-bucket price spine left-joined against the order-price histogram
    so empty buckets appear with 0. The oracle IS this SQL text.

    The recursion is driver-bounded (12 one-row steps) and the histogram
    is one partial-agg shuffle of ≤12 groups; the join broadcasts the
    spine. Recursion depth, not data volume, is the iteration count —
    safe at any corpus scale."""
    from cqlcopy_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


# ---------------------------------------------------------------------------
# sql_pipe_query — Spark 4 SQL pipe syntax (|>) surface
# ---------------------------------------------------------------------------

# The pipe dialect stages a query top-down (FROM … |> WHERE … |>
# AGGREGATE …) — the SQL surface ETL authors increasingly write because
# each stage reads in dataflow order. Same Catalyst plan as the nested
# form; the oracle states the identical relation in classic SQL, so the
# check proves dialect equivalence, not just runnability. Arithmetic is
# hash-safe without the decimal route: l_quantity is integral-valued
# (sums < 2^53 are EXACT in double regardless of add order) and
# min/max are picked values.

_PIPE_SQL = """
FROM lineitem
|> WHERE l_quantity > 10 AND l_discount > 0.02
|> AGGREGATE COUNT(*) AS n_items,
             SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
             MIN(l_extendedprice) AS min_price,
             MAX(l_extendedprice) AS max_price
   GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag, l_linestatus
"""

_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
WHERE l_quantity > 10 AND l_discount > 0.02
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("sql_pipe_query", oracle=_PIPE_ORACLE)
def sql_pipe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipe-syntax twin of a filtered pricing rollup — value-hash-equal
    to the classic-SQL oracle, pinning that the |> dialect reaches the
    same plan and results. sum_qty casts the integral-valued double to
    BIGINT BEFORE summing — raw SUM on doubles is banned (CLAUDE.md)
    even when today's values happen to be integral, because the
    exemption would rest on a fixture-content invariant nothing pins.
    One partial-agg shuffle; scan-bound at any scale like every flat
    aggregate here."""
    from cqlcopy_spark.catalog import register_views

    register_views(spark, sf_dir)
    df = spark.sql(_PIPE_SQL)
    # pipe AGGREGATE emits group cols first already; project for a
    # stable explicit order anyway
    return df.select(
        "l_returnflag", "l_linestatus", "n_items", "sum_qty",
        "min_price", "max_price",
    )
