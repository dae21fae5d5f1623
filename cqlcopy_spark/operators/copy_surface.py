"""COPY-surface driver queries (SURVEY.md §2A ops 1-9, 16-17, 20-22).

These are the reference's actual capabilities re-expressed Spark-first
and wired to DuckDB oracles:

- `copy_roundtrip` (op 22): table → CSV (reference quoting/typing
  conventions) → schema-first re-ingest → identical table.
- `cast_dynamic` (ops 5-9): the per-cell precedence semantics of
  write.go:199-223 applied to (value, quoted) pairs.
- `scan_token_range` (ops 16-17): resumable token scan with a portable
  ring hash, oracle-checkable arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import col

from cqlcopy_spark.catalog import table
from cqlcopy_spark.config import DEFAULT_CONFIG
from cqlcopy_spark.functions.portable import sql_portable_token
from cqlcopy_spark.plans.registry import register
from cqlcopy_spark.sinks.csv_sink import write_csv
from cqlcopy_spark.sources.cassandra import scan_token_range as _scan_token_range
from cqlcopy_spark.sources.csv_source import cast_cell, read_csv

# ---------------------------------------------------------------------------
# op 22: copy_roundtrip
# ---------------------------------------------------------------------------

_LINEITEM_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)


@register("copy_roundtrip", oracle="SELECT * FROM lineitem")
def copy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship COPY semantics: export lineitem to CSV with the
    reference's conventions (header, RFC-4180 quoting, configurable
    null/timestamp), re-ingest schema-first, get the identical table.
    Doubles survive because Spark's CSV writer emits shortest-round-trip
    representations; timestamps survive via the configured layout.

    Scale: both legs are full-width scans — the write fans out per
    partition (reference workers, write.go:130-132) and the read is
    splittable CSV. A SMALL source (bytes < ~32 MB/core) cannot feed
    the cores from the scan alone — sf0.1 lineitem is ONE parquet row
    group, so the render leg was single-task regardless of split
    tuning — and gets one round-robin fan-out before the write
    (measured idle at local[32]: 1.98 s → 1.74 s min-of-3; guide §2.5
    'repartition immediately after the read' for unsplittable inputs).
    At production scale the guard is false and the plan keeps zero
    shuffles: the scan already carries ≥ core-count tasks."""
    from cqlcopy_spark.operators.formats import _stage

    out = _stage(sf_dir, "roundtrip")
    li = table(spark, sf_dir, "lineitem")
    try:
        src_bytes = os.path.getsize(os.path.join(sf_dir, "lineitem.parquet"))
    except OSError:
        src_bytes = 1 << 62  # unknown layout: assume big, keep shuffle-free
    par = spark.sparkContext.defaultParallelism
    if src_bytes < (32 << 20) * par:
        li = li.repartition(par)
    write_csv(li, out, DEFAULT_CONFIG)
    return read_csv(spark, out, _LINEITEM_SCHEMA, DEFAULT_CONFIG)


# ---------------------------------------------------------------------------
# ops 5-9: cast_dynamic — reference per-cell typing precedence
# ---------------------------------------------------------------------------

_CAST_ORACLE = """
SELECT
  o_orderkey,
  o_orderdate,
  o_totalprice,
  o_orderstatus = 'F' AS is_failed,
  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS note
FROM orders
"""


@register("cast_dynamic", oracle=_CAST_ORACLE)
def cast_dynamic_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stringify orders into (value, quoted) cells exactly as they would
    arrive from the reference's CSV reader, then resolve each cell with
    the write.go:199-223 precedence: quoted→string; bool literals
    (case-insensitive — the documented behavior, README.md:18); unquoted
    null literal → SQL null (quoted "NULL" stays a string); timestamp
    layout; int64; double (engine upgrade over README.md:11).

    Every 7th note row carries the UNQUOTED null literal and must come
    back as SQL NULL; all other notes are QUOTED and must survive as
    strings even if they look like literals."""
    cfg = DEFAULT_CONFIG
    o = table(spark, sf_dir, "orders")
    cells = o.select(
        col("o_orderkey").cast("string").alias("k_v"),
        F.lit(False).alias("k_q"),
        F.date_format(col("o_orderdate"), cfg.time_format_ntz).alias("d_v"),
        F.lit(False).alias("d_q"),
        col("o_totalprice").cast("string").alias("p_v"),
        F.lit(False).alias("p_q"),
        F.when(col("o_orderstatus") == "F", "TRUE").otherwise("False").alias("b_v"),
        F.lit(False).alias("b_q"),
        F.when(col("o_orderkey") % 7 == 0, F.lit(cfg.null_literal))
        .otherwise(col("o_orderpriority"))
        .alias("n_v"),
        (col("o_orderkey") % 7 != 0).alias("n_q"),
    )
    return cells.select(
        cast_cell(col("k_v"), col("k_q"), T.LongType(), cfg).alias("o_orderkey"),
        cast_cell(col("d_v"), col("d_q"), T.TimestampNTZType(), cfg).alias("o_orderdate"),
        cast_cell(col("p_v"), col("p_q"), T.DoubleType(), cfg).alias("o_totalprice"),
        cast_cell(col("b_v"), col("b_q"), T.BooleanType(), cfg).alias("is_failed"),
        cast_cell(col("n_v"), col("n_q"), T.StringType(), cfg).alias("note"),
    )


# ---------------------------------------------------------------------------
# ops 16-17: scan_token_range
# ---------------------------------------------------------------------------

_TOKEN_OFFSET = 2_147_483_648  # resume from mid-ring

_TOKEN_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice,
       {sql_portable_token('o_orderkey')} AS token
FROM orders
WHERE {sql_portable_token('o_orderkey')} > {_TOKEN_OFFSET}
"""


@register("scan_token_range", oracle=_TOKEN_ORACLE)
def scan_token_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume a full-table scan from mid-ring: token(pk) > offset with an
    exclusive bound (read.go:107,113-119). The token is a projection over
    the scan — no shuffle; the filter stays in codegen."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return _scan_token_range(o, "o_orderkey", offset=_TOKEN_OFFSET)


# ---------------------------------------------------------------------------
# ops 16-19 as a REAL Spark source: custom Python DataSource
# ---------------------------------------------------------------------------

_PAGED_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, {sql_portable_token('o_orderkey')} AS token
FROM orders
WHERE {sql_portable_token('o_orderkey')} > {_TOKEN_OFFSET}
"""


@register("source_paged_scan", oracle=_PAGED_ORACLE)
def source_paged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-range read path as a first-class Spark source
    (sources/paged_source.py): row-group spans are InputPartitions
    planned driver-side from footer metadata (each task reads ONLY its
    span — work ∝ 1/splits), each task pages through its rows in Arrow
    batches, and resume_after filters rows past the token offset
    (read.go:107,113-119; page size read.go:28). Same resume semantics
    as scan_token_range, but the split/page/resume logic lives INSIDE
    the source — Spark schedules the splits like any other partitioned
    scan."""
    import os

    from cqlcopy_spark.sources.paged_source import register_paged_source

    register_paged_source(spark)
    return (
        spark.read.format("cql_paged")
        .option("path", os.path.join(sf_dir, "orders.parquet"))
        .option("key_col", "o_orderkey")
        .option("n_ranges", "8")
        .option("page_size", "128")
        .option("resume_after", str(_TOKEN_OFFSET))
        .load()
    )


# ---------------------------------------------------------------------------
# copy_reconcile — anti-entropy row diff between source and copy
# ---------------------------------------------------------------------------

# A deterministic 2% of orders rows stand in for a copy that drifted
# (the failure a reconciliation job exists to find): value perturbed on
# token(o_orderkey) % 100 < 2.
_DRIFT_PCT = 2

_RECONCILE_ORACLE = f"""
WITH src AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
),
cpy AS (
  SELECT o_orderkey,
         CASE WHEN {sql_portable_token('o_orderkey')} % 100 < {_DRIFT_PCT}
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders
)
SELECT s.o_orderkey,
       md5(CAST(CAST(s.o_totalprice AS DECIMAL(38,2)) AS VARCHAR)
           || '|' || s.o_orderstatus) AS src_hash,
       md5(CAST(CAST(c.o_totalprice AS DECIMAL(38,2)) AS VARCHAR)
           || '|' || c.o_orderstatus) AS copy_hash
FROM src s JOIN cpy c ON s.o_orderkey = c.o_orderkey
WHERE md5(CAST(CAST(s.o_totalprice AS DECIMAL(38,2)) AS VARCHAR)
          || '|' || s.o_orderstatus)
   != md5(CAST(CAST(c.o_totalprice AS DECIMAL(38,2)) AS VARCHAR)
          || '|' || c.o_orderstatus)
ORDER BY s.o_orderkey
"""


@register("copy_reconcile", oracle=_RECONCILE_ORACLE)
def copy_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation: after a bulk COPY, diff source and
    copy row-by-row via per-row payload hashes joined on the key and
    report only the mismatches — the verification step the reference
    leaves to the operator. Hash parity: the payload rendering must be
    engine-identical, so the double goes through the DECIMAL wire form
    (CAST double→VARCHAR differs between engines — Java vs Ryu shortest
    repr — but both print a decimal EXACTLY as stored); o_totalprice is
    a 2-decimal money value, so decimal(38,2) is lossless here. Scale:
    one equi-join on the key — co-partition or bucket both sides and it
    is shuffle-free; payload width collapses to one 32-byte hash per
    row before anything moves. The synthetic 2%-drifted "copy" is
    derived deterministically in-plan (no fixture mutation)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    from cqlcopy_spark.functions.portable import portable_token

    drifted = F.when(
        portable_token(col("o_orderkey")) % 100 < _DRIFT_PCT,
        col("o_totalprice") + 1.0,
    ).otherwise(col("o_totalprice"))
    cpy = o.select(
        "o_orderkey", drifted.alias("o_totalprice"), "o_orderstatus"
    )

    def row_hash(price, status):
        wire = F.concat(
            price.cast("decimal(38,2)").cast("string"), F.lit("|"), status
        )
        return F.md5(wire)

    s = o.select(
        "o_orderkey",
        row_hash(col("o_totalprice"), col("o_orderstatus")).alias("src_hash"),
    )
    c = cpy.select(
        "o_orderkey",
        row_hash(col("o_totalprice"), col("o_orderstatus")).alias("copy_hash"),
    )
    return (
        s.join(c, "o_orderkey")
        .filter(col("src_hash") != col("copy_hash"))
        .select("o_orderkey", "src_hash", "copy_hash")
        .orderBy("o_orderkey")
    )
