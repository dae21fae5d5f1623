"""CSV source with the reference's typing semantics (SURVEY.md §2A ops 1-9, 13).

Two import paths, mirroring SURVEY.md §7 "hard part 2", both in the JVM:

1. **Schema-first (the scale path)** — `read_csv`: `spark.read.csv` with a
   declared schema and option mapping from CopyConfig. Vectorized JVM-side
   parsing, splittable files, pushdown-friendly. This is what a 100 TB load
   uses; it matches reference behavior for homogeneous columns.

2. **Cell-dynamic (the fidelity path)** — `read_csv_dynamic`: the
   reference types each CELL by inspecting its text and quoting
   (write.go:199-223): quoted→string; false/true literal; unquoted null
   literal; timestamp layout; int64; (engine upgrade) float; else string.
   Spark's CSV parser discards quote information, so `parse_csv_dynamic`
   reads raw lines (`spark.read.text` — still distributed and splittable)
   and splits each line with one Spark SQL regex tokenizer that KEEPS the
   quoted flag per field; `cast_dynamic` then resolves each cell against
   the TARGET column type, exactly as a Cassandra insert would coerce it.
   Limitation (documented): embedded newlines in quoted fields need the
   schema-first path with multiLine=true.

Error budget (op 13): both paths count malformed rows — schema-first via
PERMISSIVE mode's corrupt record, cell-dynamic via the tokenizer's
`_parse_error`, the way the reference counts csv.Reader errors
(write.go:140-147) — and raise through one check, `_enforce_budget`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import col

from cqlcopy_spark.config import DEFAULT_CONFIG, CopyConfig

CORRUPT_COL = "_corrupt_record"


def csv_read_options(cfg: CopyConfig) -> dict[str, str]:
    """CopyConfig → spark.read.csv options (reference flag mapping)."""
    return {
        "header": str(cfg.header).lower(),
        "quote": '"',
        "escape": '"',  # RFC 4180 doubles quotes; univocity expresses that as escape='"'
        "nullValue": cfg.null_literal,
        "timestampFormat": cfg.time_format,
        "timestampNTZFormat": cfg.time_format_ntz,
        # Always PERMISSIVE: the budget (including 0) is enforced by
        # _enforce_budget with a proper error; FAILFAST would surface
        # an opaque task failure instead (write.go:140-147 also keeps
        # reading until the budget trips).
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": CORRUPT_COL,
    }


def _enforce_budget(cfg: CopyConfig, count_bad: Callable[[], int]) -> None:
    """The --max-parse-errors check of both import paths (op 13). The
    count runs only under a finite budget (-1 = unlimited)."""
    if cfg.max_parse_errors < 0:
        return
    bad = count_bad()
    if bad > cfg.max_parse_errors:
        raise ValueError(
            f"parse-error budget exceeded: {bad} malformed rows > "
            f"--max-parse-errors={cfg.max_parse_errors}"
        )


def _csv_scan(
    spark: SparkSession, path: str, schema: T.StructType, cfg: CopyConfig, multi_line: bool
) -> DataFrame:
    """The PERMISSIVE scan `read_csv` and `count_malformed` share: the
    declared schema plus the corrupt-record column."""
    opts = csv_read_options(cfg)
    if multi_line:
        opts["multiLine"] = "true"
    full = T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])
    return spark.read.options(**opts).schema(full).csv(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    cfg: CopyConfig = DEFAULT_CONFIG,
    multi_line: bool = False,
) -> DataFrame:
    """Schema-first CSV scan (ops 1-2, 7-9) with the --max-parse-errors
    budget (op 13) enforced up front.

    When a finite budget is set, a dedicated counting scan tallies corrupt
    rows first (map-side combined count — cheap relative to the load it
    gates, and the reference pays a full parse per row anyway,
    write.go:140-147).

    Malformed-row dropping is subtle under Spark's CSV column pruning:
    DROPMALFORMED silently stops dropping when a downstream plan prunes
    all columns (a bare .count() then parses nothing), and a plain
    corrupt-marker filter is rejected outright when it is the only
    referenced column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    COLUMN). So the clean frame filters on the corrupt marker AND an
    opaque-to-the-optimizer reference to the first data column, which
    pins full-row parsing without disabling pruning globally."""
    _enforce_budget(cfg, lambda: count_malformed(spark, path, schema, cfg, multi_line))
    df = _csv_scan(spark, path, schema, cfg, multi_line)
    data0 = col(schema.fields[0].name)
    keep = col(CORRUPT_COL).isNull() & (
        F.length(F.coalesce(data0.cast("string"), F.lit(""))) >= 0
    )
    return df.filter(keep).drop(CORRUPT_COL)


def count_malformed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    cfg: CopyConfig = DEFAULT_CONFIG,
    multi_line: bool = False,
) -> int:
    """One aggregate pass counting rows the CSV parser rejects. The agg
    references a data column alongside the corrupt marker to satisfy
    Spark's corrupt-record-only restriction."""
    df = _csv_scan(spark, path, schema, cfg, multi_line)
    row = df.agg(
        F.count(F.when(col(CORRUPT_COL).isNotNull(), 1)).alias("bad"),
        F.count(col(schema.fields[0].name)).alias("_touch"),
    ).collect()[0]
    return row["bad"]


# ---------------------------------------------------------------------------
# Cell-dynamic path
# ---------------------------------------------------------------------------

#: One RFC-4180 field: quoted with "" escapes, or unquoted and not starting
#: with a quote (a later bare quote is data). The quantifiers are possessive
#: and unrolled: java.util.regex recurses once per iteration of a group
#: like (?:[^"]|"")*, so a long quoted field would overflow the stack.
_QUOTED = '"[^"]*+(?:""[^"]*+)*+"'
_FIELD = f'{_QUOTED}|(?:[^,"][^,]*+)?'


def parse_csv_dynamic(
    spark: SparkSession,
    path: str,
    column_names: list[str],
    cfg: CopyConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Distributed quote-preserving CSV parse → one `<name>` value and one
    `<name>__quoted` flag per column (the reference's csv.Column {Value,
    Quoted}, write.go:122) plus `_parse_error`, NULL on clean rows.

    The tokenizer is one `regexp_extract_all` over `,` + line: every
    match is a comma and one field, so the line is well formed iff the
    matches tile it — their byte lengths sum to the line's. A malformed line
    is classified only then (unterminated quoted field, garbage after a
    closing quote); a well-formed one with the wrong field count is an
    arity error. Values on error rows are unspecified. The projection is
    SQL text: built column by column through the DataFrame API, its eager
    analysis costs more driver time than the parse."""
    lines = spark.read.text(path)
    if cfg.header:
        # The reference reads and DISCARDS the header row (write.go:135-137):
        # column names come from the caller. Drop the first line of EVERY
        # input file — a directory of CSV parts (what write_csv emits)
        # carries one header per part, so a global single-line drop would
        # leak the later files' headers in as data rows (r03 ADVICE).
        # Per-row "first line of its file" isn't computable without an
        # aggregate: text reads assign monotonic ids that increase with
        # in-file row order (splits are index-ordered), so each file's
        # header is its min id. The per-file min agg is map-side partial
        # → one row per FILE survives the shuffle, and joins back as a
        # broadcast — the line data itself is never shuffled. A value
        # filter on the header TEXT would also delete any data row that
        # happens to equal it.
        lines = lines.withColumn("_file", F.input_file_name()).withColumn(
            "_mid", F.monotonically_increasing_id()
        )
        firsts = lines.groupBy("_file").agg(F.min("_mid").alias("_first_id"))
        lines = (
            lines.join(F.broadcast(firsts), "_file")
            .filter(col("_mid") != col("_first_id"))
            .drop("_file", "_mid", "_first_id")
        )
    # blank separator lines are skipped, not arity errors: Go's
    # encoding/csv (the reference's reader) and Spark's schema-first
    # reader both ignore them — counting them against --max-parse-errors
    # would make the two ingest paths disagree on one file.
    #
    # The one-element explode keeps the regex under every filter: a filter
    # on `_parse_error` is pushed through plain projections with their
    # expressions inlined, and would run the tokenizer three more times.
    lines = lines.filter(col("value") != "").selectExpr(
        "value",
        f"explode(array(regexp_extract_all(concat(',', value), ',({_FIELD})', 1))) AS _parts",
    )
    fields = []
    for i, name in enumerate(column_names):
        f = f"get(_parts, {i})"
        quoted = f"startswith({f}, '\"')"
        name = name.replace("`", "``")
        fields += [
            f"IF({quoted}, replace(substring({f}, 2, length({f}) - 2), '\"\"', '\"'), {f}) AS `{name}`",
            f"{quoted} AS `{name}__quoted`",
        ]
    error = f"""CASE
        WHEN octet_length(array_join(_parts, '')) + size(_parts) != octet_length(value) + 1 THEN
            IF(value RLIKE '^(?:(?:{_FIELD}),)*+{_QUOTED}[^,]',
               'garbage after closing quote', 'unterminated quoted field')
        WHEN size(_parts) != {len(column_names)} THEN
            concat('expected {len(column_names)} fields, got ', size(_parts))
    END AS _parse_error"""
    return lines.selectExpr(*fields, error)


def read_csv_dynamic(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    cfg: CopyConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Cell-dynamic import: parse, enforce the --max-parse-errors budget,
    then count-and-SKIP like the reference (write.go:140-147) — rows
    inside the budget are logged against it but never inserted as
    half-parsed garbage — and type the rest with `cast_dynamic`."""
    raw = parse_csv_dynamic(spark, path, schema.fieldNames(), cfg)
    _enforce_budget(cfg, lambda: raw.filter(col("_parse_error").isNotNull()).count())
    ok = raw.filter(col("_parse_error").isNull())
    return cast_dynamic(ok, schema, cfg).drop("_parse_error")


def infer_csv_schema(
    spark: SparkSession, path: str, column_names: list[str], cfg: CopyConfig = DEFAULT_CONFIG
) -> T.StructType:
    """Column types for an import without --types: Spark's reader infers
    them (SURVEY.md §7 notes this is a semantic upgrade over the
    reference's per-cell inference); types `cast_dynamic` cannot target
    fall back to string. The rows themselves then go through
    `read_csv_dynamic`, whose arity errors are what a "parse error" means
    when no schema is declared: a corrupt-record check here could never
    fire, because full-file inference widens every column to fit
    whatever PERMISSIVE parsing produced."""
    inferred = spark.read.options(inferSchema="true", **csv_read_options(cfg)).csv(path).schema
    data_fields = [f for f in inferred.fields if f.name != CORRUPT_COL]
    if len(data_fields) != len(column_names):
        raise ValueError(
            f"input has {len(data_fields)} columns, expected {len(column_names)}"
        )
    castable = (
        T.StringType, T.BooleanType, T.TimestampType, T.TimestampNTZType,
        T.DateType, T.LongType, T.IntegerType, T.DoubleType, T.FloatType,
    )
    return T.StructType(
        [
            T.StructField(c, f.dataType if isinstance(f.dataType, castable) else T.StringType())
            for c, f in zip(column_names, data_fields)
        ]
    )


def cast_cell(value: Column, quoted: Column, target: T.DataType, cfg: CopyConfig) -> Column:
    """Reference per-cell precedence (write.go:207-223) resolved against a
    target type — the coercion a Cassandra INSERT of the parsed value
    would perform. Pure Spark expressions (whole-stage codegen)."""
    t, f = cfg.true_literal.lower(), cfg.false_literal.lower()
    is_null = (~quoted) & (value == cfg.null_literal)  # unquoted NULL only (write.go:214-215)
    if isinstance(target, T.StringType):
        return F.when(is_null, F.lit(None).cast("string")).otherwise(value)
    if isinstance(target, T.BooleanType):
        lower = F.lower(value)
        return (
            F.when(is_null, F.lit(None).cast("boolean"))
            .when(lower == f, F.lit(False))   # false checked before true (write.go:210-213)
            .when(lower == t, F.lit(True))
            .otherwise(F.lit(None).cast("boolean"))
        )
    if isinstance(target, (T.TimestampType, T.TimestampNTZType)):
        fmt = cfg.time_format if isinstance(target, T.TimestampType) else cfg.time_format_ntz
        parsed = F.try_to_timestamp(value, F.lit(fmt)).cast(target.simpleString())
        return F.when(is_null, F.lit(None).cast(target.simpleString())).otherwise(parsed)
    if isinstance(target, T.DateType):
        # ISO yyyy-MM-dd, what Spark's CSV inference recognizes as DATE
        # (prefersDate) — keep the inferred type instead of downgrading
        # the column to string
        return F.when(is_null, F.lit(None).cast("date")).otherwise(
            value.try_cast("date")
        )
    if isinstance(target, T.LongType) or isinstance(target, T.IntegerType):
        # try_cast straight to the TARGET type: routing through long and
        # then cast('int') would silently wrap values that overflow int32
        # (non-ANSI) or throw (ANSI) — try_cast yields NULL like every
        # other unparseable cell on this path
        return F.when(is_null, F.lit(None).cast(target.simpleString())).otherwise(
            value.try_cast(target.simpleString())
        )
    if isinstance(target, (T.DoubleType, T.FloatType)):
        # engine upgrade: reference has no float support (README.md:11)
        return F.when(is_null, F.lit(None)).otherwise(value.try_cast(target.simpleString()))
    raise TypeError(f"cast_dynamic: unsupported target type {target}")


def cast_dynamic(df: DataFrame, schema: T.StructType, cfg: CopyConfig = DEFAULT_CONFIG) -> DataFrame:
    """Apply `cast_cell` per column over a parse_csv_dynamic result."""
    cols = [
        cast_cell(col(fld.name), col(f"{fld.name}__quoted"), fld.dataType, cfg).alias(fld.name)
        for fld in schema.fields
    ]
    keep = [c for c in df.columns if c == "_parse_error"]
    return df.select(*cols, *[col(k) for k in keep])
