"""CSV sink (SURVEY.md §2A ops 20-21).

The reference exports with values quoted iff the column's native type is
string (read.go:181-190) — a type-preserving convention that lets its own
write path round-trip types, INCLUDING a string whose value is the null
literal (quoted "NULL" is data, bare NULL is SQL null, write.go:214-215).
Spark's built-in CSV writer cannot express that (minimal quoting leaves
the value bare; quoteAll also quotes the null replacement), so
`render_lines` renders each row itself with JVM expressions: strings
always quoted with quote-doubling escape, booleans as the configured
literals, timestamps in the configured layout, other types bare via
CAST AS STRING (op 21), nulls as the bare literal. It is the one line
renderer of every export: `write_csv` writes its frame to a directory
and the CLI's stdout export iterates the same frame. The
quote-preserving reader (parse_csv_dynamic) round-trips the distinction;
Spark's schema-first CSV reader inherently conflates quoted and bare
null literals (univocity strips quotes before the nullValue compare) —
use the dynamic path when that fidelity matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import col

from cqlcopy_spark.config import DEFAULT_CONFIG, CopyConfig


def _render_field(f: "T.StructField", cfg: CopyConfig):
    """One CSV cell in the reference's type-preserving convention
    (read.go:181-190): STRING values are ALWAYS quoted (quote-doubling
    escape), booleans render as the configured literals, everything
    else renders bare, and SQL NULL is the bare null literal.
    Always-quoting strings is load-bearing, not style: a string whose
    value IS the null literal ('NULL') must stay
    distinguishable from SQL NULL, and Spark's own CSV writer cannot
    express that (minimal quoting leaves the value bare; quoteAll also
    quotes the null replacement — verified both ways)."""
    c = col(f.name)
    if isinstance(f.dataType, T.StringType):
        # F.replace (literal), NOT regexp_replace: the regex engine cost
        # 60% extra wall on the whole COPY write path
        rendered = F.concat(
            F.lit('"'), F.replace(c, F.lit('"'), F.lit('""')), F.lit('"')
        )
    elif isinstance(f.dataType, T.BooleanType):
        rendered = F.when(c, F.lit(cfg.true_literal)).otherwise(F.lit(cfg.false_literal))
    elif isinstance(f.dataType, T.TimestampType):
        rendered = F.date_format(c, cfg.time_format)
    elif isinstance(f.dataType, T.TimestampNTZType):
        rendered = F.date_format(c, cfg.time_format_ntz)
    else:
        rendered = c.cast("string")
    return F.when(c.isNull(), F.lit(cfg.null_literal)).otherwise(rendered)


def render_lines(df: DataFrame, cfg: CopyConfig = DEFAULT_CONFIG) -> DataFrame:
    """Every row of `df` as one rendered CSV line, in ONE column whose
    NAME is the header row (each column name quoted, like the
    reference's stdout header).
    Lines are JVM expressions (codegen — the per-row cost matches the
    built-in CSV writer); there is no Python stage anywhere (an earlier
    Arrow header-prepend stage cost ~50% of the COPY path's
    throughput)."""
    line = F.concat_ws(",", *[_render_field(f, cfg) for f in df.schema.fields])
    return df.select(line.alias(",".join(f'"{f.name}"' for f in df.schema.fields)))


def write_csv(df: DataFrame, path: str, cfg: CopyConfig = DEFAULT_CONFIG) -> None:
    """Op 20: header + the reference's quoting; timestamps in the
    configured layout so the write path can re-ingest its own output.

    The `render_lines` frame is written through the csv sink with an
    unmatchable separator (SOH) and quote (NUL): the writer emits the
    pre-rendered line verbatim and its header machinery writes the
    column name once per part file — exactly the reader's
    drop-first-line-per-file contract. Embedded newlines and NUL/SOH
    control characters in string payloads are out of scope — the
    line-based reader (parse_csv_dynamic) documents the same bound."""
    (
        render_lines(df, cfg)
        .write.mode("overwrite")
        .options(
            header=str(cfg.header).lower(),
            sep=chr(1),
            quote=chr(0),
            nullValue="",
        )
        .csv(path)
    )

