"""Unit tests for the COPY surface: reference typing precedence
(write.go:199-223), RFC-4180 quote-preserving parse, error budgets,
retry, identifiers (FIXTURES.md edge-case checklist)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from cqlcopy_spark.config import CopyConfig, check_identifier, go_layout_to_java
from cqlcopy_spark.sinks.batched_sink import retry_call
from cqlcopy_spark.sources.csv_source import (
    cast_dynamic,
    count_malformed,
    parse_csv_dynamic,
    read_csv,
)

CFG = CopyConfig()


# ---------------------------------------------------------------------------
# RFC-4180 field tokenizer (parse_csv_dynamic), every case in one Spark job
# ---------------------------------------------------------------------------

_SPLIT_CASES = {
    "plain": "a,b,c",
    "quoted_and_escaped": '"a,b",c,"he said ""hi"""',
    "empty_fields": ",,",
    "arity_error": "a,b",
    "unterminated_quote": '"abc,d',
    "bare_quote_inside_unquoted": 'ab"c,y,z',
    "garbage_after_closing_quote": '"a"b,y,z',
}


@pytest.fixture(scope="module")
def split(spark, tmp_path_factory):
    """case name → (fields, error) for each `_SPLIT_CASES` line, parsed
    as three columns. One small file is one partition, so the rows come
    back in line order."""
    p = tmp_path_factory.mktemp("split") / "cases.csv"
    p.write_text("\n".join(_SPLIT_CASES.values()) + "\n", encoding="utf-8")
    names = ["c0", "c1", "c2"]
    rows = parse_csv_dynamic(spark, str(p), names, CopyConfig(header=False)).collect()
    assert len(rows) == len(_SPLIT_CASES)
    return {
        case: ([(r[c], r[f"{c}__quoted"]) for c in names], r["_parse_error"])
        for case, r in zip(_SPLIT_CASES, rows)
    }


def test_split_plain(split):
    fields, err = split["plain"]
    assert err is None and fields == [("a", False), ("b", False), ("c", False)]


def test_split_quoted_and_escaped(split):
    fields, err = split["quoted_and_escaped"]
    assert err is None
    assert fields == [("a,b", True), ("c", False), ('he said "hi"', True)]


def test_split_empty_fields(split):
    fields, err = split["empty_fields"]
    assert err is None and fields == [("", False), ("", False), ("", False)]


def test_split_arity_error(split):
    _, err = split["arity_error"]
    assert err is not None


def test_split_unterminated_quote(split):
    _, err = split["unterminated_quote"]
    assert "unterminated" in err


def test_split_bare_quote_inside_unquoted_field(split):
    """Only a field's FIRST character opens a quoted field; a later
    bare quote is data, as in the reference's lazy-quotes reader."""
    fields, err = split["bare_quote_inside_unquoted"]
    assert err is None and fields[0] == ('ab"c', False)


def test_split_garbage_after_closing_quote(split):
    _, err = split["garbage_after_closing_quote"]
    assert "garbage" in err


def test_split_long_quoted_field_does_not_overflow_the_stack(spark, tmp_path):
    """One 600k-character quoted field holding 200k escaped quote pairs,
    in a 2,001-column line: a regex that recursed per character would
    throw StackOverflowError on it."""
    body = 'a""' * 200_000
    ncols = 2_001
    p = tmp_path / "long.csv"
    p.write_text(f'"{body}"' + ",x" * (ncols - 1) + "\n", encoding="utf-8")
    names = [f"c{i}" for i in range(ncols)]
    (row,) = parse_csv_dynamic(spark, str(p), names, CopyConfig(header=False)).collect()
    assert row["_parse_error"] is None
    assert row["c0"] == 'a"' * 200_000 and row["c0__quoted"] is True
    assert row["c2000"] == "x" and row["c2000__quoted"] is False


# ---------------------------------------------------------------------------
# Dynamic cast precedence (FIXTURES.md edge rows)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def edge_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "edge.csv"
    lines = [
        "name,flag,n,x,ts,note",          # header (discarded; names from caller)
        'alice,true,42,3.14,2024-01-02 03:04:05,"hello, world"',
        'bob,FALSE,-7,-0.5,2024-06-30 23:59:59,plain',
        'NULL,NULL,NULL,NULL,NULL,NULL',  # unquoted literals → SQL nulls
        '"NULL","true","42","3.14","2024-01-02 03:04:05","NULL"',  # quoted → strings survive
        'eve,bogus,notanint,notafloat,notadate,x',  # unparseable → null (typed cols)
    ]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("n", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("note", T.StringType()),
    ]
)

CFG_NTZ = CopyConfig(time_format_go="2006-01-02 15:04:05")


def test_cast_dynamic_precedence(spark, edge_csv):
    raw = parse_csv_dynamic(spark, edge_csv, [f.name for f in SCHEMA.fields], CFG_NTZ)
    typed = cast_dynamic(raw, SCHEMA, CFG_NTZ).orderBy("name")
    rows = {r["name"]: r for r in typed.collect()}

    a = rows["alice"]
    assert a["flag"] is True and a["n"] == 42 and a["x"] == 3.14
    assert a["ts"].isoformat() == "2024-01-02T03:04:05"
    assert a["note"] == "hello, world"

    b = rows["bob"]  # case-insensitive bool (README.md:18 documented behavior)
    assert b["flag"] is False and b["n"] == -7 and b["x"] == -0.5

    nulls = rows[None]  # unquoted NULL literal → SQL null in every column
    assert all(nulls[c] is None for c in ["name", "flag", "n", "x", "ts", "note"])

    q = rows["NULL"]  # QUOTED "NULL" stays the string (write.go:208-214)
    assert q["name"] == "NULL" and q["note"] == "NULL"
    assert q["flag"] is True and q["n"] == 42  # quoted literals still coerce to target

    e = rows["eve"]  # unparseable cells → null, row survives
    assert e["flag"] is None and e["n"] is None and e["x"] is None and e["ts"] is None


def test_parse_error_column(spark, tmp_path):
    """One error for the bad line; the blank line is skipped, neither a
    row nor an arity error (Go's encoding/csv skips it too)."""
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\n\n\"unterminated,3\nx,y\n")
    raw = parse_csv_dynamic(spark, str(p), ["a", "b"], CopyConfig())
    errs = raw.filter(raw["_parse_error"].isNotNull()).count()
    assert errs == 1 and raw.count() == 3


def test_header_skip_per_file(spark, tmp_path):
    """A directory of CSV parts carries one header per part (what
    write_csv emits); header=True must drop the first line of EVERY
    file, not one line globally (r03 ADVICE)."""
    d = tmp_path / "parts"
    d.mkdir()
    (d / "part-0.csv").write_text("a,b\n1,x\n2,y\n")
    (d / "part-1.csv").write_text("a,b\n3,z\n")
    (d / "part-2.csv").write_text("a,b\n")  # header-only part
    raw = parse_csv_dynamic(spark, str(d), ["a", "b"], CopyConfig(header=True))
    vals = sorted((r["a"], r["b"]) for r in raw.collect())
    assert vals == [("1", "x"), ("2", "y"), ("3", "z")]
    assert raw.filter(raw["_parse_error"].isNotNull()).count() == 0


# ---------------------------------------------------------------------------
# Schema-first reader + parse budget (op 13)
# ---------------------------------------------------------------------------

def test_parse_budget_enforced(spark, tmp_path):
    p = tmp_path / "budget.csv"
    p.write_text("n,x\n1,1.5\nbad,row,extra,cols\n2,2.5\n")
    schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("x", T.DoubleType())]
    )
    assert count_malformed(spark, str(p), schema, CopyConfig()) == 1
    with pytest.raises(ValueError, match="budget"):
        read_csv(spark, str(p), schema, CopyConfig(max_parse_errors=0))
    ok = read_csv(spark, str(p), schema, CopyConfig(max_parse_errors=5))
    assert ok.count() == 2
    unlimited = read_csv(spark, str(p), schema, CopyConfig(max_parse_errors=-1))
    assert unlimited.count() == 2


# ---------------------------------------------------------------------------
# Retry (op 12)
# ---------------------------------------------------------------------------

def test_retry_call_succeeds_after_failures():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")

    assert retry_call(flaky, max_attempts=5, backoff_s=0, sleep=lambda s: None)
    assert calls["n"] == 3


def test_retry_call_exhausts():
    assert not retry_call(
        lambda: (_ for _ in ()).throw(RuntimeError()), max_attempts=2, backoff_s=0,
        sleep=lambda s: None,
    )


# ---------------------------------------------------------------------------
# Identifiers + Go layout translation
# ---------------------------------------------------------------------------

def test_identifiers():
    assert check_identifier("ks.table_1")
    assert not check_identifier("bad;drop")
    assert not check_identifier("")


def test_go_layout():
    # Go "-0700" ALWAYS prints a numeric offset ("+0000" at UTC); Java
    # uppercase XX prints "Z" there — lowercase xx is the faithful map
    assert go_layout_to_java("2006-01-02 15:04:05-0700") == "yyyy-MM-dd HH:mm:ssxx"
    assert go_layout_to_java("2006-01-02 15:04:05") == "yyyy-MM-dd HH:mm:ss"
    assert go_layout_to_java("2006-01-02 15:04:05Z0700") == "yyyy-MM-dd HH:mm:ssXX"


def test_default_time_format_renders_utc_like_go(spark):
    """The reference's default layout renders 2024-01-01 UTC as
    '...+0000' (Go -0700 semantics); Java XX would emit '...Z'."""
    from pyspark.sql import functions as F

    from cqlcopy_spark.config import DEFAULT_CONFIG

    out = (
        spark.range(1)
        .select(
            F.date_format(
                F.lit("2024-01-01 00:00:00").cast("timestamp"),
                DEFAULT_CONFIG.time_format,
            ).alias("s")
        )
        .first()["s"]
    )
    assert out == "2024-01-01 00:00:00+0000"


def test_composite_token_sql_twin_matches_column_form(spark):
    """portable_token_composite (Column) and sql_portable_token_composite
    (oracle SQL) must stay arithmetic-identical — the SQL twin backs any
    future composite-resume oracle, so pin the parity directly."""
    import duckdb

    from cqlcopy_spark.functions.portable import (
        portable_token_composite,
        sql_portable_token_composite,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 7), (42, 0), (2**31, 2**20), (999983, 5)], "a long, b long"
    )
    got = {
        (r["a"], r["b"]): r["t"]
        for r in df.select(
            "a", "b",
            portable_token_composite([F.col("a"), F.col("b")]).alias("t"),
        ).collect()
    }
    sql = sql_portable_token_composite(["a", "b"])
    for (a, b), t in got.items():
        want = duckdb.sql(
            f"SELECT {sql} AS t FROM (SELECT {a} AS a, {b} AS b)"
        ).fetchone()[0]
        assert t == want, (a, b, t, want)


def test_token_negative_keys_three_way_agreement(spark):
    """Negative keys: Spark pmod fold, DuckDB double-mod fold, and
    paged_source's numpy arithmetic must yield the SAME token — a
    mismatch means skipped/duplicated rows on resume (the resume-token
    surface pages arbitrary user key columns, sign included)."""
    import duckdb
    import numpy as np

    from cqlcopy_spark.functions.portable import (
        KNUTH,
        M32,
        portable_token,
        sql_portable_token,
    )
    from pyspark.sql import functions as F

    keys = [-1, -(2**31), -(2**33) - 5, -999983, 0, 3, 2**34 + 17]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["t"]
        for r in df.select("k", portable_token(F.col("k")).alias("t")).collect()
    }
    sql = sql_portable_token("k")
    arr = np.array(keys, dtype=np.int64)
    k1 = arr % np.int64(M32)  # numpy %: divisor sign → already nonnegative
    hi, lo = k1 // np.int64(65536), k1 % np.int64(65536)
    t1 = (np.int64(KNUTH) * hi) % np.int64(M32)
    t2 = (t1 * np.int64(65536)) % np.int64(M32)
    np_tok = (t2 + np.int64(KNUTH) * lo) % np.int64(M32)
    for k, nt in zip(keys, np_tok):
        duck = duckdb.sql(f"SELECT {sql} AS t FROM (SELECT {k} AS k)").fetchone()[0]
        assert got[k] == duck == int(nt), (k, got[k], duck, int(nt))
        assert 0 <= got[k] < M32


def test_null_literal_as_string_data_round_trips(spark, tmp_path):
    """A STRING whose value is the null literal must survive the export
    → dynamic-parse round trip distinctly from SQL NULL (write.go
    214-215 vs read.go 181-190: quoted "NULL" is data, bare NULL is
    null). Spark's own CSV writer cannot express this — write_csv
    renders its own lines precisely so this test can pass."""
    from cqlcopy_spark.config import DEFAULT_CONFIG
    from cqlcopy_spark.sinks.csv_sink import write_csv
    from cqlcopy_spark.sources.csv_source import cast_dynamic, parse_csv_dynamic

    df = spark.createDataFrame(
        [(1, "NULL"), (2, None), (3, "plain")], "id long, name string"
    )
    out = str(tmp_path / "nullness")
    write_csv(df, out, DEFAULT_CONFIG)
    raw = parse_csv_dynamic(spark, out, ["id", "name"], DEFAULT_CONFIG)
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    back = {
        r["id"]: r["name"]
        for r in cast_dynamic(raw, schema, DEFAULT_CONFIG).collect()
    }
    assert back == {1: "NULL", 2: None, 3: "plain"}


def test_write_csv_honours_bool_style(spark, tmp_path):
    """--bool-style literals reach the rendered lines, not Spark's
    cast-to-string 'true'/'false'."""
    import os
    from dataclasses import replace

    from cqlcopy_spark.sinks.csv_sink import write_csv

    out = str(tmp_path / "bools")
    cfg = replace(CFG, header=False, bool_style=("yes", "no"))
    write_csv(
        spark.createDataFrame([(1, True), (2, False), (3, None)], "id long, ok boolean"),
        out,
        cfg,
    )
    lines = sorted(
        ln
        for f in os.listdir(out)
        if f.startswith("part-")
        for ln in open(os.path.join(out, f), encoding="utf-8").read().splitlines()
    )
    assert lines == ["1,yes", "2,no", "3,NULL"]
