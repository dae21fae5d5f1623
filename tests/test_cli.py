"""CLI surface tests: the reference's two commands (`write`, `read` —
main.go:13-50) reproduced over the parquet stand-in backend, including
the COPY round-trip, the resume offset, stdout quoting semantics, and
flag validation."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from cqlcopy_spark.cli import main
from tests.conftest import SF_SMALL

_CSV = """\
"id","name","price","ok","when"
1,widget,9.5,true,2024-01-02 03:04:05+0000
2,"quoted,name",0.25,false,2024-01-02 03:04:06+0000
3,"NULL",NULL,true,2024-01-02 03:04:07+0000
"""


def _write_input(tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(_CSV, encoding="utf-8")
    return str(p)


def test_cli_write_schema_first_roundtrip(spark, tmp_path):
    """write: CSV → parquet with declared types; quoted "NULL" stays a
    string while unquoted NULL is null (write.go:208-215) — on the
    --dynamic path below; the schema-first path maps both to null for
    string columns only when unquoted (Spark nullValue semantics)."""
    out = str(tmp_path / "t.parquet")
    rc = main(
        [
            "write", "items", "id", "name", "price", "ok", "when",
            "--input", _write_input(tmp_path),
            "--types", "long,string,double,bool,timestamp",
            "--path", out,
            "--num-processes", "2",
        ],
        spark=spark,
    )
    assert rc == 0
    df = spark.read.parquet(out)
    assert df.count() == 3
    got = {r["id"]: r for r in df.collect()}
    assert got[1]["name"] == "widget" and abs(got[1]["price"] - 9.5) < 1e-12
    assert got[2]["name"] == "quoted,name" and got[2]["ok"] is False
    assert got[3]["price"] is None  # unquoted NULL literal → SQL null
    assert got[1]["when"] is not None


def test_cli_write_dynamic_preserves_quoted_null(spark, tmp_path):
    """--dynamic: the cell-typing fidelity path keeps quoted "NULL" as
    the string it is (write.go:208-209 vs 214-215)."""
    out = str(tmp_path / "t2.parquet")
    rc = main(
        [
            "write", "items", "id", "name", "price", "ok", "when",
            "--input", _write_input(tmp_path),
            "--types", "long,string,double,bool,timestamp",
            "--dynamic",
            "--path", out,
        ],
        spark=spark,
    )
    assert rc == 0
    got = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert got[3]["name"] == "NULL"  # quoted → stays a string
    assert got[3]["price"] is None   # unquoted → null


def test_cli_write_dynamic_leaves_nothing_cached(spark, tmp_path):
    """A `write --dynamic` under a parse budget caches nothing: the
    session outlives the command, and a cached parse both holds its rows
    for the rest of the session and answers the next write of the same
    path with the old rows after the file has changed."""
    spark.catalog.clearCache()
    src = _write_input(tmp_path)
    argv = [
        "write", "items", "id", "name", "price", "ok", "when",
        "--input", src,
        "--types", "long,string,double,bool,timestamp",
        "--dynamic", "--max-parse-errors", "5",
    ]
    assert main(argv + ["--path", str(tmp_path / "t3.parquet")], spark=spark) == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    with open(src, "a", encoding="utf-8") as f:
        f.write("4,new,1.0,true,2024-01-02 03:04:08+0000\n")
    assert main(argv + ["--path", str(tmp_path / "t4.parquet")], spark=spark) == 0
    assert spark.read.parquet(str(tmp_path / "t4.parquet")).count() == 4


def test_cli_read_stdout_quotes_strings_only(spark, tmp_path):
    """read --output -: header quoted, string values quoted, numerics
    bare (read.go:181-190 type-preserving convention)."""
    src = str(tmp_path / "t3.parquet")
    main(
        [
            "write", "items", "id", "name", "price", "ok", "when",
            "--input", _write_input(tmp_path),
            "--types", "long,string,double,bool,timestamp",
            "--path", src,
        ],
        spark=spark,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            ["read", "items", "id", "name", "--path", src, "--output", "-"],
            spark=spark,
        )
    assert rc == 0
    lines = buf.getvalue().strip().split("\n")
    assert lines[0] == '"id","name"'
    body = sorted(lines[1:])
    assert body[0] == '1,"widget"'
    assert '2,"quoted,name"' in body  # embedded comma survives quoting


def test_cli_read_resume_offset_matches_token_scan(spark, tmp_path):
    """--offset replays only the ring after the last token, exactly like
    scan_token_range (read.go:100-119)."""
    from cqlcopy_spark.functions.portable import KNUTH, M32

    src = f"{SF_SMALL}/orders.parquet"
    full = spark.read.parquet(src).select("o_orderkey")
    offset = 2 ** 31  # mid-ring
    expected = full.filter(
        (full.o_orderkey * KNUTH) % M32 > offset
    ).count()
    out = str(tmp_path / "resumed")
    rc = main(
        [
            "read", "orders", "o_orderkey",
            "--path", src, "--output", out, "--offset", str(offset),
        ],
        spark=spark,
    )
    assert rc == 0
    got = spark.read.options(header="true").csv(out).count()
    assert got == expected > 0


def test_cli_rejects_bad_identifiers(spark, tmp_path):
    with pytest.raises(ValueError, match="invalid identifier"):
        main(
            ["read", "orders; DROP", "o_orderkey",
             "--path", "x", "--output", "-"],
            spark=spark,
        )


def test_cli_write_parse_budget_enforced(spark, tmp_path):
    """--max-parse-errors 0 with a malformed line must abort the load
    (write.go:140-147; the engine enforces what the reference logs)."""
    bad = tmp_path / "bad.csv"
    bad.write_text('"id","name"\n1,ok\n"unterminated,oops\n', encoding="utf-8")
    with pytest.raises(ValueError, match="budget"):
        main(
            [
                "write", "items", "id", "name",
                "--input", str(bad),
                "--types", "long,string",
                "--dynamic",
                "--max-parse-errors", "0",
                "--path", str(tmp_path / "never.parquet"),
            ],
            spark=spark,
        )


def test_cli_stdin_spool_cleaned_on_error(spark, tmp_path, monkeypatch):
    """A piped invocation that FAILS (parse budget, here) must not leak
    the spooled stdin in the temp dir (r04 ADVICE: cleanup ran only on
    the success path)."""
    import io as _io
    import os
    import tempfile

    spool_dir = tmp_path / "spools"
    spool_dir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(spool_dir))
    monkeypatch.setattr(
        "sys.stdin", _io.StringIO('"id","name"\n1,ok\n"unterminated,oops\n')
    )
    with pytest.raises(ValueError, match="budget"):
        main(
            [
                "write", "items", "id", "name",
                "--input", "-",
                "--types", "long,string",
                "--dynamic",
                "--max-parse-errors", "0",
                "--path", str(tmp_path / "never_spool.parquet"),
            ],
            spark=spark,
        )
    assert os.listdir(spool_dir) == []  # spool unlinked on the error path


def test_cli_write_inference_parse_budget_binds(spark, tmp_path):
    """Inference path (no --types): the parse-error budget must bind too.
    r03 ADVICE: the old corrupt-column check was dead code because
    inferSchema never materializes the corrupt-record field."""
    bad = tmp_path / "bad_inf.csv"
    # extra-column row: malformed against the inferred 2-column schema
    # (an unterminated quote would just widen the inferred type to string
    # and parse cleanly — inference is deliberately forgiving there)
    bad.write_text('"id","name"\n1,ok\n2,x,extra,cols\n3,fine\n', encoding="utf-8")
    with pytest.raises(ValueError, match="budget"):
        main(
            [
                "write", "items", "id", "name",
                "--input", str(bad),
                "--max-parse-errors", "0",
                "--path", str(tmp_path / "never_inf.parquet"),
            ],
            spark=spark,
        )
    # inside the budget: malformed row skipped, good rows load
    out = str(tmp_path / "ok_inf.parquet")
    rc = main(
        [
            "write", "items", "id", "name",
            "--input", str(bad),
            "--max-parse-errors", "1",
            "--path", out,
        ],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(out).count() == 2


def test_cli_read_resume_composite_partition_key(spark, tmp_path):
    """--partition-key-size 2 must token the COMPOSITE (first two)
    columns when resuming — tokening only columns[0] resumes from the
    wrong ring position (read.go:20,29)."""
    from cqlcopy_spark.functions.portable import KNUTH, M32

    src = f"{SF_SMALL}/orders.parquet"
    full = spark.read.parquet(src).select("o_orderkey", "o_custkey")
    offset = 2 ** 31
    t1 = (full.o_orderkey * KNUTH) % M32
    t2 = (full.o_custkey * KNUTH) % M32
    expected = full.filter((t1 * 31 + t2) % M32 > offset).count()
    single = full.filter(t1 > offset).count()
    assert expected != single  # the two semantics genuinely differ here
    out = str(tmp_path / "resumed_composite")
    rc = main(
        [
            "read", "orders", "o_orderkey", "o_custkey",
            "--path", src, "--output", out,
            "--offset", str(offset), "--partition-key-size", "2",
        ],
        spark=spark,
    )
    assert rc == 0
    got = spark.read.options(header="true").csv(out).count()
    assert got == expected > 0


def test_cli_write_inference_keeps_inferred_dates(spark, tmp_path):
    """An ISO-date CSV column infers as DATE and must land in parquet as
    DATE, not be silently downgraded to string (review finding on the
    inference-path rewrite)."""
    p = tmp_path / "dated.csv"
    p.write_text('"id","d"\n1,2024-01-03\n2,2024-02-29\n', encoding="utf-8")
    out = str(tmp_path / "dated.parquet")
    rc = main(
        ["write", "items", "id", "d", "--input", str(p), "--path", out],
        spark=spark,
    )
    assert rc == 0
    got = spark.read.parquet(out)
    import pyspark.sql.types as T2

    assert isinstance(got.schema["d"].dataType, T2.DateType), got.schema
    assert got.count() == 2


def test_cli_read_rejects_oversized_partition_key(spark, tmp_path):
    """--partition-key-size larger than the exported column list must
    error, not silently token a truncated key (wrong ring position)."""
    src = f"{SF_SMALL}/orders.parquet"
    with pytest.raises(ValueError, match="partition-key-size"):
        main(
            [
                "read", "orders", "o_orderkey", "o_custkey",
                "--path", src, "--output", str(tmp_path / "never"),
                "--offset", "0", "--partition-key-size", "3",
            ],
            spark=spark,
        )


def test_cli_write_declared_date_type(spark, tmp_path):
    """--types date must be accepted on the dynamic path, reaching
    cast_cell's DateType branch from a declared schema too."""
    p = tmp_path / "declared_date.csv"
    p.write_text('"id","d"\n1,2024-01-03\n2,notadate\n', encoding="utf-8")
    out = str(tmp_path / "declared_date.parquet")
    rc = main(
        [
            "write", "items", "id", "d",
            "--input", str(p), "--types", "long,date", "--dynamic",
            "--path", out,
        ],
        spark=spark,
    )
    assert rc == 0
    got = {r["id"]: r["d"] for r in spark.read.parquet(out).collect()}
    import datetime

    assert got[1] == datetime.date(2024, 1, 3)
    assert got[2] is None  # unparseable cell → null, row survives


@pytest.mark.parametrize("dynamic", [False, True], ids=["typed", "dynamic"])
def test_cli_write_int64_extremes_round_trip(spark, tmp_path, dynamic):
    """int64 min and max and a nullable long above 2**53 land exactly:
    the typed write carries no pandas stage that would widen a nullable
    long column to float64. One partition puts the NULL and the extremes
    in one batch, where such a stage would meet both."""
    p = tmp_path / "longs.csv"
    rows = {1: -(2**63), 2: 2**63 - 1, 3: 2**53 + 1, 4: None}
    body = "".join(f"{k},{'NULL' if v is None else v}\n" for k, v in rows.items())
    p.write_text('"id","q"\n' + body, encoding="utf-8")
    out = str(tmp_path / "longs.parquet")
    argv = [
        "write", "t", "id", "q", "--input", str(p), "--types", "long,long",
        "--path", out, "--num-processes", "1",
    ]
    assert main(argv + ["--dynamic"] * dynamic, spark=spark) == 0
    got = {r["id"]: r["q"] for r in spark.read.parquet(out).collect()}
    assert got == rows


def test_cli_write_keeps_caller_job_group(spark, tmp_path):
    """The progress reporter reuses a job group the caller set (a tracer
    counting jobs per call) and leaves it in place."""
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    try:
        rc = main(
            [
                "write", "items", "id", "name", "price", "ok", "when",
                "--input", _write_input(tmp_path),
                "--types", "long,string,double,bool,timestamp",
                "--path", str(tmp_path / "grouped.parquet"),
            ],
            spark=spark,
        )
        assert rc == 0
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.statusTracker().getJobIdsForGroup("caller-group")
    finally:
        sc._jsc.clearJobGroup()


def test_cli_read_directory_and_stdout_render_same_lines(spark, tmp_path):
    """One renderer for both exports: a directory export and a stdout
    export of one long/string/bool/timestamp/double table carry the same
    quoted header and the same lines — strings quoted, everything else
    bare, SQL NULL the bare literal (read.go:181-190)."""
    import datetime
    import os

    src = str(tmp_path / "typed.parquet")
    spark.createDataFrame(
        [
            (1, 1.5, True, datetime.datetime(2024, 1, 2, 3, 4, 5), "keep"),
            (2, None, None, None, "NULL"),
            (3, -2.0, False, datetime.datetime(2024, 1, 2, 3, 4, 6), None),
        ],
        "a long, b double, c boolean, d timestamp, e string",
    ).write.parquet(src)
    read = ["read", "t", "a", "b", "c", "d", "e", "--path", src]
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(read + ["--output", "-"], spark=spark) == 0
    stdout = buf.getvalue().splitlines()
    out = str(tmp_path / "exported")
    assert main(read + ["--output", out], spark=spark) == 0
    parts = [
        open(os.path.join(out, f), encoding="utf-8").read().splitlines()
        for f in os.listdir(out)
        if f.startswith("part-")
    ]
    header = '"a","b","c","d","e"'
    assert stdout[0] == header and {p[0] for p in parts} == {header}
    body = sorted(ln for p in parts for ln in p[1:])
    assert body == sorted(stdout[1:]) == [
        '1,1.5,true,2024-01-02 03:04:05+0000,"keep"',
        '2,NULL,NULL,NULL,"NULL"',
        "3,-2.0,false,2024-01-02 03:04:06+0000,NULL",
    ]


@pytest.mark.parametrize("command", ["read", "write"])
def test_cli_cassandra_unqualified_table_needs_keyspace(
    spark, tmp_path, monkeypatch, command
):
    """--backend cassandra with an unqualified table and no --keyspace
    raises ValueError before either connector entry point is called."""
    import cqlcopy_spark.sources.cassandra as cass

    called = []
    monkeypatch.setattr(cass, "copy_to_cassandra", lambda *a: called.append(a))
    monkeypatch.setattr(cass, "read_from_cassandra", lambda *a: called.append(a))
    if command == "write":
        argv = ["write", "items", "id", "name", "price", "ok", "when",
                "--input", _write_input(tmp_path),
                "--types", "long,string,double,bool,timestamp"]
    else:
        argv = ["read", "items", "id", "--output", "-"]
    with pytest.raises(ValueError, match="--keyspace is required"):
        main(argv + ["--backend", "cassandra"], spark=spark)
    assert called == []


@pytest.mark.parametrize("command", ["read", "write"])
def test_cli_defaults_come_from_copy_config(command):
    """Minimal argv parses to DEFAULT_CONFIG, and within each subcommand
    every CopyConfig field is set by exactly one flag (hidden ones
    included), so each default has one home: the CopyConfig field."""
    import argparse
    import dataclasses

    from cqlcopy_spark.cli import _cfg_from_args, build_parser
    from cqlcopy_spark.config import DEFAULT_CONFIG, CopyConfig

    parser = build_parser()
    base = [command, "t", "a", "--input" if command == "write" else "--output", "x"]
    assert _cfg_from_args(parser.parse_args(base)) == DEFAULT_CONFIG

    (subparsers,) = [
        a for a in parser._actions if isinstance(a, argparse._SubParsersAction)
    ]
    fields = [f.name for f in dataclasses.fields(CopyConfig)]
    set_by = {f: [] for f in fields}
    not_config = {"help", "connect", "keyspace", "backend", "path", "input",
                  "output", "types", "dynamic"}
    for action in subparsers.choices[command]._actions:
        if not action.option_strings or action.dest in not_config:
            continue
        flag, d = action.option_strings[0], action.default
        if isinstance(d, bool):
            argv = ["--no-" + flag[2:]]
        elif isinstance(d, (int, float)):
            argv = [flag, str(d + 1)]
        else:
            argv = [flag, d[::-1]]
        cfg = _cfg_from_args(parser.parse_args(base + argv))
        changed = [f for f in fields if getattr(cfg, f) != getattr(DEFAULT_CONFIG, f)]
        assert len(changed) <= 1, (flag, changed)
        for f in changed:
            set_by[f].append(flag)
    assert all(len(flags) == 1 for flags in set_by.values()), set_by
