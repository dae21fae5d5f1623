"""CLI mirroring the reference's command surface (main.go:13-50).

The reference is a two-command tool:

    cqlcopy write <table> <cols...>   # CSV on stdin → Cassandra
    cqlcopy read  <table> <cols...>   # Cassandra → CSV on stdout

This module reproduces that shape over the engine's sources/sinks:

    python -m cqlcopy_spark write <table> <cols...> --input data.csv
    python -m cqlcopy_spark read  <table> <cols...> --output out_dir

Every reference flag maps 1:1 (write.go:28-42, read.go:25-32,
flag.go:3-20); `--backend cassandra` assembles the real connector
options (sources/cassandra.py — needs the connector jar on the
classpath), while `--backend parquet` (default) is the file stand-in
the test harness exercises. Engine extensions beyond the reference:
`--types` declares column types up front (the reference discovers them
from cluster metadata, read.go:146-156 — a parquet table carries its
own schema on read, but the write path needs a declaration or
inference), `--dynamic` selects the cell-dynamic typing path
(write.go:199-223 fidelity), and floats work (README.md:11 gap).

Both exports render lines once, in the JVM (`sinks/csv_sink.render_lines`,
the reference's convention: strings quoted, other types bare, read.go:181-190),
so a directory and stdout carry the same lines. Stdout export
(`--output -`) is intentionally a single driver-side stream: the
reference's stdout is exactly as serial. Distributed export goes to a
directory via executors. The typed write path runs no Python stage:
progress comes from Spark's status store (`progress.py`).
"""

from __future__ import annotations

import argparse
import sys
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import col

from cqlcopy_spark.config import DEFAULT_CONFIG, CopyConfig, require_identifiers

_TYPE_MAP = {
    "string": T.StringType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
    "date": T.DateType(),
}


def _schema_from_types(cols: list[str], types_arg: str) -> T.StructType:
    names = [t.strip().lower() for t in types_arg.split(",")]
    if len(names) != len(cols):
        raise ValueError(
            f"--types lists {len(names)} types for {len(cols)} columns"
        )
    for t in names:
        if t not in _TYPE_MAP:
            raise ValueError(f"unknown type {t!r}; choose from {sorted(_TYPE_MAP)}")
    return T.StructType(
        [T.StructField(c, _TYPE_MAP[t]) for c, t in zip(cols, names)]
    )


def _cfg_from_args(args: argparse.Namespace) -> CopyConfig:
    bool_style = tuple(s.strip() for s in args.bool_style.split(","))
    if len(bool_style) != 2:
        raise ValueError("--bool-style must be 'true_literal,false_literal'")
    return replace(
        DEFAULT_CONFIG,
        header=args.header,
        bool_style=bool_style,
        time_format_go=args.time_format,
        null_literal=args.null,
        num_workers=args.num_processes,
        chunk_size=args.chunk_size,
        max_batch_kb=args.max_batch_size,
        max_attempts=args.max_attempts,
        backoff_s=args.backoff,
        max_parse_errors=args.max_parse_errors,
        max_insert_errors=args.max_insert_errors,
        report_freq_s=max(args.report_frequency, 0.1),  # floor, write.go:126-128
        page_size=args.page_size,
        prefetch=args.prefetch,
        partition_key_size=args.partition_key_size,
        offset=args.offset,
    )


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="cqlcopy_spark",
        description="Bulk COPY between CSV and a table (reference: cqlcopy)",
    )
    # root flags (main.go:33-43) — attached to both subcommands via a
    # parent parser so they may appear before OR after the subcommand.
    root = argparse.ArgumentParser(add_help=False)
    root.add_argument("--connect", default="127.0.0.1", help="cluster contact point")
    root.add_argument("--keyspace", default=None, help="default keyspace")
    root.add_argument("--backend", choices=["parquet", "cassandra"], default="parquet",
                      help="table backend: parquet stand-in (default) or the Cassandra connector")
    root.add_argument("--path", default=None,
                      help="parquet backend: table location (file or directory)")
    sub = p.add_subparsers(dest="command", required=True)

    w = sub.add_parser("write", parents=[root], help="CSV → table (reference write.go)")
    w.add_argument("table")
    w.add_argument("columns", nargs="+")
    w.add_argument("--input", required=True,
                   help="CSV path ('-' reads stdin via a driver-side spool)")
    w.add_argument("--types", default=None,
                   help="comma list of column types (omit to infer from data)")
    w.add_argument("--dynamic", action="store_true",
                   help="cell-dynamic typing (reference write.go:199-223 fidelity; needs --types)")
    # write flags (write.go:28-42)
    w.add_argument("--header", action=argparse.BooleanOptionalAction, default=True)
    w.add_argument("--bool-style", default="true,false")
    w.add_argument("--time-format", default="2006-01-02 15:04:05-0700")
    w.add_argument("--null", default="NULL")
    w.add_argument("--num-processes", type=int, default=8)
    w.add_argument("--chunk-size", type=int, default=1000)
    w.add_argument("--max-batch-size", type=int, default=20)
    w.add_argument("--max-attempts", type=int, default=5)
    w.add_argument("--backoff", type=float, default=1.0)
    w.add_argument("--max-parse-errors", type=int, default=-1)
    w.add_argument("--max-insert-errors", type=int, default=-1)
    w.add_argument("--report-frequency", type=float, default=0.25)

    r = sub.add_parser("read", parents=[root], help="table → CSV (reference read.go)")
    r.add_argument("table")
    r.add_argument("columns", nargs="+")
    r.add_argument("--output", required=True,
                   help="output directory for distributed CSV, or '-' for stdout")
    # read flags (read.go:25-32)
    r.add_argument("--partition-key-size", type=int, default=1)
    r.add_argument("--offset", type=int, default=-(2 ** 63),
                   help="resume: export only rows with token(pk) > offset")
    r.add_argument("--page-size", type=int, default=128)
    r.add_argument("--prefetch", type=int, default=1024)
    r.add_argument("--header", action=argparse.BooleanOptionalAction, default=True)
    r.add_argument("--bool-style", default="true,false")
    r.add_argument("--time-format", default="2006-01-02 15:04:05-0700")
    r.add_argument("--null", default="NULL")

    # flags shared by both paths but unused by one keep their defaults
    for sp, names in ((r, ["--num-processes", "--chunk-size", "--max-batch-size",
                           "--max-attempts", "--backoff", "--max-parse-errors",
                           "--max-insert-errors", "--report-frequency"]),
                      (w, ["--partition-key-size", "--offset", "--page-size",
                           "--prefetch"])):
        defaults = {"--num-processes": 8, "--chunk-size": 1000,
                    "--max-batch-size": 20, "--max-attempts": 5,
                    "--backoff": 1.0, "--max-parse-errors": -1,
                    "--max-insert-errors": -1, "--report-frequency": 0.25,
                    "--partition-key-size": 1, "--offset": -(2 ** 63),
                    "--page-size": 128, "--prefetch": 1024}
        for n in names:
            typ = type(defaults[n])
            sp.add_argument(n, type=typ, default=defaults[n], help=argparse.SUPPRESS)
    return p


def _load_write_input(
    spark: SparkSession, args: argparse.Namespace, cfg: CopyConfig
) -> "tuple[DataFrame, str | None]":
    """Returns (df, spool_path): spool_path is the stdin temp file to
    unlink AFTER the job consumes it (None for a real file input) — the
    caller owns the cleanup because the DataFrame reads it lazily."""
    path = args.input
    if path == "-":
        # The reference streams stdin unboundedly (write.go:121-156); a
        # Spark batch job needs a rewindable input, so spool to a temp
        # file first. Bounded by local disk — documented trade.
        import tempfile

        with tempfile.NamedTemporaryFile(
            "w", suffix=".csv", delete=False, encoding="utf-8"
        ) as tmp:
            tmp.write(sys.stdin.read())
            path = tmp.name
    spool = path if args.input == "-" else None

    def _build() -> DataFrame:
        return _build_write_df(spark, args, cfg, path)

    if spool is None:
        return _build(), None
    try:
        return _build(), spool
    except BaseException:
        # an error between spooling and returning (parse-error budget,
        # schema validation, Spark analysis) must not leak the piped
        # input in the temp dir; the success path's cleanup lives in
        # run_write's finally (the DataFrame reads the spool lazily)
        _unlink_quiet(spool)
        raise


def _unlink_quiet(path: str) -> None:
    import os

    try:
        os.unlink(path)
    except OSError:
        pass


def _build_write_df(
    spark: SparkSession, args: argparse.Namespace, cfg: CopyConfig, path: str
) -> DataFrame:
    from cqlcopy_spark.sources.csv_source import (
        cast_dynamic,
        csv_read_options,
        parse_csv_dynamic,
        read_csv,
    )

    def _dynamic_with_budget(schema: T.StructType) -> DataFrame:
        # persist: the budget count AND the downstream consumer both
        # execute the Python RFC-4180 parse lineage — unpersisted, the
        # dominant per-line cost runs twice (CLAUDE.md persist rule)
        raw = parse_csv_dynamic(spark, path, args.columns, cfg).persist()
        bad = raw.filter(col("_parse_error").isNotNull()).count()
        if 0 <= cfg.max_parse_errors < bad:
            raise ValueError(
                f"parse-error budget exceeded: {bad} > {cfg.max_parse_errors}"
            )
        # count-and-SKIP, like the reference (write.go:140-147): rows
        # inside the budget are logged against it but never inserted
        # as half-parsed garbage
        ok = raw.filter(col("_parse_error").isNull())
        return cast_dynamic(ok, schema, cfg).drop("_parse_error")

    if args.types:
        schema = _schema_from_types(args.columns, args.types)
        if args.dynamic:
            return _dynamic_with_budget(schema)
        return read_csv(spark, path, schema, cfg)
    if args.dynamic:
        raise ValueError("--dynamic requires --types (the target schema)")
    # Inference path (SURVEY.md §7 notes this is a semantic upgrade over
    # the reference's per-cell inference): Spark's reader infers the TYPES,
    # but the rows flow through the RFC-4180 dynamic parser. The old
    # corrupt-record check here was dead code (r03 ADVICE: inferSchema
    # never materializes the corrupt column) — and re-reading with the
    # inferred schema extended by the corrupt field can't fire either,
    # because full-file inference widens every column to accommodate
    # whatever PERMISSIVE parsing produced. Arity errors from the dynamic
    # parser are what a "parse error" means when no schema is declared,
    # and they give the budget real teeth.
    opts = dict(csv_read_options(cfg))
    corrupt_col = opts["columnNameOfCorruptRecord"]
    inferred = spark.read.options(inferSchema="true", **opts).csv(path).schema
    data_fields = [f for f in inferred.fields if f.name != corrupt_col]
    if len(data_fields) != len(args.columns):
        raise ValueError(
            f"input has {len(data_fields)} columns, expected {len(args.columns)}"
        )
    _castable = (
        T.StringType, T.BooleanType, T.TimestampType, T.TimestampNTZType,
        T.DateType, T.LongType, T.IntegerType, T.DoubleType, T.FloatType,
    )
    schema = T.StructType(
        [
            T.StructField(
                c, f.dataType if isinstance(f.dataType, _castable) else T.StringType()
            )
            for c, f in zip(args.columns, data_fields)
        ]
    )
    return _dynamic_with_budget(schema)


def _emit_stdout_csv(df: DataFrame, cfg: CopyConfig, out) -> None:
    """Reference stdout semantics (read.go:140-190): the rendered lines
    `write_csv` writes, streamed through the driver. Serial by nature —
    stdout is one stream for the reference too."""
    from cqlcopy_spark.sinks.csv_sink import render_lines

    lines = render_lines(df, cfg)
    if cfg.header:
        out.write(lines.columns[0] + "\n")
    for (line,) in lines.toLocalIterator():
        out.write(line + "\n")


def _qualified_table(args: argparse.Namespace) -> str:
    """keyspace.table for the cassandra backend: a qualified table name
    is used as given, an unqualified one needs --keyspace."""
    if "." in args.table:
        return args.table
    if not args.keyspace:
        raise ValueError("--keyspace is required for an unqualified table name")
    return f"{args.keyspace}.{args.table}"


def run_write(spark: SparkSession, args: argparse.Namespace) -> int:
    cfg = _cfg_from_args(args)
    require_identifiers(args.table, *args.columns)
    from cqlcopy_spark.progress import ProgressReporter
    from cqlcopy_spark.sinks.csv_sink import repartition_for_workers

    loaded, spool = _load_write_input(spark, args, cfg)
    try:
        df = repartition_for_workers(loaded, cfg)
        # Progress to stderr (the reference's logger also writes there),
        # keeping stdout clean for data.
        with ProgressReporter(
            spark.sparkContext,
            report=lambda s: print(s, file=sys.stderr),
            freq_s=cfg.report_freq_s,
        ):
            if args.backend == "cassandra":
                from cqlcopy_spark.sources.cassandra import copy_to_cassandra

                copy_to_cassandra(df, _qualified_table(args), cfg)
            else:
                if not args.path:
                    raise ValueError("--path is required for the parquet backend")
                df.write.mode("append").parquet(args.path)
    finally:
        # finally, not success-only (r04 ADVICE): a failed validation or
        # Spark job must not leak the piped input in the temp dir
        if spool is not None:
            _unlink_quiet(spool)
    return 0


def run_read(spark: SparkSession, args: argparse.Namespace) -> int:
    cfg = _cfg_from_args(args)
    require_identifiers(args.table, *args.columns)
    from cqlcopy_spark.sinks.csv_sink import write_csv
    from cqlcopy_spark.sources.cassandra import read_from_cassandra, scan_token_range

    if args.backend == "cassandra":
        df = read_from_cassandra(spark, _qualified_table(args), args.columns, cfg)
    else:
        if not args.path:
            raise ValueError("--path is required for the parquet backend")
        df = spark.read.parquet(args.path).select(*args.columns)
    if args.offset > -(2 ** 63):
        # resume: re-export only the ring after the last seen token
        # (read.go:100-107); drop the helper column like the reference
        # drops token(pk) from its SELECT list output (read.go:181).
        # The partition key is the FIRST --partition-key-size columns
        # (read.go:20,29) — tokening only columns[0] when the key is
        # composite would resume from the wrong ring position.
        if cfg.partition_key_size > len(args.columns):
            # silently slicing to fewer columns would token a DIFFERENT
            # composite key and resume from the wrong ring position —
            # the same silent-wrong-resume class the integer check below
            # guards against
            raise ValueError(
                f"--partition-key-size {cfg.partition_key_size} exceeds the "
                f"{len(args.columns)} exported columns; the partition key "
                "must be a prefix of the column list"
            )
        pk_cols = args.columns[: max(1, cfg.partition_key_size)]
        types = {f.name: f.dataType for f in df.schema.fields}
        for c in pk_cols:
            if not isinstance(
                types[c], (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                # portable_token casts to long; a non-numeric key would
                # token to NULL and the > filter would silently drop
                # EVERY row
                raise ValueError(
                    f"--offset resume requires integer partition-key "
                    f"columns; {c!r} is {types[c].simpleString()}"
                )
        df = scan_token_range(df, pk_cols, args.offset, cfg).drop("token")
    if args.output == "-":
        _emit_stdout_csv(df, cfg, sys.stdout)
    else:
        write_csv(df, args.output, cfg)
    return 0


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from cqlcopy_spark.session import get_spark

        spark = get_spark(f"cqlcopy_spark-{args.command}")
    try:
        if args.command == "write":
            return run_write(spark, args)
        return run_read(spark, args)
    finally:
        if own_session:
            spark.stop()
