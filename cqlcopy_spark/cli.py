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
directory via executors. No write path runs a Python stage: both
imports parse in the JVM (`sources/csv_source.py`), and progress comes
from Spark's status store (`progress.py`).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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


#: The reference's write and read flags (write.go:28-42, read.go:25-32)
#: as (flag, CopyConfig field, subcommand that lists it in --help, or
#: None for both), in --help order; each default is the field's value in
#: DEFAULT_CONFIG. The other subcommand accepts the flag too, hidden, and
#: the path it runs never reads it.
_FLAGS = (
    ("--partition-key-size", "partition_key_size", "read"),
    ("--offset", "offset", "read"),
    ("--page-size", "page_size", "read"),
    ("--prefetch", "prefetch", "read"),
    ("--header", "header", None),
    ("--bool-style", "bool_style", None),
    ("--time-format", "time_format_go", None),
    ("--null", "null_literal", None),
    ("--num-processes", "num_workers", "write"),
    ("--chunk-size", "chunk_size", "write"),
    ("--max-batch-size", "max_batch_kb", "write"),
    ("--max-attempts", "max_attempts", "write"),
    ("--backoff", "backoff_s", "write"),
    ("--max-parse-errors", "max_parse_errors", "write"),
    ("--max-insert-errors", None, "write"),
    ("--report-frequency", "report_freq_s", "write"),
)
_HELP = {
    "--offset": "resume: export only rows with token(pk) > offset",
    "--max-insert-errors": "accepted for the reference's flag surface; no effect: "
    "a batch that exhausts --max-attempts fails the job",
}


def _add_copy_flags(sp: argparse.ArgumentParser, command: str) -> None:
    for flag, field, shown_in in _FLAGS:
        if field is None:  # --max-insert-errors: parsed, never read
            kw = {"type": int, "default": -1}
        else:
            default = getattr(DEFAULT_CONFIG, field)
            if isinstance(default, bool):
                kw = {"action": argparse.BooleanOptionalAction, "default": default}
            elif isinstance(default, tuple):
                kw = {"default": ",".join(default)}
            else:
                kw = {"type": type(default), "default": default}
        shown = shown_in in (None, command)
        sp.add_argument(flag, help=_HELP.get(flag) if shown else argparse.SUPPRESS, **kw)


def _cfg_from_args(args: argparse.Namespace) -> CopyConfig:
    values = {
        field: getattr(args, flag[2:].replace("-", "_"))
        for flag, field, _ in _FLAGS
        if field is not None
    }
    bool_style = tuple(s.strip() for s in values["bool_style"].split(","))
    if len(bool_style) != 2:
        raise ValueError("--bool-style must be 'true_literal,false_literal'")
    values["bool_style"] = bool_style
    values["report_freq_s"] = max(values["report_freq_s"], 0.1)  # floor, write.go:126-128
    return CopyConfig(**values)


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
    _add_copy_flags(w, "write")

    r = sub.add_parser("read", parents=[root], help="table → CSV (reference read.go)")
    r.add_argument("table")
    r.add_argument("columns", nargs="+")
    r.add_argument("--output", required=True,
                   help="output directory for distributed CSV, or '-' for stdout")
    _add_copy_flags(r, "read")
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
    from cqlcopy_spark.sources.csv_source import infer_csv_schema, read_csv, read_csv_dynamic

    if args.types:
        schema = _schema_from_types(args.columns, args.types)
        if not args.dynamic:
            return read_csv(spark, path, schema, cfg)
    elif args.dynamic:
        raise ValueError("--dynamic requires --types (the target schema)")
    else:
        schema = infer_csv_schema(spark, path, args.columns, cfg)
    return read_csv_dynamic(spark, path, schema, cfg)


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

    loaded, spool = _load_write_input(spark, args, cfg)
    try:
        # --num-processes workers ≡ partitions; round-robin keeps them
        # size-balanced like the reference's shared channel (write.go:122)
        df = loaded.repartition(cfg.num_workers)
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
    if cfg.offset > DEFAULT_CONFIG.offset:
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
        df = scan_token_range(df, pk_cols, cfg.offset, cfg).drop("token")
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
