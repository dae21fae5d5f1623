"""Custom PySpark DataSource reproducing the reference's read path as a
real Spark source (SURVEY.md §2A ops 16-19): parquet row-group spans
become `InputPartition`s (the stand-in for the connector's token-range
input splits), per-partition iteration is paged, and resume-from-token
is an option — expressed through PySpark 4's Python DataSource API.

Reference parity (riptl/cqlcopy):
- read.go:113-119 — `SELECT ... WHERE token(pk) > offset` resumable scan →
  `resume_after` option, exclusive `>`, applied as a per-row token
  filter. (Cassandra can skip WORK below the offset because its storage
  is token-ordered; a hash-scattered parquet stand-in cannot — every
  surviving row group must still be scanned, only rows are skipped.)
- read.go:28 — `--page-size` (default 128 rows/page) → `page_size` option;
  each partition yields Arrow batches capped at page_size rows, emulating
  Cassandra's paged result fetch.

Scale posture: partition planning happens on the driver from the parquet
FOOTER only (row-group count — no data touched); each task reads ONLY its
assigned row groups, so work ∝ 1/partitions exactly like connector input
splits. `n_ranges` caps the parallelism. The token math is
`portable_token` (functions/portable.py), so results are
DuckDB-verifiable; numpy arithmetic below mirrors the JVM/DuckDB sign
conventions bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from cqlcopy_spark.functions.portable import KNUTH, M32

RING_MAX = M32  # tokens live in [0, 2^32) for ANY key sign (pmod fold)


@dataclass
class RowGroupSpan(InputPartition):
    """A set of parquet row-group indices — one Spark task's input split."""

    row_groups: tuple


class PagedTokenRangeReader(DataSourceReader):
    def __init__(self, schema, options):
        self.path = options["path"]
        self.key_col = options["key_col"]
        self.n_ranges = int(options.get("n_ranges", "8"))
        self.page_size = int(options.get("page_size", "128"))
        self.resume_after = int(options.get("resume_after", str(-RING_MAX)))

    def partitions(self):
        """Driver-side planning from metadata only: the parquet footer's
        row-group count, spread round-robin over ≤ n_ranges tasks. Each
        task then reads ONLY its row groups — work proportional to the
        split, never a full-file scan per task."""
        import pyarrow.parquet as pq

        n_rg = pq.ParquetFile(self.path).metadata.num_row_groups
        spans = [
            tuple(range(i, n_rg, self.n_ranges))
            for i in range(min(self.n_ranges, max(n_rg, 1)))
        ]
        parts = [RowGroupSpan(s) for s in spans if s]
        # A zero-row-group file (what writers emit for an empty table)
        # must still yield ONE partition: pyspark substitutes [None] for
        # an empty list and read(None) crashes — an empty span instead
        # flows through read() as zero batches → empty result.
        return parts or [RowGroupSpan(())]

    def read(self, partition):
        """Executor-side: scan ONLY this partition's row groups, keep rows
        whose token is past the resume point, emit Arrow batches of
        ≤ page_size rows — the paged fetch loop.

        Token math mirrors portable_token exactly — the overflow-FREE
        16-bit decomposition (portable.py): every intermediate stays
        under 2^48, so the same arithmetic runs without wraparound in
        numpy int64, Spark ANSI long, and DuckDB BIGINT (the old plain
        key*KNUTH multiply overflowed int64 for keys ≥ ~3.47e9 — a
        wrapped token here, an ANSI ARITHMETIC_OVERFLOW in Spark, and a
        BIGINT error in DuckDB: three-way divergence at production key
        ranges). NULL keys produce NULL tokens in both SQL engines and
        are therefore dropped by the `>` comparison; here a validity
        mask does the same."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        f = pq.ParquetFile(self.path)
        if not partition.row_groups:
            return
        for batch in f.iter_batches(row_groups=list(partition.row_groups)):
            key_arr = batch.column(self.key_col)
            valid = ~np.asarray(key_arr.is_null())
            keys = (
                key_arr.fill_null(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            k1 = keys % np.int64(M32)
            hi, lo = k1 // np.int64(65536), k1 % np.int64(65536)
            t1 = (np.int64(KNUTH) * hi) % np.int64(M32)
            t2 = (t1 * np.int64(65536)) % np.int64(M32)
            tokens = (t2 + np.int64(KNUTH) * lo) % np.int64(M32)
            mask = valid & (tokens > self.resume_after)
            if not mask.any():
                continue
            tbl = pa.Table.from_batches([batch]).append_column(
                "token", pa.array(tokens, type=pa.int64())
            )
            kept = tbl.filter(pa.array(mask))
            kept = _normalize_timestamps(kept)
            for page_start in range(0, kept.num_rows, self.page_size):
                page = kept.slice(page_start, self.page_size)
                yield from page.to_batches()


def _normalize_timestamps(tbl):
    """Spark's Arrow bridge accepts only µs timestamps; parquet commonly
    carries ms or ns. ms→µs widens losslessly via cast; ns→µs must FLOOR
    (arrow's cast raises on non-zero sub-µs digits) — integer-divide the
    raw int64 view by 1000, the same truncation catalog._events and
    DuckDB apply to NANOS."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = []
    fields = []
    for i, f in enumerate(tbl.schema):
        col = tbl.column(i)
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            as_int = col.cast(pa.int64())
            floored = pc.divide(as_int, 1000)  # integer div: floors toward -inf post-epoch
            col = floored.cast(pa.timestamp("us"))
            f = pa.field(f.name, pa.timestamp("us"))
        elif pa.types.is_timestamp(f.type) and f.type.unit != "us":
            col = col.cast(pa.timestamp("us"))
            f = pa.field(f.name, pa.timestamp("us"))
        cols.append(col)
        fields.append(f)
    return pa.Table.from_arrays(cols, schema=pa.schema(fields))


class PagedTokenRangeDataSource(DataSource):
    """spark.read.format("cql_paged") — options: path, key_col, schema is
    inferred from the parquet footer plus the synthesized token column."""

    @classmethod
    def name(cls):
        return "cql_paged"

    def schema(self):
        import pyarrow.parquet as pq

        arrow_schema = pq.read_schema(self.options["path"])
        _ARROW_TO_SPARK = {
            "int64": "bigint",
            "int32": "int",
            "double": "double",
            "float": "float",
            "string": "string",
            "large_string": "string",
            "bool": "boolean",
            "date32[day]": "date",
            "timestamp[ms]": "timestamp_ntz",
            "timestamp[us]": "timestamp_ntz",
            "timestamp[ns]": "timestamp_ntz",
        }
        cols = []
        for f in arrow_schema:
            try:
                cols.append(f"{f.name} {_ARROW_TO_SPARK[str(f.type)]}")
            except KeyError:
                raise ValueError(
                    f"cql_paged: unsupported parquet type {f.type} for column "
                    f"{f.name!r}; supported: {sorted(_ARROW_TO_SPARK)}"
                ) from None
        return ", ".join(cols + ["token bigint"])

    def reader(self, schema):
        return PagedTokenRangeReader(schema, self.options)


def register_paged_source(spark) -> None:
    """Make `spark.read.format("cql_paged")` work for reads from `spark`."""
    from cqlcopy_spark.catalog import register_data_source

    register_data_source(spark, PagedTokenRangeDataSource)
