"""Fixture-table catalog: load the driver-provided parquet tables.

At cluster scale these would be catalog tables (Iceberg/Delta/Hive) with
partition pruning; here they are single parquet files per table
(TESTDATA.md). The loader keeps reads lazy so Catalyst can push filters
and prune columns into the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: region/nation have FIXED cardinality (5 / 25 rows) — safe to
#: broadcast-hint at any scale factor. supplier/part/customer scale
#: LINEARLY with SF (verified against the fixture generator: 10×/SF
#: steps), so new code must NOT broadcast-hint them — an explicit hint
#: is honored unconditionally (no AQE size fallback) and would hit the
#: 8 GB broadcast limit at production SF; leave them unhinted and AQE
#: broadcasts while small, flipping to a shuffle join beyond the
#: threshold.
BROADCAST_DIMS = frozenset({"region", "nation"})
SF_SCALING_DIMS = frozenset({"supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_SHIPPED: set[tuple[str, int]] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make `cqlcopy_spark` importable on executor Python workers.

    Python UDF / mapInPandas functions defined in this package are
    cloudpickled BY REFERENCE (module + qualname); workers must be able
    to import the module to unpickle them. When the driver process loads
    __spark_entry__ from outside the repo, workers inherit a sys.path
    without /root/repo — so ship the package once per SparkContext via
    addPyFile (a zip, distributed through the Spark file server exactly
    as --py-files would on a real cluster).

    The memo key is (applicationId, startTime) — unique per context and
    immune to CPython address reuse, which an id(sc) key is not. Re-
    shipping into the SAME context would crash: each make_archive embeds
    fresh mtimes, and Spark rejects an added file whose name matches but
    bytes differ. The staging zip must OUTLIVE the call — in local mode
    tasks fetch it lazily from the source path — so cleanup is deferred
    to interpreter exit."""
    sc = spark.sparkContext
    key = (sc.applicationId, sc.startTime)
    if key in _SHIPPED:
        return
    import shutil

    import cqlcopy_spark

    pkg_dir = os.path.dirname(os.path.abspath(cqlcopy_spark.__file__))
    zip_path = shutil.make_archive(
        os.path.join(session_tempdir("cqlcopy_spark_pyfiles_"), "cqlcopy_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir="cqlcopy_spark",
    )
    sc.addPyFile(zip_path)
    _SHIPPED.add(key)


def register_data_source(spark: SparkSession, cls) -> None:
    """Make the Python data source `cls` resolvable by its name from
    `spark`, for reads and writes alike.

    Python data sources live in each session's own registry, and Spark
    resolves a format name against the thread's ACTIVE session but plans
    the read or write against the calling session; the public
    `spark.dataSource.register` also refuses a name the active session
    already holds. A second session (`spark.newSession()`) therefore
    needs the source in both registries, and neither a session-conf flag
    nor a per-SparkContext one can tell that — so the registries
    themselves are asked, and the source goes straight into each one
    that lacks it."""
    from pyspark.sql.udf import _wrap_function

    # the source class is cloudpickled BY REFERENCE — executors must be
    # able to import cqlcopy_spark (CLAUDE.md UDF-shipping rule)
    _ship_package(spark)
    jvm = spark._jvm
    sessions = [spark._jsparkSession]
    active = jvm.org.apache.spark.sql.SparkSession.getActiveSession()
    if active.isDefined():
        sessions.append(active.get())
    name = cls.name()
    for session in sessions:
        registry = session.sessionState().dataSourceManager()
        if not registry.dataSourceExists(name):
            source = jvm.org.apache.spark.sql.execution.datasources.v2.python.UserDefinedPythonDataSource(
                _wrap_function(spark.sparkContext, cls)
            )
            registry.registerDataSource(name, source)


def session_tempdir(prefix: str) -> str:
    """A fresh temp dir removed at interpreter exit, not before: lazily
    read frames (a streamed op's state dir) and lazily fetching tasks
    (the shipped package zip) still need it after the call returns."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Oracle parity requires UTC (FIXTURES.md: fixtures are TZ-naive and
    # DuckDB evaluates in UTC); pin it here so every query is correct
    # even on a caller-configured session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship_package(spark)
    if name == "events":
        return _events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS). Depending on the session's
    conf state Spark 4 either refuses to map it to a timestamp
    ([PARQUET_TYPE_ILLEGAL]), reads it as raw int64 (when
    spark.sql.legacy.parquet.nanosAsLong is honored), or maps it to
    TIMESTAMP_NTZ natively (some driver environments). Be robust to ALL
    of these: request the legacy long mapping, then branch on the dtype
    that actually came back.

    - int64 path: floor-divide ns→µs with integer `div` (ns-since-epoch
      ≈ 1.7e18 exceeds double's 2^53 exactness, so never float-divide).
      This is the identical truncation DuckDB applies loading NANOS into
      its µs timestamps, so oracle comparisons stay exact.
    - timestamp path: Spark already truncated to µs during the scan;
      just normalize the type to timestamp_ntz.

    Post-epoch assumption: both branches rely on ns→µs truncation being a
    floor. For pre-1970 (negative) nanos an engine truncating toward zero
    would diverge by 1µs on non-whole values; the fixtures are all
    post-epoch (2024+), so this is unexercised."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf removed/renamed: fall through to the dtype branch
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return normalize_event_ts(df, "timestamp_ntz")


def normalize_event_ts(df: DataFrame, target: str) -> DataFrame:
    """THE ns→µs truncation contract, shared by the batch loader above
    and the streaming file source (streaming/windows._events_stream) so
    the rule cannot drift between them — every *_matches_batch replay
    test presumes both paths read identical ts values. int64-nanos
    input floor-divides in INTEGER space (`div`; ns-since-epoch exceeds
    double's 2^53 exactness); native timestamp input just re-tags to
    `target` ("timestamp_ntz" for the batch/oracle path, "timestamp"
    for watermark eligibility on the streaming path — same instant
    under the UTC session TZ either way)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast(target)
        )
    return df.withColumn("ts", F.col("ts").cast(target))


def parquet_col_max(sf_dir: str, name: str, column: str):
    """Exact MAX of a fixture-table column, read DRIVER-SIDE from the
    parquet footer statistics — no Spark job (guide §6: let metadata
    answer what metadata can; the lifecycle ops' slice-bound max was a
    full-column scan job per invocation). Exactness: parquet min/max
    statistics for INT64/INT32 are value-exact and null-skipping, the
    same semantics as Spark's MAX aggregate; `table()` serves these
    files unmodified (events, the one transformed table, is refused).
    Returns None when any row group lacks stats or the file is empty —
    callers fall back to the Spark aggregate."""
    import pyarrow.parquet as pq

    if name == "events" or name not in TABLES:
        return None  # transformed or unknown — stats don't reflect table()
    try:
        md = pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet")).metadata
    except Exception:
        return None
    idx = None
    for i in range(md.num_columns):
        if md.schema.column(i).name == column:
            idx = i
            break
    if idx is None or md.num_row_groups == 0:
        return None
    mx = None
    for g in range(md.num_row_groups):
        col_md = md.row_group(g).column(idx)
        st = col_md.statistics
        if st is None or not st.has_min_max:
            if col_md.num_values:
                return None  # a stats-less row group could hide the max
            continue  # empty row group contributes nothing
        if st.max is not None and (mx is None or st.max > mx):
            mx = st.max
    return mx


def id_thirds(df: DataFrame, sf_dir: str, name: str, column: str):
    """`df` cut into three `column` ranges — ≤ MAX // 3, ≤ 2·(MAX // 3),
    the rest — the arrival order of the streamed-lifecycle ops' three
    micro-batches. Returns (slices, (cut1, cut2)). MAX comes from fixture
    table `name`'s parquet footer (exact, no Spark job — guide §6), else
    from one aggregate job over `df`; an empty table cuts at 0, so every
    slice is empty."""
    from pyspark.sql import functions as F

    mx = parquet_col_max(sf_dir, name, column)
    if mx is None:
        mx = df.agg(F.max(column)).first()[0] or 0
    lo, hi = mx // 3, 2 * (mx // 3)
    c = F.col(column)
    slices = (df.filter(c <= lo), df.filter((c > lo) & (c <= hi)), df.filter(c > hi))
    return slices, (lo, hi)


def parquet_table_rows(sf_dir: str, name: str):
    """Exact row count of a fixture table, read DRIVER-SIDE from the
    parquet footer (`num_rows` is mandatory file metadata — always
    exact, unlike min/max column statistics) — no Spark job (guide §6).
    Same serving guarantee as parquet_col_max: only tables `table()`
    passes through unmodified (events is row-preserving under its ts
    truncation, so it is allowed here). Returns None for unknown tables
    — callers fall back to the Spark count."""
    import pyarrow.parquet as pq

    if name not in TABLES:
        return None
    try:
        return pq.ParquetFile(
            os.path.join(sf_dir, f"{name}.parquet")
        ).metadata.num_rows
    except Exception:
        return None


_REGISTERED_CONF = "spark.cqlcopy.registeredSfDir"


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql() use.

    Memoized per (session, sf_dir): re-registration is pure overhead (10
    parquet footer probes) and views are name-keyed, so only a CHANGE of
    sf_dir in the same session needs a re-register (it overwrites the
    same view names). The memo lives in a session conf, not a dict keyed
    by id(spark) — CPython reuses object addresses, so an id-keyed memo
    could silently skip registration on a brand-new session."""
    if spark.conf.get(_REGISTERED_CONF, None) == sf_dir:
        return
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark.conf.set(_REGISTERED_CONF, sf_dir)
