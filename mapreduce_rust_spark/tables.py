"""Table catalog over the driver-generated parquet fixtures.

The reference reads whole text files with a fixed naming scheme
(``data/gut-{map_task_id}.txt``, worker.rs:65-77); here the source
layer is columnar parquet so Catalyst gets predicate pushdown and
column pruning for free. This module is the only one that reads the
fixture files: ``load_table`` is the batch scan every operator goes
through and ``read_table_stream`` the stream source every twin goes
through. Both start from one memoized raw scan per table and adapt
the ``ts`` encoding with one function.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.memo import session_memo

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor —
# TPC-H dims grow sub-linearly or not at all (region=5, nation=25).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def read_parquet_nanos_fallback(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet``, retried with TIMESTAMP(NANOS) columns
    loaded as long when schema inference rejects such a column. The
    legacy conf is bound for the retry only and the caller's value — set
    or unset — is restored: the resolved scan keeps reading nanos as
    long after the conf is gone, so it never leaks into the caller's
    session. Any other error (a missing or unreadable file) is raised
    from the one read, with the conf untouched."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if (exc.getCondition() != "PARQUET_TYPE_ILLEGAL"
                or "TIMESTAMP(NANOS" not in str(exc)):
            raise
    old = spark.conf.get(_NANOS_AS_LONG, None)
    spark.conf.set(_NANOS_AS_LONG, "true")
    try:
        return spark.read.parquet(path)
    finally:
        if old is None:
            spark.conf.unset(_NANOS_AS_LONG)
        else:
            spark.conf.set(_NANOS_AS_LONG, old)


def _local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema``'s column order; a DDL
    string or a ``StructType``) as a JVM ``LocalTableScan``. The Arrow
    table is typed from the declared schema, so a ``None`` stays NULL
    in any column, and reading it runs no job. A driver list would go
    through an identity ``PythonRDD``: one Python task per
    default-parallelism slot on every action."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    return spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(arrow.names, r)) for r in rows], schema=arrow))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table (pushdown/pruning capable),
    with ``ts`` adapted to the session-local ``timestamp`` type
    (``_adapt_ts``).

    Repeated loads in one session return the SAME DataFrame object
    (a ``plan`` session memo keyed by ``("table", sf_dir, name)``).
    Every query build calls this 1-3 times, and each fresh
    ``spark.read.parquet`` is a driver-side footer probe; the memo
    reuses the resolved scan plan, while every action still reads the
    files. A query that loads a table twice and joins the two loads is
    therefore a true self-join with shared attribute ids, and Spark's
    ambiguous self-join check can reject an un-aliased ``df["col"]``
    condition: alias each side at the join site. Another ``sf_dir`` or
    another session gets a different object.
    """
    return _scan(spark, sf_dir, name)[1]


def read_table_stream(spark: SparkSession, sf_dir: str,
                      name: str) -> DataFrame:
    """Streaming source over one fixture table (the CDC / crawler
    landing-directory feed shape in production), with ``ts`` adapted
    like ``load_table``'s.

    A file stream needs an explicit schema: it takes the raw schema of
    the batch scan that ``load_table`` memoizes, so building a stream
    after a batch load of the same table runs no Spark job, and an
    encoding change breaks loudly in one place."""
    raw = _scan(spark, sf_dir, name)[0]
    return _adapt_ts(spark.readStream.schema(raw.schema)
                     .parquet(_stream_glob(sf_dir, name)))


def read_events_stream_rows(spark: SparkSession,
                            sf_dir: str) -> tuple[DataFrame, int]:
    """The events stream (``read_table_stream``) and the number of rows
    it streams: the parquet footers of the files its glob matches,
    summed by the driver's JVM (metadata only: no Spark job, and no
    parquet reader loaded into the Python driver). For
    ``streaming.windows._run_to_table``'s ``rows``."""
    sc = spark.sparkContext
    jvm, conf = sc._jvm, sc._jsc.hadoopConfiguration()
    parquet = jvm.org.apache.parquet.hadoop
    pattern = jvm.org.apache.hadoop.fs.Path(_stream_glob(sf_dir, "events"))
    rows = 0
    for st in pattern.getFileSystem(conf).globStatus(pattern) or []:
        reader = parquet.ParquetFileReader.open(
            parquet.util.HadoopInputFile.fromStatus(st, conf))
        try:
            rows += reader.getRecordCount()
        finally:
            reader.close()
    return read_table_stream(spark, sf_dir, "events"), rows


def _stream_glob(sf_dir: str, name: str) -> str:
    """The file-stream source path of fixture table ``name``: a file
    stream wants a directory or glob, not a bare file, so glob to the
    single fixture file (in production, a landing directory)."""
    return table_path(sf_dir, name) + "*"


def _scan(spark: SparkSession, sf_dir: str,
          name: str) -> tuple[DataFrame, DataFrame]:
    """``(raw, adapted)`` batch scans of one fixture table, memoized
    per session: the raw one is read with the nanos fallback, the
    adapted one is ``_adapt_ts`` of it."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")

    def build():
        raw = read_parquet_nanos_fallback(spark, table_path(sf_dir, name))
        return raw, _adapt_ts(raw)

    return session_memo(spark, "plan", ("table", sf_dir, name), build)


def _adapt_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` (the event time of ``events``) across the
    fixture's encoding eras, batch or stream. TIMESTAMP(NANOS) parquet
    arrives as long nanos (the fallback read) and converts by integer
    division: ns epochs ≈ 1.7e18 overflow double precision.
    ``timestamp[us]`` loads as TIMESTAMP_NTZ and is cast to the
    session-local TIMESTAMP, the wall-clock instant that operators and
    DuckDB oracles both assume. Hard-coding either era reads the
    other's raw int64 as the wrong unit (silently, off by 10^3)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# conf key recording which sf_dir this session's views point at —
# registering the same dir twice is pure overhead (10 schema probes per
# call, and SQL-front-door queries call this on every invocation). The
# marker lives IN the session (not a Python-side dict keyed by object
# id, which collides when CPython reuses a dead wrapper's address).
_REGISTERED_KEY = "mapreduce_rust_spark.registered_sf_dir"


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API.

    Idempotent per (session, sf_dir): re-registering the same dir is
    skipped. Fault-isolated per table: one unreadable fixture must not
    take down queries that never touch it (a broken ``events`` path
    previously killed pure orders/lineitem SQL). Queries that DO
    reference a skipped table fail with a clear table-not-found instead
    — a failed table's PREVIOUS view (from an earlier sf_dir) is
    dropped, never left to silently serve mixed-directory data.
    """
    if (spark.conf.get(_REGISTERED_KEY, None) == sf_dir
            and spark.catalog.tableExists(TABLES[0])):
        return
    # invalidate FIRST: if this registration fails partway (or skips
    # tables), the views are in a mixed state and the next call must
    # never be memo-skipped into keeping it
    spark.conf.set(_REGISTERED_KEY, "")
    errors: dict[str, Exception] = {}
    for name in TABLES:
        try:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as exc:  # noqa: BLE001 — isolate per-table faults
            errors[name] = exc
            # loudly absent beats silently stale: without this drop, a
            # view registered for a PRIOR sf_dir would keep answering
            # for the broken table and joins would mix directories
            spark.catalog.dropTempView(name)
    if errors:
        import warnings
        warnings.warn(
            "register_views skipped unreadable tables: "
            + ", ".join(f"{k}: {type(v).__name__}" for k, v in errors.items()),
            stacklevel=2,
        )
    else:
        # memoize only fully-successful registrations, so a retry after
        # fixing a broken table path actually re-registers
        spark.conf.set(_REGISTERED_KEY, sf_dir)
