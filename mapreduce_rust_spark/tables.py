"""Table catalog over the driver-generated parquet fixtures.

The reference reads whole text files with a fixed naming scheme
(``data/gut-{map_task_id}.txt``, worker.rs:65-77); here the source
layer is columnar parquet so Catalyst gets predicate pushdown and
column pruning for free. ``load_table`` is the single scan entry
point every operator goes through.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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
    loaded as long when schema inference rejects them. The legacy conf
    is bound for the retry only and the caller's value — set or unset —
    is restored: the resolved scan keeps reading nanos as long after
    the conf is gone, so it never leaks into the caller's session."""
    try:
        return spark.read.parquet(path)
    except Exception:
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
    """Columnar scan of one fixture table (pushdown/pruning capable).

    A real lakehouse carries mixed timestamp encodings, so the loader is
    schema-adaptive on ``events.ts``: plain ``timestamp``/``timestamp_ntz``
    parquet passes straight through; TIMESTAMP(NANOS) parquet (which the
    vectorized reader rejects) is re-read as long nanos via the legacy
    conf and converted with integer division — ns epochs ≈ 1.7e18
    overflow double precision, so no float math on the raw value.

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
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    return session_memo(spark, "plan", ("table", sf_dir, name),
                        lambda: _scan_table(spark, sf_dir, name))


def _scan_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name != "events":
        return spark.read.parquet(table_path(sf_dir, name))
    from pyspark.sql import functions as F
    path = table_path(sf_dir, name)
    df = read_parquet_nanos_fallback(spark, path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # nanos-era fixture: convert to micros
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts_type == "timestamp_ntz":
        # Operators and DuckDB oracles both treat ts as a wall-clock
        # instant; normalize NTZ to the session-local TIMESTAMP type so
        # window/interval arithmetic behaves identically across eras.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
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
