"""SparkSession factory tuned for this engine.

Local mode here is a correctness harness; the configs are chosen so the
same code scales to a multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy) — at scale this is what rescues skewed shuffles.
- ``spark.sql.shuffle.partitions`` sized to the harness cores; on a
  real cluster this should be ~2-3x total cores (or left to AQE's
  coalescing with a high initial value).
- Arrow enabled for every Pandas-UDF boundary.
- Session timezone pinned UTC so results compare bit-stable against
  the DuckDB oracle.
- Python workers fork from ``core/pyworker.py``, a daemon that re-reads
  a zip archive's directory only when the archive changed. Stock
  workers under Python < 3.12 re-read ``pyspark.zip`` on every task,
  about 0.25 s of CPU before user code runs; at scale that cost grows
  with the task count. The daemon imports pandas and pyarrow once, so
  every forked worker inherits them, and one daemon serves every Python
  runner: RDD tasks carry the same ``SPARK_SIMPLIFIED_TRACEBACK`` value
  the SQL runners (pandas UDFs, ``mapInPandas``, ``applyInPandas*``)
  set, and the JVM keeps one worker pool per distinct env.
- The daemon boots while the JVM warms up: a ``get_spark`` call that
  creates the SparkContext also runs a one-task Python job on a
  background thread, under its own job group, so the daemon's import
  of pandas and pyarrow overlaps the driver's first SQL plan instead
  of following it when the first Python task arrives.
- A call that launches the gateway JVM maps Spark's classes from a
  class-data-sharing archive (``cds.py``) instead of loading and
  verifying them from the jars: about 17.5k classes, a third off the
  JVM's cold start. The first session on a machine builds the archive
  into the user's cache when its interpreter exits (about 30 s, once).
  A missing or rejected archive never fails a session.
"""

from __future__ import annotations

import os
import threading
import warnings

from pyspark import SparkContext
from pyspark.sql import SparkSession

from mapreduce_rust_spark import cds

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
_TRACEBACK = "spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK"
_POOL_GROUP = "mapreduce_rust_spark.worker_pool"


def _with_worker_daemon(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Fork Python workers from ``core/pyworker.py``: name it as the
    daemon module and append the package's parent directory to the
    workers' ``PYTHONPATH``, keeping a value the builder already holds.

    The JVM keeps one daemon per distinct worker env, and the SQL
    runners add ``SPARK_SIMPLIFIED_TRACEBACK=1`` to theirs. Setting the
    same value for every executor gives RDD tasks (``run_job``,
    driver-list ``createDataFrame``) that env too, so one daemon, with
    pandas and pyarrow imported once, serves every Python task."""
    held = builder._options.get(_WORKER_PATH)
    return (builder
            .config("spark.python.daemon.module",
                    "mapreduce_rust_spark.core.pyworker")
            .config(_WORKER_PATH,
                    os.pathsep.join(p for p in (held, _PACKAGE_ROOT) if p))
            .config(_TRACEBACK, "1"))


def _no_op(_) -> None:
    pass


def _boot_worker_pool(sc: SparkContext) -> None:
    """Run one Python task under ``_POOL_GROUP``, so the JVM launches the
    worker daemon and forks a worker now. Returns quietly only when the
    context was stopped under it; any other error reaches
    ``threading.excepthook``."""
    try:
        sc.setJobGroup(_POOL_GROUP, "boot the Python worker daemon")
        sc.parallelize([0], 1).foreach(_no_op)
    except Exception:
        jsc = sc._jsc
        if jsc is None or jsc.sc().isStopped():
            return
        raise


def get_spark(app_name: str = "mapreduce_rust_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (default: all
    cores). Shuffle partitions default to the local core count —
    the right number for local mode; a cluster deployment overrides
    via normal Spark conf.

    A call that creates the SparkContext also boots the Python worker
    daemon on a background thread: one task, job group
    ``mapreduce_rust_spark.worker_pool``. A call that returns an
    existing session starts nothing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    creates = SparkContext._active_spark_context is None
    archive = cds.for_launch(builder) if creates else None
    with cds.conf_dir(archive):
        spark = _with_worker_daemon(cds.with_archive(builder, archive)).getOrCreate()
    if creates:
        threading.Thread(target=_boot_worker_pool, args=(spark.sparkContext,),
                         name=_POOL_GROUP, daemon=True).start()
    cds.check(spark, archive)
    spark.sparkContext.setLogLevel("WARN")
    # Dims-sized closed forms legitimately use empty-partition windows
    # (cum distributions over ≤ buckets rows); WindowExec warns "moving
    # all data to a single partition" on every one regardless of input
    # partitioning, which buries real warnings. The inputs are provably
    # bounded (each call site caps them), so demote just that logger.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception as exc:  # noqa: BLE001 — cosmetic; never fail the session
        warnings.warn(f"could not demote the WindowExec logger: {exc!r}",
                      RuntimeWarning, stacklevel=2)
    return spark
