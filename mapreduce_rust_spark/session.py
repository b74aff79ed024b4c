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
  with the task count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"


def _with_worker_daemon(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Fork Python workers from ``core/pyworker.py``: name it as the
    daemon module and append the package's parent directory to the
    workers' ``PYTHONPATH``, keeping a value the builder already holds."""
    held = builder._options.get(_WORKER_PATH)
    return (builder
            .config("spark.python.daemon.module",
                    "mapreduce_rust_spark.core.pyworker")
            .config(_WORKER_PATH,
                    os.pathsep.join(p for p in (held, _PACKAGE_ROOT) if p)))


def get_spark(app_name: str = "mapreduce_rust_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (default: all
    cores). Shuffle partitions default to the local core count —
    the right number for local mode; a cluster deployment overrides
    via normal Spark conf.
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
    spark = _with_worker_daemon(builder).getOrCreate()
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
    except Exception:  # noqa: BLE001 — cosmetic; never fail the session
        pass
    return spark
