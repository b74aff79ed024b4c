"""The Python worker daemon ``get_spark`` wires in (``core/pyworker.py``):
a task's ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed, and one daemon, with pandas
and pyarrow imported, serves RDD and Arrow tasks alike."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from mapreduce_rust_spark.core.pyworker import invalidate_caches
from mapreduce_rust_spark.session import (_PACKAGE_ROOT, _TRACEBACK,
                                          _WORKER_PATH, _with_worker_daemon)

DAEMON = "mapreduce_rust_spark.core.pyworker"


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="3.12+ zipimporters re-read lazily already")
def test_worker_tasks_keep_unchanged_zip_directories(spark):
    def probe(_):
        import importlib
        import sys as _sys
        import zipimport as _zi
        zips = [i for i in _sys.path_importer_cache.values()
                if isinstance(i, _zi.zipimporter)]
        before = [id(i._files) for i in zips]
        importlib.invalidate_caches()
        yield len(zips), sum(id(i._files) != b for i, b in zip(zips, before))

    got = spark.sparkContext.parallelize(range(8), 8).mapPartitions(probe).collect()
    assert len(got) == 8
    assert all(n > 0 for n, _ in got), got  # workers import pyspark.zip
    assert all(reread == 0 for _, reread in got), got


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"alpha": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    invalidate_caches(imp)
    files = imp._files
    invalidate_caches(imp)
    assert imp._files is files  # unchanged: no re-read

    _write_zip(archive, {"alpha": "X = 1\n", "beta": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    invalidate_caches(imp)
    assert imp.find_spec("beta") is not None

    os.remove(archive)
    invalidate_caches(imp)  # the original swallows the failed read
    assert imp._files == {}


def test_get_spark_forks_workers_from_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON
    assert conf.get(_WORKER_PATH).split(os.pathsep)[-1] == _PACKAGE_ROOT
    # the value the SQL runners add to their worker env, so RDD tasks
    # key the same worker pool
    assert conf.get(_TRACEBACK) == "1"
    assert os.path.isfile(os.path.join(
        _PACKAGE_ROOT, *DAEMON.split(".")) + ".py")

    held = _with_worker_daemon(
        SparkSession.builder.config(_WORKER_PATH, "extra-libs"))._options
    assert held["spark.python.daemon.module"] == DAEMON
    assert held[_WORKER_PATH] == os.pathsep.join(["extra-libs", _PACKAGE_ROOT])


def test_python_tasks_share_one_preloaded_daemon(spark):
    """An RDD task, a ``mapInPandas`` task and a pandas UDF task all
    fork from one daemon, and that daemon has pandas and pyarrow loaded,
    so no worker imports them on its own."""
    from pyspark.sql import functions as F

    def rdd_ppid(_):
        yield os.getppid()

    def frames_ppid(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"ppid": [os.getppid()]})

    @F.pandas_udf("long")
    def udf_ppid(ids: pd.Series) -> pd.Series:
        return pd.Series([os.getppid()] * len(ids))

    rdd = set(spark.sparkContext.parallelize(range(4), 4)
              .mapPartitions(rdd_ppid).collect())
    arrow = {r.ppid for r in spark.range(4)
             .mapInPandas(frames_ppid, "ppid long").collect()}
    udf = {r.ppid for r in spark.range(4)
           .select(udf_ppid("id").alias("ppid")).collect()}
    assert len(rdd | arrow | udf) == 1, (rdd, arrow, udf)

    maps = f"/proc/{rdd.pop()}/maps"
    if not os.path.exists(maps):
        pytest.skip("no /proc to read the daemon's mapped libraries")
    with open(maps) as f:
        mapped = f.read()
    assert "libarrow" in mapped
    assert f"pandas{os.sep}_libs" in mapped
