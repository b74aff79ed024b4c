"""The Python worker daemon ``get_spark`` wires in (``core/pyworker.py``):
a task's ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed, one daemon, with pandas and
pyarrow imported, serves RDD and Arrow tasks alike, and a ``get_spark``
call that creates the context boots that daemon on its own."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from mapreduce_rust_spark.core.pyworker import invalidate_caches
from mapreduce_rust_spark.session import (_PACKAGE_ROOT, _TRACEBACK,
                                          _WORKER_PATH, _with_worker_daemon,
                                          get_spark)

DAEMON = "mapreduce_rust_spark.core.pyworker"
POOL_GROUP = "mapreduce_rust_spark.worker_pool"
REPO_ROOT = Path(__file__).resolve().parent.parent


def _assert_preloaded(pid: int) -> None:
    """The daemon ``pid`` maps libarrow and pandas' ``_libs``, so its
    forked workers inherit pandas and pyarrow."""
    maps = f"/proc/{pid}/maps"
    if not os.path.exists(maps):
        pytest.skip("no /proc to read the daemon's mapped libraries")
    with open(maps) as f:
        mapped = f.read()
    assert "libarrow" in mapped
    assert f"pandas{os.sep}_libs" in mapped


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


def test_logger_demotion_failure_warns_and_keeps_the_session(spark, monkeypatch):
    """``get_spark`` never fails on demoting the WindowExec logger, and
    says why it could not."""
    class _Gone:
        def __getattr__(self, name):
            raise RuntimeError("gateway gone")

    monkeypatch.setattr(spark.sparkContext, "_jvm", _Gone())
    with pytest.warns(RuntimeWarning, match="gateway gone"):
        assert get_spark() is spark


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
    _assert_preloaded(rdd.pop())


# A fresh ``get_spark`` session in its own process (the ``spark``
# fixture's daemon already exists). It takes no action of its own: it
# waits up to 60 s for a job in the pool's group to finish, reads the
# status tracker, finds the daemon below it, calls ``get_spark()`` again
# and reads the tracker once more. It prints one JSON line and keeps the
# session, and so the daemon, alive until its stdin closes.
_BOOT_PROBE = textwrap.dedent("""
    import json, os, sys, time
    from mapreduce_rust_spark.session import get_spark

    daemon, group = sys.argv[1].encode(), sys.argv[2]

    def parents():
        out = {}
        for d in os.listdir("/proc"):
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError):
                pass
        return out

    def runs_daemon(pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().split(b"\\0")
        except OSError:
            return False
        return b"-m" in cmd and daemon in cmd

    def daemon_pid():
        parent, below, todo = parents(), set(), [os.getpid()]
        while todo:
            up = todo.pop()
            kids = [p for p, pp in parent.items() if pp == up]
            below.update(kids)
            todo += kids
        # a forked worker keeps its daemon's command line
        return next((p for p in sorted(below)
                     if runs_daemon(p) and not runs_daemon(parent[p])), None)

    spark = get_spark("pool-boot-probe")
    tracker = spark.sparkContext.statusTracker()

    def boot_done():
        ids = tracker.getJobIdsForGroup(group)
        return ids and tracker.getJobInfo(ids[0]).status == "SUCCEEDED"

    deadline = time.time() + 60
    while time.time() < deadline and not boot_done():
        time.sleep(0.1)

    def jobs():
        return {"group": sorted(tracker.getJobIdsForGroup(group)),
                "ungrouped": sorted(tracker.getJobIdsForGroup(None)),
                "second_job": tracker.getJobInfo(1) is not None}

    first, pid = jobs(), daemon_pid()
    get_spark()
    time.sleep(2)
    print(json.dumps({"daemon": pid, "first": first, "again": jobs()}), flush=True)
    sys.stdin.read()
    spark.stop()
""")


def _probe(code: str, *args: str, **env: str) -> subprocess.Popen:
    # ``-c`` puts the working directory, the repo root, on ``sys.path``
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g", **env)
    return subprocess.Popen([sys.executable, "-c", code, *args], cwd=REPO_ROOT,
                            env=env, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)


@pytest.fixture(scope="module")
def boot_probe():
    if not os.path.isdir("/proc/self"):
        pytest.skip("no /proc to find the daemon")
    probe = _probe(_BOOT_PROBE, DAEMON, POOL_GROUP)
    try:
        line = probe.stdout.readline()
        if not line:
            probe.wait(timeout=300)
            pytest.fail(f"the probe printed nothing: {probe.stderr.read()[-3000:]}")
        yield json.loads(line)
    finally:
        _, err = probe.communicate(timeout=300)
    assert probe.returncode == 0, err[-3000:]


def test_get_spark_boots_the_daemon_unasked(boot_probe):
    """With no action after ``get_spark`` returns, the daemon appears
    below the driver with pandas and pyarrow loaded."""
    assert boot_probe["daemon"] is not None, boot_probe
    _assert_preloaded(boot_probe["daemon"])


def test_pool_boot_is_one_job_in_its_own_group(boot_probe):
    """The boot is job 0, in the pool's group, and no other job ran, so
    counting the ungrouped jobs a call runs stays exact."""
    assert boot_probe["first"] == {"group": [0], "ungrouped": [],
                                   "second_job": False}, boot_probe


def test_second_get_spark_starts_no_boot(boot_probe):
    assert boot_probe["again"] == boot_probe["first"], boot_probe


def test_stop_right_after_get_spark_is_quiet():
    """Stopping the session while the boot job may still run ends the
    process cleanly: the boot thread returns quietly on a stopped
    context."""
    probe = _probe("from mapreduce_rust_spark.session import get_spark\n"
                   "get_spark('pool-boot-stop').stop()\n")
    _, err = probe.communicate(timeout=300)
    assert probe.returncode == 0, err[-3000:]
    assert "Exception in thread" not in err, err[-3000:]


# Stops the session while the boot job's daemon is still importing
# pandas and pyarrow: 0.3 s after the boot stage became active. Prints
# whether the boot job was still running just before the stop.
_STOP_DURING_BOOT = textwrap.dedent("""
    import sys, time
    from mapreduce_rust_spark.session import get_spark

    spark = get_spark("pool-boot-stop-during")
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + 60
    while time.time() < deadline and not tracker.getActiveStageIds():
        time.sleep(0.01)
    time.sleep(0.3)
    ids = tracker.getJobIdsForGroup(sys.argv[1])
    print(bool(ids) and tracker.getJobInfo(ids[0]).status == "RUNNING", flush=True)
    spark.stop()
""")


@pytest.mark.xfail(strict=True, reason=(
    "Spark's stop kills the worker daemon under the running boot task, "
    "and the Executor logs the task as crashed; no public Spark or PySpark "
    "hook runs before that stop to cancel the boot job"))
def test_stop_during_the_daemon_boot_logs_no_executor_error():
    probe = _probe(_STOP_DURING_BOOT, POOL_GROUP)
    out, err = probe.communicate(timeout=300)
    assert probe.returncode == 0, err[-3000:]
    if out.strip() != "True":
        pytest.skip("the boot job finished before the stop")
    assert "Python worker exited unexpectedly" not in err, err[-3000:]
