"""The class-data-sharing archive ``get_spark`` maps into its gateway JVM
(``mapreduce_rust_spark/cds.py``): a missing, stale or rejected archive
gives a working session, the conf dir is swapped only for the launch,
the caller's java options are kept, and the archive is trained on no
perfbench query."""

from __future__ import annotations

import fcntl
import gzip
import importlib.util
import json
import os
import textwrap
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from mapreduce_rust_spark import cds
from tests.test_pyworker import _probe

REPO_ROOT = Path(__file__).resolve().parent.parent

# One fresh ``get_spark`` session: what the JVM mapped, the first
# class-path entry it launched with, the caller's ``SPARK_CONF_DIR``
# afterwards, and one query's answer, as one JSON line. The interpreter
# then exits, which runs the archive build when one is due.
_SESSION = textwrap.dedent("""
    import json, os
    from mapreduce_rust_spark.session import get_spark

    spark = get_spark("cds-probe")
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    print(json.dumps({
        "shared": bean.getVMOption("UseSharedSpaces").getValue() == "true",
        "archive": bean.getVMOption("SharedArchiveFile").getValue(),
        "first_class_path": jvm.System.getProperty("java.class.path").split(os.pathsep)[0],
        "conf_dir": os.environ.get("SPARK_CONF_DIR", "unset"),
        "total": int(spark.range(5).selectExpr("sum(id) AS s").toPandas()["s"][0]),
    }), flush=True)
""")


def _session(cache: Path) -> tuple[dict, str]:
    probe = _probe(_SESSION, XDG_CACHE_HOME=str(cache))
    out, err = probe.communicate(timeout=300)
    assert probe.returncode == 0, err[-3000:]
    return json.loads(out.strip().splitlines()[-1]), err


def test_missing_then_stale_archive_gives_working_sessions(tmp_path, monkeypatch):
    """No archive: a working session with no warning. Random bytes at the
    archive's path: the JVM rejects them, ``get_spark`` warns naming the
    file, the query still answers, and the exit rebuild replaces the file,
    so the next session maps it."""
    cache = tmp_path / "cache"
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    archive = cds.locate()
    if archive is None:
        pytest.skip("no JDK, Spark jars or templates-only conf dir to share over")
    os.makedirs(os.path.dirname(archive.path))
    caller_conf = os.environ.get("SPARK_CONF_DIR", "unset")

    # missing: hold the build lock so that this session's exit skips the build
    with open(archive.path + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        got, err = _session(cache)
    assert got["total"] == 10
    assert got["archive"] == ""
    assert "class-data-sharing" not in err, err[-3000:]
    assert not os.path.exists(archive.path)
    # the conf dir was swapped for the launch and restored afterwards
    assert got["first_class_path"].rstrip(os.sep) == archive.conf_dir
    assert got["conf_dir"] == caller_conf

    # stale, next to another key's archive and a killed build's temp file
    with open(archive.path, "wb") as fh:
        fh.write(os.urandom(1 << 16))
    root = os.path.dirname(archive.path)
    for left in ("spark-0123456789abcdef.jsa", os.path.basename(archive.path) + ".1.tmp"):
        Path(root, left).write_bytes(b"left")
    got, err = _session(cache)
    assert got["total"] == 10
    assert (got["shared"], got["archive"]) == (False, archive.path)
    assert f"rejected the class-data-sharing archive {archive.path}" in err, err[-3000:]
    assert os.path.getsize(archive.path) > 1 << 20  # rebuilt at exit
    assert sorted(os.listdir(root)) == sorted(
        ["conf", os.path.basename(archive.path), os.path.basename(archive.path) + ".lock"])

    got, err = _session(cache)
    assert got["total"] == 10
    assert (got["shared"], got["archive"]) == (True, archive.path)
    assert "class-data-sharing" not in err, err[-3000:]


@pytest.fixture
def spark_home(tmp_path, monkeypatch):
    """A Spark home with one jar and a conf dir of templates, and an
    empty cache."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(cds, "_WARNED", set())
    if cds._java_home() is None:
        pytest.skip("no JDK")
    return home


@pytest.mark.parametrize("caller", [None, "templates"])
def test_templates_only_conf_dir_is_replaced_for_the_launch_only(spark_home, caller,
                                                                  monkeypatch):
    if caller:
        monkeypatch.setenv("SPARK_CONF_DIR", str(spark_home / "conf"))
    before = dict(os.environ)
    archive = cds.locate()
    assert archive is not None and archive.found is None
    with cds.conf_dir(archive):
        assert os.environ["SPARK_CONF_DIR"] == archive.conf_dir
        assert os.listdir(archive.conf_dir) == []
    assert dict(os.environ) == before


def test_real_conf_dir_skips_sharing_with_one_warning(spark_home, recwarn):
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    before = dict(os.environ)
    builder = SparkSession.builder.config(cds.JAVA_OPTIONS, "-Dheld=1")
    for _ in range(2):
        archive = cds.locate()
        assert archive is None
        with cds.conf_dir(archive):
            assert dict(os.environ) == before
        assert cds.with_archive(builder, archive)._options[cds.JAVA_OPTIONS] == "-Dheld=1"
    warned = [w for w in recwarn if issubclass(w.category, RuntimeWarning)]
    assert len(warned) == 1
    assert "spark-defaults.conf" in str(warned[0].message)


def test_held_java_options_are_kept_with_the_flag_appended(tmp_path):
    path = str(tmp_path / "spark-key.jsa")
    found = cds.Archive(path, str(tmp_path / "conf"), "/jdk", (1, 2, 3))
    held = cds.with_archive(
        SparkSession.builder.config(cds.JAVA_OPTIONS, "-Dheld=1"), found)._options
    assert held[cds.JAVA_OPTIONS] == f"-Dheld=1 -XX:SharedArchiveFile={path}"
    bare = cds.with_archive(SparkSession.builder, found)._options
    assert bare[cds.JAVA_OPTIONS] == f"-XX:SharedArchiveFile={path}"
    missing = cds.with_archive(SparkSession.builder, found.__class__(
        path, found.conf_dir, found.java_home, None))._options
    assert cds.JAVA_OPTIONS not in missing


@pytest.mark.parametrize("where", ["builder", "PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS"])
def test_caller_class_sharing_is_left_alone(spark_home, where, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", None)
    builder = SparkSession.builder
    assert cds.for_launch(builder) is not None
    if where == "builder":
        builder = builder.config(cds.JAVA_OPTIONS, "-Xshare:off")
    else:
        monkeypatch.setenv(where, "-XX:DumpLoadedClassList=/dev/null")
    assert cds.for_launch(builder) is None


def _load(path: Path):
    spec = importlib.util.spec_from_file_location(path.stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_training_queries_are_not_a_perfbench_mix():
    """The archive is trained on a fixed workload that shares no query
    with the benchmark, and its class list says what it was recorded on
    and holds class names only."""
    train = _load(REPO_ROOT / "plans" / "r24" / "train_classlist.py")
    workloads = _load(REPO_ROOT / "perfbench" / "workloads.py")
    mixed = {q for mix in workloads.MIXES.values() for q in mix}
    assert train.TRAINING and not set(train.TRAINING) & mixed
    assert Path(train.OUT) == Path(cds.CLASS_LIST)

    with gzip.open(cds.CLASS_LIST, "rt") as fh:
        lines = fh.read().splitlines()
    header = [ln for ln in lines if ln.startswith("#")]
    assert any(ln.startswith("# JDK 17") and ", Spark 4." in ln for ln in header), header
    assert ", ".join(train.TRAINING) in "\n".join(header)
    classes = [ln for ln in lines if not ln.startswith("#")]
    assert len(classes) > 10_000
    assert not [ln for ln in classes if "source:" in ln or ln.startswith("/")]
