"""Class-data sharing (AppCDS, JEP 310) for the gateway JVM that
``get_spark`` launches.

A cold Spark JVM spends most of its start loading, parsing and verifying
about 17.5k Spark, Scala, Parquet and Jackson classes from ~250 jars. A
static archive holds them pre-parsed, and the JVM maps it instead.

- The classes to archive are the committed list ``plans/r24/classlist.gz``,
  recorded by ``plans/r24/train_classlist.py`` from a fixed training run.
- The archive lives in ``$XDG_CACHE_HOME/mapreduce_rust_spark/cds/``
  (default ``~/.cache``), in a file named by a hash of the JDK, the
  ``$SPARK_HOME/jars`` listing (name, size, mtime) and the class list.
  Deleting the directory resets it.
- A session that finds no archive runs without one. At interpreter exit
  it builds the archive with one ``java -Xshare:dump`` over the live
  JVM's ``java.class.path`` and ``java.home`` (the launcher's class path
  cannot be rebuilt by hand), under a lock file, with a timeout, and
  renames it into place. It then removes the directory's other
  ``spark-*`` files: other keys' archives, and what a killed build left.
- JDK 17 refuses any non-empty directory on the class path, and Spark
  puts the conf dir first. A conf dir holding only ``*.template`` files,
  which Spark never reads, is swapped for an empty one in the cache for
  the launch only. A conf dir holding a real file skips sharing and warns.
- After launch, the JVM's ``UseSharedSpaces`` and ``SharedArchiveFile``
  say whether it mapped the archive. A rejected archive (garbage, stale,
  another JDK's) starts the JVM silently with no sharing at all, not even
  the JDK's default archive, so it warns and is rebuilt at exit. Sharing
  never fails a session.
- A launch whose options already set class sharing (``-Xshare``,
  ``SharedArchiveFile``, ``ArchiveClassesAtExit``, ``DumpLoadedClassList``
  in the builder's ``spark.driver.extraJavaOptions``,
  ``PYSPARK_SUBMIT_ARGS``, ``JAVA_TOOL_OPTIONS`` or ``JDK_JAVA_OPTIONS``)
  is left alone.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import gzip
import hashlib
import os
import re
import shutil
import subprocess
import warnings
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CLASS_LIST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "plans", "r24", "classlist.gz")
JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# The build takes about 30 s on 4 vCPU; perfbench gives a whole session
# 150 s, and its mixes take well under a minute before the exit.
DUMP_TIMEOUT_S = 90
_SHARING = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit|DumpLoadedClassList")
_CALLER_ENV = ("PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")
_WARNED: set[str] = set()  # conf dirs already warned about


@dataclass(frozen=True)
class Archive:
    """Where one launch's archive lives, and what the launch found."""
    path: str
    conf_dir: str  # the empty conf dir for the launch
    java_home: str  # of the ``java`` the launcher will run
    found: tuple | None  # the archive's (inode, mtime, size) at launch


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "mapreduce_rust_spark", "cds")


def _identity(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _java_home() -> str | None:
    """The JDK of the ``java`` Spark's launcher runs:
    ``$JAVA_HOME/bin/java``, else the one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _key(java_home: str, jars: str) -> str:
    h = hashlib.sha256(java_home.encode())
    for f in ("release", "lib/modules", "lib/server/libjvm.so"):
        h.update(repr((f, _identity(os.path.join(java_home, f)))).encode())
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        st = e.stat()
        h.update(repr((e.name, st.st_size, st.st_mtime_ns)).encode())
    with open(CLASS_LIST, "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def for_launch(builder: SparkSession.Builder) -> Archive | None:
    """The archive for a ``getOrCreate`` that launches a new gateway JVM,
    or None where sharing does not apply: an existing gateway, a caller
    that sets class sharing itself, or nothing ``locate`` can use."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    caller = [builder._options.get(JAVA_OPTIONS) or ""]
    caller += [os.environ.get(v, "") for v in _CALLER_ENV]
    return None if _SHARING.search(" ".join(caller)) else locate()


def locate() -> Archive | None:
    """This environment's archive, or None with no class list, no JDK or
    jars found, or a conf dir holding a real file (which warns once)."""
    if not os.path.isfile(CLASS_LIST):
        return None
    spark_home, java_home = _find_spark_home(), _java_home()
    jars = os.path.join(spark_home, "jars")
    if java_home is None or not os.path.isdir(jars):
        return None
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    real = sorted(f for f in (os.listdir(conf) if os.path.isdir(conf) else [])
                  if not f.endswith(".template"))
    if real:
        if conf not in _WARNED:
            _WARNED.add(conf)
            warnings.warn(f"Spark conf dir {conf} holds {', '.join(real)}: JDK 17 "
                          "cannot share classes over a non-empty class-path "
                          "directory, so the JVM starts without the "
                          "class-data-sharing archive", RuntimeWarning, stacklevel=4)
        return None
    root = cache_dir()
    if any(c.isspace() for c in root):  # the launcher splits java options on spaces
        return None
    path = os.path.join(root, f"spark-{_key(java_home, jars)}.jsa")
    return Archive(path, os.path.join(root, "conf"), java_home, _identity(path))


def with_archive(builder: SparkSession.Builder,
                 archive: Archive | None) -> SparkSession.Builder:
    """Append the archive flag to the ``spark.driver.extraJavaOptions``
    the builder holds, when the archive exists."""
    if archive is None or archive.found is None:
        return builder
    held = builder._options.get(JAVA_OPTIONS)
    flag = f"-XX:SharedArchiveFile={archive.path}"
    return builder.config(JAVA_OPTIONS, " ".join(o for o in (held, flag) if o))


@contextlib.contextmanager
def conf_dir(archive: Archive | None):
    """Point ``SPARK_CONF_DIR`` at the archive's empty conf dir while the
    block launches the JVM, then restore ``os.environ`` as it was."""
    if archive is None:
        yield
        return
    held = os.environ.get("SPARK_CONF_DIR")
    os.makedirs(archive.conf_dir, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        yield
    finally:
        if held is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = held


def check(spark: SparkSession, archive: Archive | None) -> None:
    """Read whether the new JVM mapped the archive. Schedule a build at
    interpreter exit when there was none, and when the JVM rejected it
    (which also warns)."""
    if archive is None:
        return
    jvm = spark.sparkContext._jvm
    try:
        bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
        shared = bean.getVMOption("UseSharedSpaces").getValue() == "true"
        mapped = bean.getVMOption("SharedArchiveFile").getValue()
        java_home = jvm.System.getProperty("java.home")
        class_path = jvm.System.getProperty("java.class.path")
    except Exception as exc:  # noqa: BLE001 — sharing never fails the session
        warnings.warn(f"could not read the JVM's class-sharing state: {exc!r}",
                      RuntimeWarning, stacklevel=3)
        return
    if archive.found is not None:
        if mapped != archive.path or shared:
            return  # mapped, or the caller's launch options replaced the flag
        warnings.warn(f"the JVM rejected the class-data-sharing archive "
                      f"{archive.path} and started with no class sharing; "
                      "it is rebuilt when this interpreter exits",
                      RuntimeWarning, stacklevel=3)
    if os.path.realpath(java_home) == archive.java_home:
        atexit.register(build, archive, java_home, class_path)


def build(archive: Archive, java_home: str, class_path: str) -> None:
    """Dump the archive for ``class_path`` with ``java_home``'s JVM and
    rename it into place. Skips when another process holds the build
    lock or replaced the archive since this session launched; warns on
    failure and leaves no process or temp file behind."""
    root = os.path.dirname(archive.path)
    os.makedirs(root, exist_ok=True)
    with open(archive.path + ".lock", "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return
        if _identity(archive.path) != archive.found:
            return
        tmp = f"{archive.path}.{os.getpid()}.tmp"
        listing = tmp + ".classlist"
        try:
            with gzip.open(CLASS_LIST) as src, open(listing, "wb") as dst:
                shutil.copyfileobj(src, dst)
            subprocess.run(
                [os.path.join(java_home, "bin", "java"), "-Xshare:dump",
                 f"-XX:SharedClassListFile={listing}",
                 f"-XX:SharedArchiveFile={tmp}", "-cp", class_path],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.PIPE, timeout=DUMP_TIMEOUT_S, check=True)
            os.replace(tmp, archive.path)
        except (OSError, subprocess.SubprocessError) as exc:
            detail = getattr(exc, "stderr", None) or b""
            warnings.warn(f"could not build the class-data-sharing archive "
                          f"{archive.path}: {exc!r} "
                          f"{detail[-500:].decode(errors='replace')}",
                          RuntimeWarning, stacklevel=2)
            return
        finally:
            for f in (tmp, listing):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(f)
        # other keys' archives and locks, and what a killed build left
        for old in glob.glob(os.path.join(root, "spark-*")):
            if old not in (archive.path, lock.name):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(old)
