"""Record the class list that ``get_spark``'s class-data-sharing archive
is built from (``mapreduce_rust_spark/cds.py``).

    python3 plans/r24/train_classlist.py <sf0.01 fixture dir>

It starts one ``get_spark`` session on ``local[$SPARK_GRAFT_CPUS]`` with
``-XX:DumpLoadedClassList`` (passed through ``PYSPARK_SUBMIT_ARGS``, which
also keeps ``get_spark`` from mapping an archive), runs ``TRAINING``
over the fixture directory, each collected with ``toPandas()``, and
stops the JVM so that it flushes the list. It keeps the lines of the
JVM's built-in loaders (class names and lambda-proxy shapes, no paths)
and writes ``classlist.gz`` next to this script, gzip with a zero
mtime, under a header that names the JDK and Spark versions.

``TRAINING`` shares no query with a perfbench mix
(``tests/test_cds.py::test_training_queries_are_not_a_perfbench_mix``),
so the archive is not fitted to the benchmark. Regenerate the list after
a Spark or JDK upgrade; the archive key hashes the list, so every cache
rebuilds its archive at the next session's exit.
"""
import gzip
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "classlist.gz")

TRAINING = [
    "q1_pricing_summary", "q5_local_supplier", "word_count_sorted",
    "minhash_lsh_pairs", "dedup_eval_lsh", "stream_session_windows",
]


def _keep(line: str) -> bool:
    """A built-in loader's line: a class name, or an ``@`` lambda line.
    Classes from other loaders carry ``source:`` paths."""
    return bool(line.strip()) and not line.startswith("#") and "source:" not in line


def record(sf_dir: str) -> None:
    with tempfile.TemporaryDirectory() as tmp:
        raw = os.path.join(tmp, "classlist.txt")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options -XX:DumpLoadedClassList={raw} pyspark-shell")
        sys.path.insert(0, ROOT)
        from pyspark import SparkContext
        from mapreduce_rust_spark import registry
        from mapreduce_rust_spark.session import get_spark

        spark = get_spark("train-classlist")
        queries = registry.queries()
        for name in TRAINING:
            rows = len(queries[name](spark, sf_dir).toPandas())
            print(f"{name}: {rows} rows", flush=True)
        jvm = spark.sparkContext._jvm
        versions = (f"# JDK {jvm.System.getProperty('java.runtime.version')}, "
                    f"Spark {spark.version}\n")
        spark.stop()
        # the JVM exits when its stdin closes, and flushes the list then
        proc = SparkContext._gateway.proc
        proc.stdin.close()
        proc.wait(timeout=120)
        with open(raw) as fh:
            lines = [ln for ln in fh if _keep(ln)]
    header = ("# Class list for mapreduce_rust_spark/cds.py, recorded by "
              "plans/r24/train_classlist.py\n"
              f"{versions}"
              f"# Training queries: {', '.join(TRAINING)}\n")
    with open(OUT, "wb") as raw_out:
        with gzip.GzipFile(fileobj=raw_out, mode="wb", mtime=0) as fh:
            fh.write((header + "".join(lines)).encode())
    print(f"{len(lines)} classes -> {OUT}")


if __name__ == "__main__":
    record(sys.argv[1])
