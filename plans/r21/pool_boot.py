"""When the Python worker daemon boots, and what the session set-up
costs before and after ``get_spark`` started booting it on its own.

    python3 plans/r21/pool_boot.py one <checkout root> split|warmup
    python3 plans/r21/pool_boot.py compare <parent root> <change root> <runs>

``one`` runs one cold session of the checkout on
``local[$SPARK_GRAFT_CPUS]`` and prints one JSON line:

- ``import_s``: importing the package;
- ``launch_gateway_s``: PySpark's ``launch_gateway`` (JVM start) inside
  ``get_spark``, and ``context_s``: the rest of ``get_spark``;
- ``split``: then a JVM-only SQL word count over a ``VALUES`` table
  (``first_sql_s``), then a ``run_job`` word count (``first_python_s``),
  both collected with ``toPandas()``;
- ``warmup``: then perfbench's fixed warm-up, ``perfbench/session.py``
  ``_warmup`` (``warmup_s``). Its first step's driver-list frame is a
  ``PythonRDD``, so its first Python task comes at its start;
- ``daemon_s``: when the worker daemon process started, in seconds
  after the first Python job (``split``) or the warm-up (``warmup``)
  began; negative means it was already up.

``compare`` alternates ``runs`` cold runs of each kind between the two
checkouts, parent first on even runs, and prints every run and the
medians. The perfbench pairs in ``pool_boot.txt`` are printed by
``plans/r20/worker_pool.py pairs``.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "r20"))

KEYS = {"split": ("import_s", "launch_gateway_s", "context_s", "first_sql_s",
                  "first_python_s", "daemon_s"),
        "warmup": ("import_s", "launch_gateway_s", "context_s", "warmup_s",
                   "daemon_s")}


def _daemon_start(me: int) -> float | None:
    """Wall-clock start of the one worker daemon below ``me``."""
    import check
    from worker_pool import _is_pool
    clk = os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        booted = time.time() - float(fh.read().split()[0])
    for pid in check.descendants(me):
        stat = check._stat_fields(str(pid))
        if stat is not None and _is_pool(pid) and not _is_pool(stat[1]):
            return booted + int(stat[19]) / clk
    return None


def one(root: str, kind: str) -> None:
    root = os.path.abspath(root)
    os.chdir(root)
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    t0 = time.time()
    import pyspark.core.context as context
    from mapreduce_rust_spark.core import apps
    from mapreduce_rust_spark.core.runner import run_job
    from mapreduce_rust_spark.session import get_spark
    from session import _warmup
    out = {"import_s": time.time() - t0}

    launch = context.launch_gateway

    def timed_launch(*args, **kwargs):
        g0 = time.time()
        try:
            return launch(*args, **kwargs)
        finally:
            out["launch_gateway_s"] = time.time() - g0

    context.launch_gateway = timed_launch
    t1 = time.time()
    spark = get_spark("pool_boot")
    out["context_s"] = time.time() - t1 - out["launch_gateway_s"]
    if kind == "split":
        t2 = time.time()
        spark.sql("SELECT w, count(*) AS n FROM (SELECT explode(split(text, ' ')) "
                  "AS w FROM VALUES ('a b a'), ('b c') AS t(text)) GROUP BY w"
                  ).toPandas()
        t3 = time.time()
        run_job(spark, spark.sparkContext.parallelize(["a b a", "b c"], 2),
                apps.wc_map, apps.wc_reduce_sum, 2,
                combine_fn=apps.wc_combine).toPandas()
        out.update(first_sql_s=t3 - t2, first_python_s=time.time() - t3)
    else:
        t3 = time.time()
        _warmup(spark)
        out["warmup_s"] = time.time() - t3
    start = _daemon_start(os.getpid())
    out["daemon_s"] = None if start is None else start - t3
    spark.stop()
    print(json.dumps(out))


def compare(parent: str, change: str, runs: str) -> None:
    for kind in KEYS:
        got = {parent: [], change: []}
        for i in range(int(runs)):
            for root in ((parent, change) if i % 2 == 0 else (change, parent)):
                done = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "one", root, kind],
                    capture_output=True, text=True, check=True)
                got[root].append(json.loads(done.stdout.strip().splitlines()[-1]))
        print(f"{kind}: {runs} cold runs per side, alternating "
              f"(SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS', '*')}, "
              f"{os.cpu_count()} cpus)")
        for k in KEYS[kind]:
            p = [r[k] for r in got[parent]]
            c = [r[k] for r in got[change]]
            print(f"  {k:17} parent {statistics.median(p):6.2f} "
                  f"change {statistics.median(c):6.2f}   runs "
                  f"{[round(x, 2) for x in p]} -> {[round(x, 2) for x in c]}")


if __name__ == "__main__":
    {"one": one, "compare": compare}[sys.argv[1]](*sys.argv[2:])
