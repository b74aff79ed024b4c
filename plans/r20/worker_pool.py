"""Python worker pools of one checkout's ``get_spark`` session, and the
perfbench runs that compare two checkouts.

    python3 plans/r20/worker_pool.py session <checkout root>
    python3 plans/r20/worker_pool.py traced <parent root> <change root> <seed>
    python3 plans/r20/worker_pool.py pairs <parent root> <change root> <workload> <seed>...

``session`` starts the checkout's ``get_spark`` session on
``local[$SPARK_GRAFT_CPUS]``, runs perfbench's fixed warm-up (a SQL and a
``run_job`` word count, which fork the RDD runner's workers) and prints
1. the first ``mapInPandas`` job after the warm-up, then 5 warm ones:
   wall and process-tree CPU (``perfbench/check.tree_cpu_s``);
2. after a ``pandas_udf``, an ``applyInPandas`` and the
   ``stateful_user_totals`` stream twin (``applyInPandasWithState``) over
   ``$SPARK_GRAFT_SF_DIR``, the daemon census: every Python worker daemon below the
   driver, with its ``SPARK_SIMPLIFIED_TRACEBACK`` env value, its live
   forked workers, and whether it maps libarrow and pandas' ``_libs``.

``traced`` reads each checkout's ``llm_curation`` ``--trace 1`` result
for the seed (``python3 perfbench/run.py --workload llm_curation --seed S
--seconds 25 --trace 1``) and prints per-query ``cpu_s``,
``llm.python_boot_s``, ``llm.python_run_s`` and ``spark.tasks`` side by
side.

``pairs`` reads each checkout's ``--trace 0`` results for the seeds and
prints, per end-to-end metric, both medians, how many pairs the change
won, the parent's inter-quartile range and every run.
"""
import json
import os
import statistics
import sys
import time

import pandas as pd

METRICS = ("setup_s", "wall_s", "cpu_s", "query_p50_s", "driver_peak_mb")


def _frames_len(batches):
    n = sum(len(b) for b in batches)
    yield pd.DataFrame({"n": [n]})


def _group_len(pdf):
    return pd.DataFrame({"k": [int(pdf["k"].iloc[0])], "n": [len(pdf)]})


def _is_pool(pid) -> bool:
    """Whether ``pid`` runs a Python worker daemon module or was forked
    from one."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read().split(b"\0")
    except OSError:
        return False
    return b"-m" in cmd and any(
        m in cmd for m in (b"pyspark.daemon", b"mapreduce_rust_spark.core.pyworker"))


def _daemons(driver: int) -> list[tuple]:
    """(pid, SPARK_SIMPLIFIED_TRACEBACK, live workers, libarrow mapped,
    pandas _libs mapped) of every Python worker daemon below ``driver``.
    A forked worker keeps its daemon's command line, so only the
    matching processes whose parent does not match are daemons."""
    import check
    out = []
    for pid in check.descendants(driver):
        stat = check._stat_fields(str(pid))
        if stat is None or _is_pool(stat[1]):
            continue
        try:
            if not _is_pool(pid):
                continue
            with open(f"/proc/{pid}/environ", "rb") as fh:
                env = dict(kv.split(b"=", 1) for kv in fh.read().split(b"\0")
                           if b"=" in kv)
            with open(f"/proc/{pid}/maps") as fh:
                maps = fh.read()
        except OSError:
            continue
        workers = len(check.descendants(pid)) - 1
        tb = env.get(b"SPARK_SIMPLIFIED_TRACEBACK", b"unset").decode()
        out.append((pid, tb, workers, "libarrow" in maps,
                    f"pandas{os.sep}_libs" in maps))
    return out


def session(root: str) -> None:
    root = os.path.abspath(root)
    os.chdir(root)  # perfbench/session.py puts the cwd first on sys.path
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    import check
    from pyspark.sql import functions as F
    from session import _warmup
    from mapreduce_rust_spark import registry
    from mapreduce_rust_spark.session import get_spark
    from mapreduce_rust_spark.tables import DEFAULT_SF_DIR

    spark = get_spark("worker_pool")
    _warmup(spark)
    me = os.getpid()
    print(f"{root}: after the warm-up, daemons {_daemons(me)}")

    df = spark.range(0, 4000, 1, 4)
    cpu, wall = [], []
    for _ in range(6):
        c0, t0 = check.tree_cpu_s(me), time.time()
        df.mapInPandas(_frames_len, "n long").collect()
        cpu.append(check.tree_cpu_s(me) - c0)
        wall.append(time.time() - t0)
    print(f"first mapInPandas: wall_s {wall[0]:.2f} cpu_s {cpu[0]:.2f}")
    print(f"warm mapInPandas x5: wall_s {[round(x, 2) for x in wall[1:]]} "
          f"median {statistics.median(wall[1:]):.2f}; cpu_s "
          f"{[round(x, 2) for x in cpu[1:]]} median {statistics.median(cpu[1:]):.2f}")

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df.select(plus_one("id")).collect()
    (df.withColumn("k", F.col("id") % 3).groupBy("k")
       .applyInPandas(_group_len, "k long, n long").collect())
    registry.queries()["stateful_user_totals"](
        spark, DEFAULT_SF_DIR).collect()
    print("census after RDD, mapInPandas, pandas_udf, applyInPandas and "
          "stateful_user_totals (pid, SPARK_SIMPLIFIED_TRACEBACK, live "
          "workers, libarrow, pandas _libs):")
    for row in _daemons(me):
        print(f"  {row}")
    spark.stop()


def _result(root: str, workload: str, seed: str, trace: int) -> dict:
    with open(os.path.join(root, ".perfbench/results",
                           f"{workload}-s{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def traced(parent: str, change: str, seed: str) -> None:
    keys = ("llm.python_boot_s", "llm.python_run_s", "spark.tasks")
    sides = []
    for root in (parent, change):
        res = _result(root, "llm_curation", seed, 1)
        pq = res["layers"]["per_query"]
        sides.append({q["name"]: [q["cpu_s"]] + [pq[q["name"]][k] for k in keys]
                      for q in res["queries"]})
        e2e = res["end_to_end"]
        m = res["layers"]["metrics"]
        print(f"{root}: " + "  ".join(f"{k} {e2e[k]:.2f}" for k in METRICS)
              + "  " + "  ".join(f"{k} {m[k]:.2f}" for k in keys))
    print(f"{'query':26} {'cpu_s':>13} {'python_boot_s':>13} "
          f"{'python_run_s':>13} {'spark.tasks':>13}  (parent → change)")
    for name in sides[0]:
        cells = [f"{a:5.2f} → {b:5.2f}" for a, b in zip(sides[0][name], sides[1][name])]
        print(f"{name:26} " + " ".join(f"{c:>13}" for c in cells))


def pairs(parent: str, change: str, workload: str, *seeds: str) -> None:
    runs = [[_result(r, workload, s, 0) for s in seeds] for r in (parent, change)]
    print(f"{workload}, seeds {', '.join(seeds)}")
    for k in METRICS:
        p = [r["end_to_end"][k] for r in runs[0]]
        c = [r["end_to_end"][k] for r in runs[1]]
        q1, _, q3 = statistics.quantiles(p, n=4)
        mp, mc = statistics.median(p), statistics.median(c)
        won = sum(b < a for a, b in zip(p, c))
        print(f"  {k:15} parent {mp:8.2f} change {mc:8.2f} "
              f"(x{mc / mp:.3f}) change lower {won}/{len(p)}  "
              f"gain {mp - mc:.2f} parent IQR {q3 - q1:.2f}")
        print(f"  {'':15} parent runs {[round(x, 2) for x in p]}")
        print(f"  {'':15} change runs {[round(x, 2) for x in c]}")
    failed = [r["end_to_end"].get("failed", sum(
        1 for q in r["queries"] if "error" in q or "mismatch" in q))
        for side in runs for r in side]
    print(f"  failed {failed}")


if __name__ == "__main__":
    {"session": session, "traced": traced, "pairs": pairs}[sys.argv[1]](*sys.argv[2:])
