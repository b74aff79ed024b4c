"""Python-worker task setup cost of one checkout's ``get_spark`` session.

    python3 plans/r17/python_task_setup.py session <checkout root>
    python3 plans/r17/python_task_setup.py traced <parent root> <change root>

``session`` starts the checkout's ``get_spark`` session on
``local[$SPARK_GRAFT_CPUS]`` and prints
1. the probe: in each of 8 tasks, how many zipimporters in
   ``sys.path_importer_cache`` re-read their archive directory (a new
   ``_files`` object) when ``importlib.invalidate_caches()`` runs, the
   call ``pyspark/worker_util.py:setup_spark_files`` makes on every task;
2. the top lines of a cProfile of that call inside one task;
3. an 8-task identity RDD job, run 5 times with its workers already
   forked: process-tree CPU (``perfbench/check.tree_cpu_s``) and wall.

``traced`` reads the llm_curation seed 5 ``--trace 1`` results of two
checkouts (``python3 perfbench/run.py --workload llm_curation --seed 5
--seconds 25 --trace 1`` run in each) and prints per-query ``cpu_s`` and
``spark.tasks`` side by side, then each side's stages from the Spark
event log: tasks, summed task run time, summed JVM task CPU (Python
worker CPU is not in it) and whether the stage's RDD chain holds a
``PythonRDD``.
"""
import glob
import json
import os
import statistics
import sys
import time


def _probe(_):
    import importlib
    import sys as _sys
    import zipimport as _zi
    zips = [i for i in _sys.path_importer_cache.values()
            if isinstance(i, _zi.zipimporter)]
    before = [id(i._files) for i in zips]
    importlib.invalidate_caches()
    yield (len(zips), sum(id(i._files) != b for i, b in zip(zips, before)))


def _profile(_):
    import cProfile
    import importlib
    import io
    import pstats
    prof = cProfile.Profile()
    prof.runcall(importlib.invalidate_caches)
    out = io.StringIO()
    pstats.Stats(prof, stream=out).sort_stats("tottime").print_stats(6)
    yield out.getvalue()


def session(root: str) -> None:
    root = os.path.abspath(root)
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    import check
    from mapreduce_rust_spark.session import get_spark
    spark = get_spark("python_task_setup")
    sc = spark.sparkContext
    me = os.getpid()
    ident = sc.parallelize(range(8), 8).map(lambda x: x)
    ident.collect()  # fork the workers
    probes = sc.parallelize(range(8), 8).mapPartitions(_probe).collect()
    print(f"probe per task (zipimporters, of them re-read): {probes}")
    prof = sc.parallelize([0], 1).mapPartitions(_profile).collect()[0]
    print("cProfile of importlib.invalidate_caches() in one task:")
    print("\n".join(l for l in prof.splitlines() if l.strip())[:1800])
    cpu, wall = [], []
    for _ in range(5):
        c0, t0 = check.tree_cpu_s(me), time.time()
        ident.collect()
        cpu.append(check.tree_cpu_s(me) - c0)
        wall.append(time.time() - t0)
    print(f"identity job x5: cpu_s {[round(x, 2) for x in cpu]} "
          f"median {statistics.median(cpu):.2f}; wall_s {[round(x, 2) for x in wall]} "
          f"median {statistics.median(wall):.2f}")
    spark.stop()


def _stages(root: str) -> None:
    logs = sorted(glob.glob(os.path.join(
        root, ".perfbench/runs/llm_curation-s5-trace1/eventlog/*/*")))
    info, tasks = {}, {}
    for log in logs:
        for line in open(log):
            e = json.loads(line)
            if e["Event"] == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for st in e["Stage Infos"] if group else ():
                    info[st["Stage ID"]] = (group, e["Job ID"], any(
                        r["Name"] == "PythonRDD" for r in st["RDD Info"]))
            elif e["Event"] == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                t = tasks.setdefault(e["Stage ID"], [0, 0, 0.0])
                t[0] += 1
                t[1] += m.get("Executor Run Time", 0)
                t[2] += m.get("Executor CPU Time", 0) / 1e6
    print(f"{root} stages: query, job, stage, tasks, run_ms, jvm_cpu_ms, PythonRDD")
    for sid, (group, job, py) in sorted(info.items()):
        if sid in tasks:
            n, run, cpu = tasks[sid]
            print(f"  {group:26} {job:3} {sid:3} {n:3} {run:6} {cpu:6.0f} {py}")


def traced(parent: str, change: str) -> None:
    sides = []
    for root in (parent, change):
        res = json.load(open(os.path.join(
            root, ".perfbench/results/llm_curation-s5-trace1.json")))
        pq = res["layers"]["per_query"]
        sides.append({q["name"]: (q["cpu_s"], pq[q["name"]]["spark.tasks"])
                      for q in res["queries"]})
        e2e = res["end_to_end"]
        print(f"{root}: cpu_s {e2e['cpu_s']:.2f}  wall_s {e2e['wall_s']:.2f}  "
              f"query_p50_s {e2e['query_p50_s']:.2f}  "
              f"spark.tasks {res['layers']['metrics']['spark.tasks']:.0f}")
    print(f"{'query':28} {'cpu_s parent':>12} {'cpu_s change':>12} "
          f"{'tasks parent':>12} {'tasks change':>12}")
    for name in sides[0]:
        (c0, t0), (c1, t1) = sides[0][name], sides[1][name]
        print(f"{name:28} {c0:12.2f} {c1:12.2f} {t0:12.0f} {t1:12.0f}")
    for root in (parent, change):
        _stages(root)


if __name__ == "__main__":
    {"session": session, "traced": traced}[sys.argv[1]](*sys.argv[2:])
