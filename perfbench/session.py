"""One benchmark session: a fresh Python process with a cold JVM.

Run by ``run.py`` as ``python3 perfbench/session.py <spec.json>`` from the
root of a checkout. It sets up the engine's session, runs the workload's
mix in a closed loop, and writes ``session.json`` plus one canonical
result file per query into the spec's ``out_dir``. It never compares
results: that happens in the parent, after this process has exited.

Each query is timed as the call to its builder plus ``toPandas()``, which
materializes every row and column in the driver. Per-query CPU is read
from ``/proc`` for the whole process tree (this driver, the JVM and the
Python workers).
"""

from __future__ import annotations

import json
import os
import resource
import sys
import threading
import time

T_IMPORT0 = time.time()

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import workloads  # noqa: E402


def _warmup(spark) -> None:
    """Fixed warm-up: a tiny word count through SQL and through the
    engine's ``run_job``, each collected with ``toPandas()``. It loads the
    planner's and Arrow's classes and forks the Python workers."""
    from mapreduce_rust_spark.core import apps
    from mapreduce_rust_spark.core.runner import run_job
    from pyspark.sql import functions as F
    splits = ["a b a", "b c"]
    df = spark.createDataFrame([(t,) for t in splits], ["text"])
    df.select(F.explode(F.split("text", " ")).alias("w")).groupBy("w").count().toPandas()
    run_job(spark, spark.sparkContext.parallelize(splits, 2), apps.wc_map,
            apps.wc_reduce_sum, 2, combine_fn=apps.wc_combine).toPandas()


class StreamRecorder:
    """StreamingQueryListener state: which benchmark query started each
    streaming query, and every micro-batch's progress."""

    def __init__(self):
        self.current = None
        self.lock = threading.Lock()
        self.owner: dict[str, str] = {}
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener
        rec = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with rec.lock:
                    rec.owner[str(event.id)] = rec.current

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                with rec.lock:
                    rec.batches.append({
                        "query_id": str(p.id), "batch_id": p.batchId,
                        "duration_ms": dict(p.durationMs or {}),
                        "state_rows": sum(o.numRowsTotal for o in ops),
                        "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
                        "input_rows": p.numInputRows})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _L()


def _wc_query(spark, data_dir: str, out_dir: str):
    """Build ``workloads.WC_QUERY``; returns the action that writes it."""
    from mapreduce_rust_spark.core import apps
    from mapreduce_rust_spark.core.runner import run_job
    from mapreduce_rust_spark.sinks import write_kv_text

    # whole files are the map splits, as in the reference
    splits = spark.sparkContext.wholeTextFiles(os.path.join(data_dir, "corpus")).values()
    df = run_job(spark, splits, apps.wc_map, apps.wc_reduce_sum, 8,
                 combine_fn=apps.wc_combine)
    path = os.path.join(out_dir, "sink", workloads.WC_QUERY)
    return lambda: write_kv_text(df, path, 8, global_sort=True)


def _dir_stats(path: str) -> tuple[float, int]:
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    return (sum(os.path.getsize(os.path.join(path, f)) for f in files) / 1e6,
            len(files))


def _jvm_pid(root: int) -> int | None:
    for pid in check.descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            pass
    return None


def _run_mix(spark, builders, rec, workload, data_dir, out_dir, trace, me):
    """The mix in its fixed order, one query at a time; one record each."""
    sc = spark.sparkContext
    records = []
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    for name in workloads.MIXES[workload]:
        r = {"name": name}
        rec.current = name
        if trace:
            sc.setJobGroup(name, f"perfbench {workload} {name}", False)
        cpu0 = check.tree_cpu_s(me)
        w0 = time.time()
        p0 = time.perf_counter()
        p1 = None
        try:
            if name == workloads.WC_QUERY:
                action = _wc_query(spark, data_dir, out_dir)
                p1 = time.perf_counter()
                action()
                result = None
            else:
                df = builders[name](spark, data_dir)
                p1 = time.perf_counter()
                result = df.toPandas()
            p2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — one query's failure is a counted error
            p2 = time.perf_counter()
            p1 = p2 if p1 is None else p1
            r["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            result = None
        cpu1 = check.tree_cpu_s(me)
        r.update({"build_s": p1 - p0, "exec_s": p2 - p1, "latency_s": p2 - p0,
                  "cpu_s": cpu1 - cpu0, "t_start": w0, "t_built": w0 + (p1 - p0),
                  "t_end": w0 + (p2 - p0),
                  "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0})
        rec.current = None
        if trace:
            sc.setJobGroup("perfbench-idle", "between queries", False)
        # outside the timed region: persist the result for the parent's check
        if result is not None:
            r["rows"] = len(result)
            with open(os.path.join(out_dir, "results", f"{name}.json"), "w") as fh:
                json.dump(check.canon(result), fh)
            del result
        elif name == workloads.WC_QUERY and "error" not in r:
            r["output_mb"], r["output_files"] = _dir_stats(
                os.path.join(out_dir, "sink", name))
        records.append(r)
    return records


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    t0 = spec["t0"]  # parent's wall clock just before it started us
    workload, data_dir, out_dir = spec["workload"], spec["data_dir"], spec["out_dir"]
    trace = spec["trace"]
    me = os.getpid()

    from mapreduce_rust_spark import registry
    from mapreduce_rust_spark.session import get_spark
    t_imported = time.time()
    spark = get_spark("perfbench")
    t_started = time.time()
    _warmup(spark)
    t_ready = time.time()
    setup = {"setup_s": t_ready - t0,
             "session.import_s": t_imported - T_IMPORT0,
             "session.start_s": t_started - t_imported,
             "session.warmup_s": t_ready - t_started}

    # micro-batch progress is an end-to-end reading (batch_p50_ms), so the
    # listener is attached in untraced runs too
    rec = StreamRecorder()
    spark.streams.addListener(rec.listener())
    records = _run_mix(spark, registry.queries(), rec, workload, data_dir,
                       out_dir, trace, me)
    sc = spark.sparkContext

    oracles = registry.oracles()
    with open(os.path.join(out_dir, "oracles.json"), "w") as fh:
        json.dump({n: oracles[n] for n in workloads.MIXES[workload] if n in oracles}, fh)
    jvm = _jvm_pid(me)
    out = {"t0": t0, "setup": setup, "queries": records,
           "jvm_peak_rss_mb": check.peak_rss_mb(jvm) if jvm else 0.0,
           "app_id": sc.applicationId}
    if rec.owner:
        time.sleep(0.2)  # let the listener bus deliver the last progress events
    with rec.lock:
        out["stream_owner"] = dict(rec.owner)
        out["stream_batches"] = list(rec.batches)
    if trace:
        spark.stop()  # completes the event log; otherwise exit ends the JVM
    out["t_stopped"] = time.time()
    with open(os.path.join(out_dir, "session.json"), "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main(sys.argv[1])
