"""Warm latency of stream twins with the state-partition count forced,
interleaved so every count sees the same session drift.

    SPARK_GRAFT_CPUS=4 [SHUFFLE=32] python3 plans/r16/twin_partition_sweep.py \\
        <checkout> <sf_dir> <out.json> <counts, e.g. 8,1> [twin,twin,...]

Per twin: one warm-up run per count (whose result hash is recorded),
then three rounds of one timed build + ``toPandas()`` per count; the
median is reported. Default twins: every ``windows.TWINS`` row.
``SHUFFLE`` sets the session's ``spark.sql.shuffle.partitions``
(default: ``get_spark``'s). The count is forced for JVM-state and
Python-state drains alike: every drain is routed through
``windows._state_partitions``, which is replaced by a constant.
"""
import hashlib
import json
import os
import statistics
import sys
import time

root, sf, out, counts = sys.argv[1:5]
counts = [int(x) for x in counts.split(",")]
sys.path.insert(0, os.path.abspath(root))

from mapreduce_rust_spark import registry  # noqa: E402
from mapreduce_rust_spark.session import get_spark  # noqa: E402
from mapreduce_rust_spark.streaming import stateful, windows  # noqa: E402

spark = get_spark("twin-partition-sweep",
                  shuffle_partitions=int(os.environ.get("SHUFFLE", 0)) or None)
names = (sys.argv[5].split(",") if len(sys.argv) > 5
         else [t.name for t in windows.TWINS])
qs = registry.queries()
drain = windows._run_to_table


def sized_drain(df, name, mode, rows=None):
    return drain(df, name, mode, 0 if rows is None else rows)


windows._run_to_table = stateful._run_to_table = sized_drain


def run(name, k):
    windows._state_partitions = lambda rows, per_batch, ceiling: k
    return qs[name](spark, sf).toPandas()


res = {}
for n in names:
    rec = {}
    for k in counts:
        pdf = run(n, k)
        rows = sorted(map(str, map(tuple, pdf.reindex(
            sorted(pdf.columns), axis=1).astype(str).values)))
        rec[k] = {"sha": hashlib.sha256("\n".join(rows).encode())
                  .hexdigest()[:16],
                  "state_partitions": (windows.LAST_STREAM_STATS or {})
                  .get("state_partitions"),
                  "reps": []}
    for _ in range(3):
        for k in counts:
            t0 = time.perf_counter()
            run(n, k)
            rec[k]["reps"].append(round(time.perf_counter() - t0, 3))
    for k in counts:
        rec[k]["median_s"] = statistics.median(rec[k]["reps"])
    res[n] = rec
    print(n, json.dumps(rec), flush=True)
with open(out, "w") as fh:
    json.dump(res, fh, indent=1)
spark.stop()
