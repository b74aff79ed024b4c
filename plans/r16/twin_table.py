"""Run every stream twin (windows.TWINS plus the stateful twins) once
per checkout and record, per twin, the derived state-partition count
and either a result hash or a warm median-of-3 latency.

    python3 plans/r16/twin_table.py <checkout> hash <sf_dir> <out.json>
    python3 plans/r16/twin_table.py <checkout> time <sf_dir> <out.json>

``hash`` collects each twin once (sorted, column-sorted string rows, as
the driver compares them). ``time`` runs one warm-up and then three
timed runs of build + ``toPandas()`` per twin, in one session on
``local[$SPARK_GRAFT_CPUS]``. A checkout whose ``_run_to_table`` does
not record ``state_partitions`` reports null there.
"""
import hashlib
import json
import os
import statistics
import sys
import time

root, mode, sf, out = sys.argv[1:5]
sys.path.insert(0, os.path.abspath(root))

from mapreduce_rust_spark import registry  # noqa: E402
from mapreduce_rust_spark.session import get_spark  # noqa: E402
from mapreduce_rust_spark.streaming import stateful, windows  # noqa: E402

spark = get_spark("twin-table")
names = [n for n, _, _ in windows.REGISTRATIONS + stateful.REGISTRATIONS]
qs = registry.queries()
res = {}
for n in names:
    if mode == "hash":
        pdf = qs[n](spark, sf).toPandas()
        rows = sorted(map(str, map(tuple, pdf.reindex(
            sorted(pdf.columns), axis=1).astype(str).values)))
        rec = {"rows": len(rows), "sha": hashlib.sha256(
            "\n".join(rows).encode()).hexdigest()[:16]}
    else:
        qs[n](spark, sf).toPandas()
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[n](spark, sf).toPandas()
            ts.append(time.perf_counter() - t0)
        rec = {"median_s": round(statistics.median(ts), 3),
               "reps": [round(t, 3) for t in ts]}
    st = windows.LAST_STREAM_STATS or {}
    rec["state_partitions"] = st.get("state_partitions")
    rec["source_rows"] = st.get("source_rows")
    res[n] = rec
    print(n, rec, flush=True)
with open(out, "w") as fh:
    json.dump(res, fh, indent=1)
spark.stop()
