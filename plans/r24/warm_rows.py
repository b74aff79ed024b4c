"""Warm times of three heavy sf0.1 rows in one fresh ``get_spark``
session, to check that mapping classes from the class-data-sharing
archive does not slow code the JIT has already compiled.

    python3 plans/r24/warm_rows.py <checkout root> <label>

Runs at ``bench.SF_DIR`` ($SPARK_GRAFT_SF_DIR, default sf0.1) on
``get_spark``'s session ($SPARK_GRAFT_CPUS). Each row runs once to warm
up, then three timed reps like a bench rep (``bench.timed_run`` clears
result memos first); prints the min of the three and whether the JVM
mapped an archive, as one ``RESULT`` JSON line. To compare two commits,
run each from its own checkout, alternating which goes first.
"""

import json
import os
import sys

ROWS = ("triangle_count_copurchase", "q1_pricing_summary", "dedup_eval_lsh")


def main(root: str, label: str) -> None:
    root = os.path.abspath(root)
    os.chdir(root)
    sys.path.insert(0, root)
    import bench
    from mapreduce_rust_spark import registry
    from mapreduce_rust_spark.session import get_spark

    spark = get_spark("warm-rows")
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    qs = registry.queries()
    out = {"label": label,
           "shared": bean.getVMOption("UseSharedSpaces").getValue(),
           "archive": bean.getVMOption("SharedArchiveFile").getValue()}
    for name in ROWS:
        bench.timed_run(qs[name], spark, bench.SF_DIR)
        out[name] = round(min(bench.timed_run(qs[name], spark, bench.SF_DIR)
                              for _ in range(3)), 3)
    print("RESULT", json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
