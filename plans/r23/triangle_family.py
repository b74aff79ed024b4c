"""Cold cost of the four triangle-family rows and the warm triangle
build, in one fresh session.

    python3 plans/r23/triangle_family.py <checkout root> <label>

Runs at ``bench.SF_DIR`` ($SPARK_GRAFT_SF_DIR, default sf0.1) on
``get_spark``'s session ($SPARK_GRAFT_CPUS). Each row is timed like a
bench rep (``bench.timed_run`` clears result memos first, so the edge
and triangle tables are rebuilt), min of 3. ``warm_build`` is the
listing kernel plus its eager checkpoint over an already-built edge
table, min of 3; ``partitions`` and ``triangles`` describe that table.
``sha_*`` hash each row's collected result. Prints one ``RESULT``
JSON line. To compare two commits, run each from its own checkout,
alternating which goes first.
"""

import hashlib
import json
import os
import sys
import time

ROWS = ("triangle_count_copurchase", "clustering_coeff_parts",
        "edge_support_hist_parts", "ktruss_edges_parts")


def main(root: str, label: str) -> None:
    root = os.path.abspath(root)
    os.chdir(root)
    sys.path.insert(0, root)
    import bench
    from mapreduce_rust_spark import memo, registry
    from mapreduce_rust_spark.operators import graph
    from mapreduce_rust_spark.session import get_spark
    from mapreduce_rust_spark.tables import load_table

    sf = bench.SF_DIR
    spark = get_spark("triangle-family")
    qs = registry.queries()
    qs["copurchase_degree_hist"](spark, sf).count()  # JVM + footers
    out = {r: min(bench.timed_run(qs[r], spark, sf) for _ in range(3))
           for r in ROWS}
    out["sum4"] = sum(out[r] for r in ROWS)

    memo.clear_results()
    edges = graph.copurchase_edges_cached(load_table(spark, sf, "lineitem"))
    n = edges.count()
    builds = []
    for _ in range(3):
        t0 = time.perf_counter()
        tri = graph._triangle_corners(edges, n).localCheckpoint(eager=True)
        builds.append(time.perf_counter() - t0)
    out.update(warm_build=min(builds), partitions=tri.rdd.getNumPartitions(),
               triangles=tri.count())

    for r in ROWS:
        df = qs[r](spark, sf)
        cols = sorted(df.columns)
        got = sorted(repr(tuple(row[c] for c in cols)) for row in df.collect())
        out["sha_" + r] = hashlib.sha256(
            "\n".join(got).encode()).hexdigest()[:16]
    out.update(label=label, cpus=spark.sparkContext.defaultParallelism)
    print("RESULT", json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:3])
