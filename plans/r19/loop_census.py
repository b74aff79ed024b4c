"""Jobs, stages, warm time and a result fingerprint of the five
fixed-round loop queries (three PageRank forms, two k-means forms).

    python3 plans/r19/loop_census.py run <checkout root> <sf dir> ...
    python3 plans/r19/loop_census.py compare <parent.jsonl> <change.jsonl>

``run`` starts the checkout's ``get_spark`` session on
``local[$SPARK_GRAFT_CPUS]`` and, per query and sf dir, runs one
untimed warm-up and then 3 timed reps. Each rep clears the result
memos first (as ``bench.py`` does), so every rep pays the co-purchase
edge build. Per rep it counts the driver-thread jobs and the stages
those jobs list (``statusTracker``); it prints one JSON line per
(query, sf) with the last rep's counts, the min time of the 3 reps and
a sha256 of the sorted result rows. The fingerprint covers every
column of the exact forms, ``(node, rank_q)`` of the float PageRank
and ``(vec_id, cluster)`` of the float k-means (its ``dist2`` is a
float sum in shuffle order).

``compare`` prints both records side by side.
"""
import hashlib
import json
import os
import sys
import time

QUERIES = {
    "pagerank_copurchase_parts": ("node", "rank_q"),
    "pagerank_exact_parts": None,
    "ppr_seeded_parts": None,
    "kmeans_embeddings": ("vec_id", "cluster"),
    "kmeans_exact_embeddings": None,
}


def _fingerprint(rows, cols) -> str:
    keyed = sorted(tuple(r[c] for c in cols) if cols else tuple(r)
                   for r in rows)
    return hashlib.sha256(repr(keyed).encode()).hexdigest()[:16]


def run(root: str, sf_dirs: list[str]) -> None:
    sys.path.insert(0, os.path.abspath(root))
    from mapreduce_rust_spark import memo, registry
    from mapreduce_rust_spark.session import get_spark
    spark = get_spark("loop_census")
    tracker = spark.sparkContext.statusTracker()
    qs = registry.queries()
    for sf_dir in sf_dirs:
        for name, cols in QUERIES.items():
            spark.sparkContext.setJobGroup(name, name)
            memo.clear_results()
            qs[name](spark, sf_dir).collect()          # warm-up
            times = []
            for _ in range(3):
                memo.clear_results()
                before = set(tracker.getJobIdsForGroup(name))
                t0 = time.perf_counter()
                rows = qs[name](spark, sf_dir).collect()
                times.append(time.perf_counter() - t0)
                jobs = set(tracker.getJobIdsForGroup(name)) - before
            stages = {s for j in jobs
                      for s in tracker.getJobInfo(j).stageIds}
            print(json.dumps({
                "query": name, "sf": os.path.basename(sf_dir.rstrip("/")),
                "cpus": spark.sparkContext.defaultParallelism,
                "jobs": len(jobs), "stages": len(stages),
                "warm_min_s": round(min(times), 2), "rows": len(rows),
                "fingerprint": _fingerprint(rows, cols)}), flush=True)
    spark.stop()


def compare(parent: str, change: str) -> None:
    def load(path):
        with open(path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        return {(r["query"], r["sf"]): r for r in rows}
    a, b = load(parent), load(change)
    print(f"{'query':28} {'sf':7} {'jobs':>9} {'stages':>9} "
          f"{'warm min s':>13}  same result")
    tot = {}
    for key in a:
        p, c = a[key], b[key]
        for side, r in (("p", p), ("c", c)):
            tot[(key[1], side)] = tot.get((key[1], side), 0) + r["jobs"]
        print(f"{key[0]:28} {key[1]:7} {p['jobs']:>4}→{c['jobs']:<4} "
              f"{p['stages']:>4}→{c['stages']:<4} "
              f"{p['warm_min_s']:>6}→{c['warm_min_s']:<6}  "
              f"{p['fingerprint'] == c['fingerprint']}")
    for sf in sorted({k[1] for k in a}):
        print(f"job total {sf}: {tot[(sf, 'p')]} → {tot[(sf, 'c')]}")


if __name__ == "__main__":
    if sys.argv[1] == "run":
        run(sys.argv[2], sys.argv[3:])
    else:
        compare(sys.argv[2], sys.argv[3])
