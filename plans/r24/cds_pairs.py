"""Alternating perfbench pairs, parent against change, for the
class-data-sharing archive that ``get_spark`` maps
(``mapreduce_rust_spark/cds.py``).

    python3 plans/r24/cds_pairs.py <parent checkout> <change checkout> \\
        <cache dir> <workload> <first seed> <pairs>

Each side runs ``perfbench/run.py --seconds 25 --trace 0`` from its own
checkout; even pairs run the parent first, odd pairs the change. Both
sides get ``XDG_CACHE_HOME=<cache dir>``. Give a new directory for the
first workload: the change's first session then finds no archive and
builds it when its interpreter exits, and that run counts like any
other. Prints one line per run (``run_s`` is the whole perfbench run,
the exit build included; ``archive`` is whether one existed after the
run) and then each metric's medians and quartiles.
"""
import json
import os
import statistics
import subprocess
import sys
import time

METRICS = ("setup_s", "wall_s", "cpu_s", "query_p50_s", "driver_peak_mb")


def run(checkout: str, cache: str, workload: str, seed: int) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=cache)
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "25", "--trace", "0"],
        cwd=checkout, env=env, capture_output=True, text=True, check=True).stdout
    row = json.loads(out.strip().splitlines()[-1])
    metrics = {k: v["value"] if isinstance(v, dict) else v
               for k, v in row["metrics"].items()}
    archives = os.path.join(cache, "mapreduce_rust_spark", "cds")
    built = os.path.isdir(archives) and any(
        f.endswith(".jsa") for f in os.listdir(archives))
    return dict(row, **metrics, run_s=time.time() - t0, archive=built)


def main(parent: str, change: str, cache: str, workload: str,
         seed0: int, pairs: int) -> None:
    print("workload seed side correct attempted failed "
          + " ".join(METRICS) + " run_s archive", flush=True)
    got = {"parent": [], "change": []}
    for i in range(pairs):
        seed = seed0 + i
        for side in ("parent", "change") if i % 2 == 0 else ("change", "parent"):
            r = run(parent if side == "parent" else change, cache, workload, seed)
            got[side].append(r)
            print(workload, seed, side, r["correct"], r["attempted"], r["failed"],
                  *(f"{r[k]:.3f}" for k in METRICS), f"{r['run_s']:.1f}",
                  r["archive"], flush=True)
    for k in METRICS:
        p = [r[k] for r in got["parent"]]
        c = [r[k] for r in got["change"]]
        qp = statistics.quantiles(p, n=4, method="inclusive")
        qc = statistics.quantiles(c, n=4, method="inclusive")
        lower = sum(b < a for a, b in zip(p, c))
        print(f"{k}: parent {statistics.median(p):.2f} ({qp[0]:.2f}/{qp[2]:.2f}) -> "
              f"change {statistics.median(c):.2f} ({qc[0]:.2f}/{qc[2]:.2f}), "
              f"change lower in {lower}/{pairs}, parent IQR {qp[2] - qp[0]:.2f}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4],
         int(sys.argv[5]), int(sys.argv[6]))
