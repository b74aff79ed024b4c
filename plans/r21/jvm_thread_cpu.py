"""Where the JVM's CPU goes during a perfbench run's timed mix, by thread.

    python3 plans/r21/jvm_thread_cpu.py <checkout root> <workload> <seed>

Runs ``python3 perfbench/run.py --workload W --seed S --seconds 25
--trace 0`` from the checkout and samples every JVM thread's user+system
time (``/proc/<jvm>/task/<tid>/stat``) every 0.1 s. After the run it
reads the mix's window (first query start to last query end) from the
run's result file and prints, per thread class, the CPU seconds spent
inside that window, beside the run's ``cpu_s`` (process-tree CPU over
the same queries). The classes come from the thread names: C2 and C1
JIT compiler threads, garbage collection (``GC Thread``, ``G1 ...``,
``VM Thread``), Spark task threads (``Executor task launch worker``) and
every other JVM thread. A thread that ends between two samples loses at
most 0.1 s of its time.
"""
import json
import os
import subprocess
import sys
import time

CLASSES = (("C2 JIT", ("C2 CompilerThre",)),
           ("C1 JIT", ("C1 CompilerThre",)),
           ("GC", ("GC Thread", "G1 ", "VM Thread")),
           ("task threads", ("Executor task l",)))


def _klass(name: str) -> str:
    for klass, prefixes in CLASSES:
        if name.startswith(prefixes):
            return klass
    return "other JVM"


def _threads(jvm: int) -> dict[int, tuple[str, int]]:
    """tid -> (thread name, user+system ticks) of every live JVM thread."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        out[int(tid)] = (name, int(f[11]) + int(f[12]))
    return out


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def main(root: str, workload: str, seed: str) -> None:
    root = os.path.abspath(root)
    sys.path.insert(0, os.path.join(root, "perfbench"))
    import check
    clk = os.sysconf("SC_CLK_TCK")
    run = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", seed,
         "--seconds", "25", "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    samples: list[tuple[float, dict]] = []
    jvm = None
    while run.poll() is None:
        threads = _threads(jvm) if jvm is not None else {}
        if not threads:
            # spark-submit's launcher JVM exits before the driver's starts
            jvm = next((p for p in check.descendants(run.pid) if _is_java(p)), None)
        samples.append((time.time(), threads))
        time.sleep(0.1)
    last = run.stdout.read().strip().splitlines()[-1]
    with open(os.path.join(root, ".perfbench", "results",
                           f"{workload}-s{seed}-trace0.json")) as fh:
        res = json.load(fh)
    t0 = min(q["t_start"] for q in res["queries"])
    t1 = max(q["t_end"] for q in res["queries"])
    base = max((s for s in samples if s[0] <= t0), key=lambda s: s[0])[1]
    inside = [s[1] for s in samples if t0 < s[0] <= t1 + 0.1]
    latest: dict[int, tuple[str, int]] = {}
    for snap in inside:
        latest.update(snap)
    by = {}
    for tid, (name, ticks) in latest.items():
        k = _klass(name)
        by[k] = by.get(k, 0) + (ticks - base.get(tid, (name, 0))[1]) / clk
    print(f"{workload} seed {seed} ({root}): mix {t1 - t0:.2f} s wall, "
          f"cpu_s {res['end_to_end']['cpu_s']:.2f} (process tree), "
          f"failed {json.loads(last)['failed']}, {os.cpu_count()} cpus")
    jvm_total = sum(by.values())
    for k in [c for c, _ in CLASSES] + ["other JVM"]:
        print(f"  {k:13} {by.get(k, 0.0):6.2f} s")
    print(f"  {'JVM total':13} {jvm_total:6.2f} s; outside the JVM (driver, "
          f"Python workers) {res['end_to_end']['cpu_s'] - jvm_total:6.2f} s")


if __name__ == "__main__":
    main(*sys.argv[1:])
