"""Benchmark command: one workload, one seed, one cold session.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It
1. generates the workload's inputs from the seed under ``.perfbench/data``
   (cached per seed and size);
2. starts ``perfbench/session.py`` as a fresh Python process, which starts
   a cold JVM on ``local[$SPARK_GRAFT_CPUS]`` and runs the workload's mix;
3. checks every result against its DuckDB oracle (cached per seed and
   size), outside the timed region;
4. with ``--trace 1``, parses the Spark event log written during the run
   into spans and per-layer metrics (``tracelog.py``);
5. prints a human-readable table, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

``--seconds`` is the planned length of the measured mix. The mix is fixed
work, so runs compare across seeds and commits; a mix that runs past
three times ``--seconds`` is reported on stderr.

Everything the run writes stays under ``.perfbench`` in the current
directory: Spark's local dirs, the JVM and Python temp dirs, the stream
checkpoints and the event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import workloads  # noqa: E402

WORK = ".perfbench"
SESSION_TIMEOUT_S = 150
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "query_p50_s": "s",
             "driver_peak_mb": "MB"}


def _inputs(workload: str, seed: int) -> str:
    sf = workloads.SF[workload]
    data = os.path.join(WORK, "data", f"{workload}-s{seed}-sf{sf}")
    if not os.path.exists(os.path.join(data, "manifest.json")):
        import gen
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, workload, seed, sf)
    return os.path.abspath(data)


def _session_env(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    env["SPARK_LOCAL_DIRS"] = tmp
    env["TMPDIR"] = tmp
    # keep every JVM's temp files and perf-data out of /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.mapreduce_rust_spark.stream.scratchDir": tmp,
    }
    if trace:
        log = os.path.join(run_dir, "eventlog")
        os.makedirs(log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log,
                     "spark.eventLog.compress": "false"})
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    env["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return env


def _wait_group_gone(pgid: int, timeout_s: float = 10.0) -> None:
    """Wait until no process of group ``pgid`` is left (the JVM and the
    Python workers are the session's descendants, not our children)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _run_session(workload: str, data: str, run_dir: str, trace: bool) -> dict:
    env = _session_env(run_dir, trace)
    spec = os.path.join(run_dir, "spec.json")
    log = open(os.path.join(run_dir, "session.log"), "w")
    with open(spec, "w") as fh:
        json.dump({"workload": workload, "data_dir": data, "out_dir": run_dir,
                   "trace": trace, "t0": time.time()}, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "session.py"), spec],
        env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        code = proc.wait(timeout=SESSION_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        # the session's JVM and Python workers share its process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        log.close()
        _wait_group_gone(proc.pid)
    result = os.path.join(run_dir, "session.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "session.log")) as fh:
            tail = fh.read()[-3000:]
        sys.exit(f"session failed (exit {code}); log tail:\n{tail}")
    with open(result) as fh:
        return json.load(fh)


# --- correctness -------------------------------------------------------


def _duck(data: str):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'duckdb_tmp')}'")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    return con


_WC_ORACLE = """
SELECT token AS key, CAST(COUNT(*) AS VARCHAR) AS value
FROM (SELECT UNNEST(regexp_split_to_array(
        regexp_replace(content, '[^\\w\\s]', '', 'g'), '\\s+')) AS token
      FROM read_text('{corpus}/*.txt'))
WHERE token <> ''
GROUP BY token
"""


def _oracle_answers(data: str, run_dir: str) -> dict:
    """Oracle answers for the mix, cached next to the generated inputs.
    The session wrote the mix's registered oracle SQL to ``oracles.json``."""
    with open(os.path.join(run_dir, "oracles.json")) as fh:
        oracles = json.load(fh)
    cache = os.path.join(data, "oracle.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if oracles.keys() <= cached.keys():
            return cached
    con = _duck(data)
    out = {name: check.canon(con.execute(sql).fetchdf())
           for name, sql in oracles.items()}
    if os.path.isdir(os.path.join(data, "corpus")):
        sql = _WC_ORACLE.format(corpus=os.path.join(data, "corpus"))
        out["wc"] = check.canon(con.execute(sql).fetchdf())
    con.close()
    with open(cache, "w") as fh:
        json.dump(out, fh)
    return out


def _read_sink(path: str) -> tuple[dict, str | None]:
    """Read a globally sorted text sink back as a canonical ``key,value``
    result and check its layout: each key once, keys ascending within
    each file and across files in name order."""
    files = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    rows, last, problem = [], None, None
    for f in files:
        with open(os.path.join(path, f), encoding="utf-8") as fh:
            keys = []
            for line in fh:
                k, _, v = line.rstrip("\n").partition(" ")
                rows.append([k, v])
                keys.append(k)
        if keys != sorted(keys):
            problem = f"{f} is not key-sorted"
        if keys:
            if last is not None and keys[0] < last:
                problem = f"{f} starts below the previous file's last key"
            last = keys[-1]
    if len({r[0] for r in rows}) != len(rows):
        problem = "a key appears in more than one line"
    rows.sort()
    return {"columns": ["key", "value"], "rows": rows}, problem


def _check(run_dir: str, sess: dict, answers: dict) -> None:
    """Set ``mismatch`` on every query whose result differs from its oracle."""
    for q in sess["queries"]:
        if "error" in q:
            continue
        name = q["name"]
        if name == workloads.WC_QUERY:
            got, problem = _read_sink(os.path.join(run_dir, "sink", name))
            want = answers["wc"]
        else:
            with open(os.path.join(run_dir, "results", f"{name}.json")) as fh:
                got = json.load(fh)
            want, problem = answers.get(name), None
        if want is None:
            problem = "no oracle registered"
        problem = problem or check.compare(got, want)
        if problem:
            q["mismatch"] = problem


# --- metrics -----------------------------------------------------------


def end_to_end(sess: dict) -> dict:
    qs = sess["queries"]
    return {
        "setup_s": sess["setup"]["setup_s"],
        "wall_s": sum(q["latency_s"] for q in qs),
        "cpu_s": sum(q["cpu_s"] for q in qs),
        "query_p50_s": statistics.median(q["latency_s"] for q in qs),
        "driver_peak_mb": max(q["driver_rss_mb"] for q in qs),
    }


def _untraced_wall(workload: str, seed: int) -> tuple[float, str] | None:
    """The untraced ``wall_s`` to charge tracing overhead against: this
    seed's untraced run in this checkout, else the median over the
    workload's untraced runs here."""
    results = os.path.join(WORK, "results")
    walls = {}
    for name in os.listdir(results) if os.path.isdir(results) else []:
        if name.startswith(f"{workload}-s") and name.endswith("-trace0.json"):
            with open(os.path.join(results, name)) as fh:
                rec = json.load(fh)
            walls[rec["seed"]] = rec["end_to_end"]["wall_s"]
    if seed in walls:
        return walls[seed], f"the untraced run of seed {seed}"
    if walls:
        return (statistics.median(walls.values()),
                f"the median of {len(walls)} untraced runs of other seeds")
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("mapreduce_rust_spark", "__init__.py")):
        print("run from the root of a checkout: mapreduce_rust_spark/ not found",
              file=sys.stderr)
        return 2

    data = _inputs(args.workload, args.seed)
    run_dir = os.path.abspath(os.path.join(
        WORK, "runs", f"{args.workload}-s{args.seed}-trace{args.trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    host0 = check.host_snapshot()
    t0 = time.time()
    sess = _run_session(args.workload, data, run_dir, bool(args.trace))
    noise = check.host_noise(host0, check.host_snapshot(), time.time() - t0)
    noise["session.jvm_peak_rss_mb"] = round(sess["jvm_peak_rss_mb"], 1)

    _check(run_dir, sess, _oracle_answers(data, run_dir))
    qs = sess["queries"]
    failed = sum(1 for q in qs if "error" in q or "mismatch" in q)
    e2e = end_to_end(sess)
    if e2e["wall_s"] > 3 * args.seconds:
        print(f"note: the mix took {e2e['wall_s']:.1f} s, over 3x --seconds",
              file=sys.stderr)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"queries {len(qs)} cpus {os.cpu_count()} shared-derivation share "
          f"{workloads.shared_share(args.workload)}")
    for q in qs:
        status = "ERROR " + q["error"] if "error" in q else (
            "MISMATCH " + q["mismatch"] if "mismatch" in q else "ok")
        print(f"  {q['name']:28s} build {q['build_s']:7.3f} s  exec "
              f"{q['exec_s']:7.3f} s  cpu {q['cpu_s']:7.2f} s  {status}")
    for k, v in e2e.items():
        print(f"{k:16s} {v:12.4f} {E2E_UNITS[k]}")
    print(f"{'error_rate':16s} {failed / len(qs):12.4f} ratio")
    triggers = [b["duration_ms"].get("triggerExecution", 0)
                for b in sess["stream_batches"]]
    if triggers:
        print(f"{'batch_p50_ms':16s} {statistics.median(triggers):12.4f} ms")
    print("host " + json.dumps(noise, sort_keys=True))

    with open(os.path.join(data, "manifest.json")) as fh:
        manifest = json.load(fh)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": e2e, "host": noise, "queries": qs,
              "setup": sess["setup"], "inputs": manifest,
              "shared_share": workloads.shared_share(args.workload)}
    if args.trace:
        import tracelog
        layers = tracelog.analyse(run_dir, sess)
        base = _untraced_wall(args.workload, args.seed)
        if base is not None:
            layers["overhead"] = (e2e["wall_s"] - base[0], base[1])
        tracelog.print_report(layers, e2e)
        metrics = {k: {"value": v, "unit": tracelog.PER_LAYER[k][0]}
                   for k, v in layers["metrics"].items()}
        record["layers"] = {k: layers[k] for k in ("metrics", "per_query", "summary")
                            if k in layers}
        record["layers"]["overhead"] = layers.get("overhead")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": len(qs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
