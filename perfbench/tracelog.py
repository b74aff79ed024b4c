"""Trace tooling: the Spark event log of a traced run, parsed offline.

``analyse(run_dir, sess)`` reads the event log the session's
JVM wrote (enabled from outside the program through submit args), joins
it with the session's own query timings and streaming-listener records,
and returns

- ``per_query``: every ``PER_LAYER`` metric for every query of the mix;
- ``metrics``: the workload totals, as printed on the result line;
- ``spans``: run -> query -> {build, exec} -> job -> stage, each with a
  start, an end, a parent and its self time (duration minus the part
  of it covered by its children), also written to ``trace/spans.json``.

Jobs are attributed to a query by their job group (the session sets it
to the query name), and micro-batch jobs, which run on the stream thread
outside that group, by the streaming query id the listener saw start
during the query.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

import workloads

# metric -> (unit, end-to-end metric it should move, where)
PER_LAYER = {
    "session.import_s": ("s", "setup_s", "all workloads"),
    "session.start_s": ("s", "setup_s", "all workloads"),
    "session.warmup_s": ("s", "setup_s", "all workloads"),
    "session.jvm_peak_rss_mb": ("MB", "none (diagnostic)", "all workloads"),
    "registry.build_s": ("s", "wall_s, query_p50_s", "all workloads; twins drain here"),
    "registry.build_jobs": ("count", "wall_s, query_p50_s", "all workloads; 0 on a memo hit"),
    "spark.exec_s": ("s", "wall_s, cpu_s", "all workloads"),
    "spark.jobs": ("count", "wall_s, cpu_s", "all workloads"),
    "spark.stages": ("count", "wall_s, cpu_s", "all workloads"),
    "spark.tasks": ("count", "wall_s, cpu_s", "all workloads"),
    "spark.tasks_failed": ("count", "wall_s, cpu_s", "all workloads"),
    "spark.task_run_s": ("s", "wall_s, cpu_s", "all workloads"),
    "spark.task_cpu_s": ("s", "cpu_s", "all workloads"),
    "spark.gc_s": ("s", "wall_s, cpu_s", "all workloads"),
    "spark.shuffle_write_mb": ("MB", "wall_s", "all workloads"),
    "spark.shuffle_read_mb": ("MB", "wall_s", "all workloads"),
    "spark.spill_mb": ("MB", "wall_s", "all workloads"),
    "tables.input_mb": ("MB", "wall_s", "all workloads"),
    "tables.input_rows": ("count", "wall_s", "all workloads"),
    "llm.python_sent_mb": ("MB", "cpu_s, wall_s", "llm_curation; near 0 on olap_stream"),
    "llm.python_returned_mb": ("MB", "cpu_s, wall_s", "llm_curation; near 0 on olap_stream"),
    "llm.python_run_s": ("s", "cpu_s, wall_s", "llm_curation; near 0 on olap_stream"),
    "llm.python_boot_s": ("s", "cpu_s, wall_s", "llm_curation; near 0 on olap_stream"),
    "core.map_s": ("s", "wall_s", "llm_curation"),
    "core.reduce_s": ("s", "wall_s", "llm_curation"),
    "core.shuffle_records": ("count", "wall_s", "llm_curation"),
    "sinks.write_s": ("s", "wall_s", "llm_curation"),
    "sinks.output_mb": ("MB", "wall_s", "llm_curation"),
    "sinks.output_files": ("count", "wall_s", "llm_curation"),
    "streaming.batches": ("count", "batch_p50_ms, wall_s", "olap_stream"),
    "streaming.batch_jobs": ("count", "batch_p50_ms, wall_s", "olap_stream"),
    "streaming.batch_p50_ms": ("ms", "batch_p50_ms", "olap_stream"),
    "streaming.trigger_ms": ("ms", "batch_p50_ms, wall_s, query_p50_s", "olap_stream"),
    "streaming.planning_ms": ("ms", "batch_p50_ms, wall_s", "olap_stream"),
    "streaming.add_batch_ms": ("ms", "batch_p50_ms, wall_s", "olap_stream"),
    "streaming.wal_commit_ms": ("ms", "batch_p50_ms, wall_s", "olap_stream"),
    "streaming.state_rows": ("count", "batch_p50_ms", "olap_stream"),
    "streaming.state_mem_mb": ("MB", "batch_p50_ms", "olap_stream"),
    "streaming.harness_s": ("s", "wall_s, query_p50_s", "olap_stream"),
}

# metrics that are per run, not summed over queries
_RUN_LEVEL = ("session.import_s", "session.start_s", "session.warmup_s",
              "session.jvm_peak_rss_mb", "streaming.batch_p50_ms")
# max over queries rather than sum
_MAX_LEVEL = ("streaming.state_mem_mb",)

_PY_METRICS = {
    "data sent to Python workers": "llm.python_sent_mb",
    "data returned from Python workers": "llm.python_returned_mb",
    "time to run Python workers": "llm.python_run_s",
    "time to start Python workers": "llm.python_boot_s",
}
_MB = 1e6


def _events(run_dir: str):
    """Events of the run's log (Spark 4 writes a v2 log directory holding
    ``events_<n>_<app>`` files)."""
    files = []
    for base, _, names in os.walk(os.path.join(run_dir, "eventlog")):
        files += [os.path.join(base, n) for n in names if n.startswith("events_")]
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def _metric_types(plan: dict, out: dict) -> None:
    """accumulator id -> metricType, from a SQL plan-info tree."""
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in plan.get("children", []):
        _metric_types(child, out)


def _covered(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of ``span`` covered by the union of ``children``."""
    lo, hi = span
    parts = sorted((max(a, lo), min(b, hi)) for a, b in children if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in parts:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def analyse(run_dir: str, sess: dict) -> dict:
    queries = sess["queries"]
    names = [q["name"] for q in queries]
    owner = {qid: name for qid, name in sess["stream_owner"].items() if name}
    acc_type: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for ev in _events(run_dir):
        kind = ev["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _metric_types(ev.get("sparkPlanInfo", {}), acc_type)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1e3, "end": None,
                "group": props.get("spark.jobGroup.id"),
                "stream": props.get("sql.streaming.queryId"),
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "start": info.get("Submission Time", 0) / 1e3,
                "end": info.get("Completion Time", 0) / 1e3,
                "tasks": info["Number of Tasks"], "shuffle_w": 0, "shuffle_r": 0}
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    def query_of_job(jid: int) -> str | None:
        j = jobs[jid]
        if j["group"] in names:
            return j["group"]
        if j["stream"] in owner:
            return owner[j["stream"]]
        for q in queries:
            if q["t_start"] <= j["start"] <= q["t_end"]:
                return q["name"]
        return None

    job_query = {jid: query_of_job(jid) for jid in jobs}
    per = {n: defaultdict(float) for n in names}
    for jid, j in jobs.items():
        qn = job_query[jid]
        if qn is None:
            continue
        q = queries[names.index(qn)]
        per[qn]["spark.jobs"] += 1
        if j["stream"] in owner:
            per[qn]["streaming.batch_jobs"] += 1
        if j["start"] <= q["t_built"]:
            per[qn]["registry.build_jobs"] += 1

    for (sid, _), st in stages.items():
        qn = job_query.get(stage_job.get(sid))
        if qn is not None:
            per[qn]["spark.stages"] += 1
    for ev in tasks:
        qn = job_query.get(stage_job.get(ev["Stage ID"]))
        if qn is None:
            continue
        p = per[qn]
        m = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        p["spark.tasks"] += 1
        p["spark.tasks_failed"] += 1 if info.get("Failed") else 0
        p["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        p["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        p["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        w = sw.get("Shuffle Bytes Written", 0)
        r = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        p["spark.shuffle_write_mb"] += w / _MB
        p["spark.shuffle_read_mb"] += r / _MB
        p["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
        inp = m.get("Input Metrics", {})
        p["tables.input_mb"] += inp.get("Bytes Read", 0) / _MB
        p["tables.input_rows"] += inp.get("Records Read", 0)
        key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
        if key in stages:
            stages[key]["shuffle_w"] += w
            stages[key]["shuffle_r"] += r
        if qn == workloads.WC_QUERY:
            p["core.shuffle_records"] += sw.get("Shuffle Records Written", 0)
        for acc in info.get("Accumulables", []):
            metric = _PY_METRICS.get(acc.get("Name"))
            if metric is None or not isinstance(acc.get("Update"), (int, str)):
                continue
            val = float(acc["Update"])
            kind = acc_type.get(acc.get("ID"), "")
            if metric.endswith("_mb"):
                p[metric] += val / _MB
            else:  # nanosecond or millisecond timing
                p[metric] += val / (1e9 if kind == "nsTiming" else 1e3)

    for (sid, _), st in stages.items():
        qn = job_query.get(stage_job.get(sid))
        if qn == workloads.WC_QUERY:
            if st["shuffle_r"] > 0:
                per[qn]["core.reduce_s"] += st["end"] - st["start"]
            elif st["shuffle_w"] > 0:
                per[qn]["core.map_s"] += st["end"] - st["start"]

    batches_by_q = defaultdict(list)
    for b in sess["stream_batches"]:
        if b["query_id"] in owner:
            batches_by_q[owner[b["query_id"]]].append(b)
    all_triggers = []
    for q in queries:
        p, n = per[q["name"]], q["name"]
        p["registry.build_s"] = q["build_s"]
        p["spark.exec_s"] = q["exec_s"]
        if n == workloads.WC_QUERY:
            p["sinks.write_s"] = q["exec_s"]
            p["sinks.output_mb"] = q.get("output_mb", 0.0)
            p["sinks.output_files"] = q.get("output_files", 0)
        bs = batches_by_q.get(n, [])
        if bs:
            trig = [b["duration_ms"].get("triggerExecution", 0) for b in bs]
            all_triggers += trig
            p["streaming.batches"] = len(bs)
            p["streaming.trigger_ms"] = sum(trig)
            p["streaming.planning_ms"] = sum(b["duration_ms"].get("queryPlanning", 0) for b in bs)
            p["streaming.add_batch_ms"] = sum(b["duration_ms"].get("addBatch", 0) for b in bs)
            p["streaming.wal_commit_ms"] = sum(b["duration_ms"].get("walCommit", 0) for b in bs)
            p["streaming.state_rows"] = bs[-1]["state_rows"]
            p["streaming.state_mem_mb"] = max(b["state_mem_bytes"] for b in bs) / _MB
            p["streaming.harness_s"] = q["build_s"] - sum(trig) / 1e3

    metrics = {}
    for k in PER_LAYER:
        if k in _RUN_LEVEL:
            continue
        vals = [per[n].get(k, 0.0) for n in names]
        metrics[k] = max(vals) if k in _MAX_LEVEL else sum(vals)
    for k in ("session.import_s", "session.start_s", "session.warmup_s"):
        metrics[k] = sess["setup"][k]
    metrics["session.jvm_peak_rss_mb"] = sess["jvm_peak_rss_mb"]
    metrics["streaming.batch_p50_ms"] = statistics.median(all_triggers) if all_triggers else 0.0
    metrics = {k: metrics[k] for k in PER_LAYER}

    spans = _spans(sess, jobs, job_query, stages, stage_job)
    trace_dir = os.path.join(run_dir, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    per_query = {n: {k: per[n].get(k, 0.0) for k in PER_LAYER if k not in _RUN_LEVEL}
                 for n in names}
    with open(os.path.join(trace_dir, "spans.json"), "w") as fh:
        json.dump(spans, fh, indent=1)
    with open(os.path.join(trace_dir, "per_query.json"), "w") as fh:
        json.dump(per_query, fh, indent=1)
    twins = [n for n in names if workloads.is_twin(n)]
    summary = {
        "unattributed_jobs": sum(1 for v in job_query.values() if v is None),
        "twin_batch_jobs": {n: int(per[n].get("streaming.batch_jobs", 0)) for n in twins},
        # driver-side time of each phase: not covered by any Spark job
        "build_self_s": {}, "exec_self_s": {},
    }
    for sp in spans:  # a span's id is its index
        if sp["kind"] in ("build", "exec"):
            summary[f"{sp['kind']}_self_s"][spans[sp["parent"]]["name"]] = sp["self_s"]
    return {"metrics": metrics, "per_query": per_query, "spans": spans,
            "summary": summary}


def _spans(sess, jobs, job_query, stages, stage_job) -> list[dict]:
    spans: list[dict] = []

    def add(name, kind, parent, start, end):
        spans.append({"id": len(spans), "name": name, "kind": kind,
                      "parent": parent, "start": start, "end": end})
        return len(spans) - 1

    run = add("run", "run", None, sess["t0"], sess["t_stopped"])
    qspan, phase = {}, {}
    for q in sess["queries"]:
        qid = add(q["name"], "query", run, q["t_start"], q["t_end"])
        qspan[q["name"]] = qid
        phase[q["name"]] = (add("build", "build", qid, q["t_start"], q["t_built"]),
                            add("exec", "exec", qid, q["t_built"], q["t_end"]))
    jspan = {}
    for jid, j in sorted(jobs.items()):
        qn = job_query[jid]
        if qn is None:
            parent = run
        else:
            b, e = phase[qn]
            parent = b if j["start"] <= spans[b]["end"] else e
        jspan[jid] = add(f"job {jid}", "job", parent, j["start"], j["end"] or j["start"])
    for (sid, att), st in sorted(stages.items()):
        parent = jspan.get(stage_job.get(sid), run)
        add(f"stage {sid}.{att}", "stage", parent, st["start"], st["end"])
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    for s in spans:
        s["self_s"] = (s["end"] - s["start"]) - _covered((s["start"], s["end"]), kids[s["id"]])
    return spans


def print_report(layers: dict, e2e: dict) -> None:
    """Per-query layer table, then each workload metric beside the
    end-to-end metric it is expected to move."""
    cols = ["registry.build_s", "registry.build_jobs", "spark.exec_s", "spark.jobs",
            "spark.tasks", "spark.task_cpu_s", "spark.shuffle_write_mb",
            "llm.python_sent_mb", "streaming.batch_jobs", "streaming.trigger_ms"]
    short = ["build_s", "bjobs", "exec_s", "jobs", "tasks", "tcpu_s", "shufw_mb",
             "py_mb", "mbjobs", "trig_ms"]
    s = layers["summary"]
    print("per-query layers (b_self/e_self: build/exec self time, i.e. not "
          "covered by a Spark job)")
    print(f"  {'query':28s} " + " ".join(f"{c:>8s}" for c in short)
          + f" {'b_self':>8s} {'e_self':>8s}")
    for n, row in layers["per_query"].items():
        vals = " ".join(f"{row.get(c, 0.0):8.3f}" for c in cols)
        print(f"  {n:28s} {vals} {s['build_self_s'].get(n, 0.0):8.3f} "
              f"{s['exec_self_s'].get(n, 0.0):8.3f}")
    print("per-layer totals -> end-to-end metric expected to move (where)")
    for k, v in layers["metrics"].items():
        unit, moves, where = PER_LAYER[k]
        print(f"  {k:26s} {v:14.4f} {unit:5s} -> {moves} ({where})")
    print(f"jobs outside the mix (warm-up) {s['unattributed_jobs']}; micro-batch jobs per twin "
          + json.dumps(s["twin_batch_jobs"]))
    if "overhead" in layers:
        delta, base = layers["overhead"]
        print(f"tracing overhead: traced wall_s {e2e['wall_s']:.4f} s minus "
              f"untraced wall_s of {base} = {delta:+.4f} s")
    else:
        print("tracing overhead: no untraced run of this workload and seed in "
              "this checkout yet")
