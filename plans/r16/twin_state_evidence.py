"""Per-twin micro-batch stage tasks, state partitions and streaming
times of a traced olap_stream run (seed 5), read from the run's Spark
event log and result json.

    python3 perfbench/run.py --workload olap_stream --seed 5 --seconds 25 --trace 1
    python3 plans/r16/twin_state_evidence.py <checkout root>
"""
import glob, json, os, sys
root = sys.argv[1]
run = os.path.join(root, ".perfbench/runs/olap_stream-s5-trace1")
res = json.load(open(os.path.join(root, ".perfbench/results/olap_stream-s5-trace1.json")))
f = glob.glob(run + "/eventlog/*")[0]
files = sorted(glob.glob(f + "/*")) if os.path.isdir(f) else [f]
qname, stages, progress = {}, {}, {}
for fn in files:
    for line in open(fn):
        e = json.loads(line)
        ev = e["Event"]
        if ev.endswith("QueryStartedEvent"):
            qname[e["id"]] = e["name"]
        elif ev.endswith("QueryProgressEvent"):
            p = e["progress"]
            progress[p["id"]] = [(o["operatorName"], o["numShufflePartitions"]) for o in p.get("stateOperators", [])]
        elif ev == "SparkListenerJobStart":
            qid = (e.get("Properties") or {}).get("sql.streaming.queryId")
            if qid:
                for s in e["Stage Infos"]:
                    stages.setdefault(qid.split("/")[0] if "/" in qid else qid, []).append(
                        (s["Stage Name"].split(" at ")[0], s["Number of Tasks"]))
e2e = res["end_to_end"]; m = res["layers"]["metrics"]; pq = res["layers"]["per_query"]
print(f"end_to_end: cpu_s {e2e['cpu_s']:.2f}  wall_s {e2e['wall_s']:.2f}  query_p50_s {e2e['query_p50_s']:.2f}")
print(f"mix: spark.tasks {m['spark.tasks']:.0f}  streaming.add_batch_ms {m['streaming.add_batch_ms']:.0f}  "
      f"streaming.trigger_ms {m['streaming.trigger_ms']:.0f}  spark.task_run_s {m['spark.task_run_s']:.2f}")
for qid, name in qname.items():
    print(f"sink {name}: state operators (name, numShufflePartitions) {progress.get(qid)}")
    print(f"  micro-batch stages (name, tasks) {stages.get(qid)}")
for q in ("stream_kruskal_wallis", "stream_tumbling_counts"):
    r = pq[q]
    print(f"{q}: spark.tasks {r['spark.tasks']:.0f}  add_batch_ms {r['streaming.add_batch_ms']}  "
          f"trigger_ms {r['streaming.trigger_ms']}  task_run_s {r['spark.task_run_s']:.2f}  "
          f"cpu_s {[x['cpu_s'] for x in res['queries'] if x['name'] == q][0]:.2f}")
