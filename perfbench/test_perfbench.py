"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 -m pytest perfbench -q

The generator test takes seconds; the others run the benchmark command
(one cold session each, about a minute apiece on 4 cpus).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

WORKDIR = os.path.join(ROOT, ".perfbench", "selftest")
E2E = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("query_p50_s", "s"),
       ("driver_peak_mb", "MB"), ("error_rate", "ratio"), ("batch_p50_ms", "ms")]


def _digests(path: str) -> dict:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _record(workload: str, seed: int, trace: int) -> dict:
    path = os.path.join(ROOT, ".perfbench", "results",
                        f"{workload}-s{seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", sorted(workloads.MIXES))
def test_generator_is_byte_identical_per_seed(workload):
    dirs = [os.path.join(WORKDIR, f"{workload}-{i}") for i in range(3)]
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    sf = workloads.SF[workload]
    gen.generate(dirs[0], workload, 11, sf)
    gen.generate(dirs[1], workload, 11, sf)
    gen.generate(dirs[2], workload, 12, sf)
    a, b, c = (_digests(d) for d in dirs)
    assert a == b
    assert a.keys() == c.keys()
    data = [k for k in a if k != "manifest.json"]
    assert all(a[k] != c[k] for k in data if not k.startswith(("region", "nation")))


@pytest.fixture(scope="module")
def olap_runs():
    untraced = _run("olap_stream", 5, 0)
    traced = _run("olap_stream", 5, 1)
    return untraced, traced


def test_prints_every_end_to_end_metric_with_its_unit(olap_runs):
    untraced, _ = olap_runs
    assert untraced.returncode == 0, untraced.stderr[-2000:]
    for name, unit in E2E:
        assert re.search(rf"^{name}\s+-?[0-9.]+ {re.escape(unit)}$",
                         untraced.stdout, re.M), name
    last = json.loads(untraced.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0


def test_every_twin_has_attributed_micro_batch_jobs(olap_runs):
    _, traced = olap_runs
    assert traced.returncode == 0, traced.stderr[-2000:]
    per_query = _record("olap_stream", 5, 1)["layers"]["per_query"]
    twins = [n for n in workloads.MIXES["olap_stream"] if workloads.is_twin(n)]
    assert twins
    for n in twins:
        assert per_query[n]["streaming.batch_jobs"] >= 1, n
    assert "tracing overhead: traced wall_s" in traced.stdout


def test_timed_action_executes_udf_columns():
    """toPandas() runs the Python UDF columns (knn_lsh's mapInPandas
    kernels); bpe_encode_docs has none, its merge folds are JVM code."""
    out = _run("llm_curation", 5, 1)
    assert out.returncode == 0, out.stderr[-2000:]
    per_query = _record("llm_curation", 5, 1)["layers"]["per_query"]
    assert per_query["knn_lsh"]["llm.python_sent_mb"] > 0
    assert per_query["knn_lsh"]["llm.python_returned_mb"] > 0


def test_fails_without_the_program():
    bare = os.path.join(WORKDIR, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = _run("olap_stream", 1, 0, cwd=bare)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
