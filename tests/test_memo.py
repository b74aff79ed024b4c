"""The session memo helper (``mapreduce_rust_spark/memo.py``): hit and
miss, per-application eviction, ``clear_results``, the counters, the
bench's per-rep charge, and a guard that no other module keys memos by
application on its own."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import DataFrame

from mapreduce_rust_spark import memo

from tests.conftest import SF_SMOKE

PACKAGE = Path(memo.__file__).resolve().parent


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


class _Frame(DataFrame):
    """A DataFrame stand-in that only records ``unpersist`` calls."""

    def __new__(cls):
        return object.__new__(cls)

    def __init__(self):
        self.unpersisted = 0

    def unpersist(self, blocking: bool = False):
        self.unpersisted += 1
        return self


@pytest.fixture
def fresh_memo(monkeypatch):
    """An empty memo store and counter, so stub applications never
    evict the live test session's entries."""
    monkeypatch.setattr(memo, "_ENTRIES", {})
    monkeypatch.setattr(memo, "COUNTS", Counter())


def test_session_memo_hit_miss_eviction_and_clear(fresh_memo):
    app1, app2 = _session("app-1"), _session("app-2")
    builds = []

    def build(value):
        def run():
            builds.append(value)
            return value
        return run

    plan, res = object(), _Frame()
    assert memo.session_memo(app1, "plan", ("table", "d", "t"),
                             build(plan)) is plan
    assert memo.session_memo(app1, "result", ("edges", 7),
                             build(res)) is res
    # a hit returns the same object and does not call build
    assert memo.session_memo(app1, "result", ("edges", 7),
                             build(_Frame())) is res
    assert builds == [plan, res]
    # a different key misses
    other = _Frame()
    assert memo.session_memo(app1, "result", ("edges", 8),
                             build(other)) is other
    # another application evicts app-1's entries without unpersist
    fresh = object()
    assert memo.session_memo(app2, "plan", ("table", "d", "t"),
                             build(fresh)) is fresh
    assert res.unpersisted == 0 and other.unpersisted == 0
    assert all(k[0] == "app-2" for k in memo._ENTRIES)
    # clear_results keeps plan entries and unpersists result frames
    res2 = _Frame()
    memo.session_memo(app2, "result", ("edges", 7), build(res2))
    memo.clear_results()
    assert res2.unpersisted == 1
    assert memo.session_memo(app2, "plan", ("table", "d", "t"),
                             build(object())) is fresh
    again = _Frame()
    assert memo.session_memo(app2, "result", ("edges", 7),
                             build(again)) is again
    # the counters add up
    assert memo.COUNTS == Counter({
        ("table", "miss"): 2, ("table", "hit"): 1,
        ("edges", "miss"): 4, ("edges", "hit"): 1})
    assert sum(memo.COUNTS.values()) == 8


def test_session_memo_rejects_unknown_kind(fresh_memo):
    with pytest.raises(ValueError):
        memo.session_memo(_session("a"), "rows", ("x",), object)


def test_bench_charges_result_memos_on_every_timed_rep(fresh_memo):
    import bench

    class Rows:
        def count(self):
            return 3

    def query(spark, sf_dir):
        return memo.session_memo(spark, "result", ("stub", sf_dir), Rows)

    spark = _session("app-bench")
    for _ in range(2):
        assert bench.timed_run(query, spark, "sf") >= 0
    assert memo.COUNTS["stub", "miss"] == 2
    assert memo.COUNTS["stub", "hit"] == 0


def test_only_memo_module_keys_by_application():
    """One way to memoize per session: no other package module reads
    ``applicationId`` or imports ``WeakKeyDictionary``."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "memo.py" and path.parent == PACKAGE:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Attribute)
                    and node.attr in ("applicationId",
                                      "WeakKeyDictionary")):
                offenders.append((path.name, node.lineno, node.attr))
            elif isinstance(node, ast.ImportFrom) and any(
                    a.name == "WeakKeyDictionary" for a in node.names):
                offenders.append((path.name, node.lineno,
                                  "WeakKeyDictionary"))
    assert not offenders, offenders


def _ts_conversion(node) -> bool:
    """``timestamp_micros(ts DIV 1000)`` in a string, or a
    ``.cast("timestamp")`` of a ``col("ts")``-style column."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return "timestamp_micros(ts DIV 1000)" in node.value
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "cast"
            and [getattr(a, "value", None) for a in node.args]
            == ["timestamp"]
            and isinstance(node.func.value, ast.Call)
            and [getattr(a, "value", None) for a in node.func.value.args]
            == ["ts"])


def test_one_module_ships_the_package_and_one_adapts_ts():
    """Only the package ``__init__`` registers by-value pickling, and
    only ``tables.py`` converts the fixture ``ts`` encoding."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (rel != "__init__.py" and isinstance(node, ast.Attribute)
                    and node.attr == "register_pickle_by_value"):
                offenders.append((rel, node.lineno, node.attr))
            elif rel != "tables.py" and _ts_conversion(node):
                offenders.append((rel, node.lineno, "ts conversion"))
    assert not offenders, offenders


def test_one_triangle_listing_kernel():
    """``graph._triangle_corners`` is the only triangle-listing kernel:
    no other package function calls ``_orient``, and nothing else in
    ``graph.py`` uses ``array_intersect``."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        kernel = {id(n) for f in tree.body
                  if isinstance(f, ast.FunctionDef)
                  and f.name == "_triangle_corners"
                  and rel == "operators/graph.py"
                  for n in ast.walk(f)}
        for node in ast.walk(tree):
            if id(node) in kernel:
                continue
            if (isinstance(node, ast.Call)
                    and "_orient" in (getattr(node.func, "id", None),
                                      getattr(node.func, "attr", None))):
                offenders.append((rel, node.lineno, "_orient"))
            elif (rel == "operators/graph.py"
                  and isinstance(node, ast.Attribute)
                  and node.attr == "array_intersect"):
                offenders.append((rel, node.lineno, "array_intersect"))
    assert not offenders, offenders


def test_bpe_merges_learned_once_per_session(spark):
    """bpe_train_merges then bpe_encode_docs in one session learn the
    merge list once: one ``bpe_merges`` miss, then a hit."""
    from mapreduce_rust_spark.llm.bpe import bpe_encode_docs, bpe_train_merges
    memo.clear_results()
    before = Counter(memo.COUNTS)
    assert bpe_train_merges(spark, SF_SMOKE).count() > 0
    assert bpe_encode_docs(spark, SF_SMOKE).count() > 0
    assert memo.COUNTS["bpe_merges", "miss"] \
        - before["bpe_merges", "miss"] == 1
    assert memo.COUNTS["bpe_merges", "hit"] \
        - before["bpe_merges", "hit"] >= 1
