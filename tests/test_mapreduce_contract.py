"""M1 — generic MapReduce contract: property tests vs a dict-based
simulator, parity with the DataFrame word count, text sink framing."""

from __future__ import annotations

from collections import defaultdict

import pytest
from hypothesis import given, settings, strategies as st

from mapreduce_rust_spark.core.apps import wc_map, wc_reduce
from mapreduce_rust_spark.core.runner import _ensure_self_shipping, run_job
from tests.conftest import SF_SMOKE


def simulate(splits, map_fn, reduce_fn):
    """10-line driver-side MapReduce simulator (SURVEY.md §5)."""
    groups = defaultdict(list)
    for s in splits:
        for k, v in map_fn(s):
            groups[k].append(v)
    return {k: reduce_fn(k, vs) for k, vs in groups.items()}


def test_ensure_self_shipping_registers_the_package_by_value():
    from pyspark import cloudpickle
    _ensure_self_shipping()
    assert "mapreduce_rust_spark" in cloudpickle.list_registry_pickle_by_value()


def test_wc_contract_matches_simulator(spark):
    splits = ["the quick brown fox", "the lazy dog", "quick, quick!"]
    got = {r["key"]: r["value"]
           for r in run_job(spark, splits, wc_map, wc_reduce, 4).collect()}
    assert got == simulate(splits, wc_map, wc_reduce)
    assert got["quick"] == "3" and got["the"] == "2"


def test_wc_contract_matches_dataframe_wc(spark):
    """run_job path ≡ Catalyst path on real data (sf0.001)."""
    from mapreduce_rust_spark.operators.mapreduce_compat import mr_word_count
    from mapreduce_rust_spark.operators.wordcount import word_count
    mr = {r["key"]: int(r["value"]) for r in mr_word_count(spark, SF_SMOKE).collect()}
    df = {r["token"]: r["cnt"] for r in word_count(spark, SF_SMOKE).collect()}
    assert mr == df


def test_last_group_not_dropped(spark):
    """Regression pin for the reference bug (worker.rs:169-184): the
    lexicographically last key per partition must be present."""
    splits = ["zzz zzz aaa"]
    got = {r["key"]: r["value"]
           for r in run_job(spark, splits, wc_map, wc_reduce, 1).collect()}
    assert got == {"zzz": "2", "aaa": "1"}


kv_lists = st.lists(
    st.tuples(st.text(alphabet="abc", min_size=1, max_size=3),
              st.text(alphabet="xy", min_size=1, max_size=2)),
    max_size=30,
)


@settings(max_examples=10, deadline=None)
@given(pairs=kv_lists)
def test_property_identity_map_concat_reduce(spark, pairs):
    """Arbitrary KV sets through the contract ≡ dict simulator."""
    splits = ["\n".join(f"{k}\t{v}" for k, v in pairs)] if pairs else []

    def map_fn(split):
        for line in split.splitlines():
            k, v = line.split("\t")
            yield k, v

    def reduce_fn(key, values):
        return ",".join(sorted(values))

    got = {r["key"]: r["value"]
           for r in run_job(spark, splits, map_fn, reduce_fn, 3).collect()}
    assert got == simulate(splits, map_fn, reduce_fn)


def test_combiner_path_matches_uncombined(spark):
    """Map-side combine must not change results, only shuffle volume."""
    from mapreduce_rust_spark.core.apps import wc_combine, wc_reduce_sum
    splits = ["a b a", "b b c", "a"]
    plain = {r["key"]: r["value"]
             for r in run_job(spark, splits, wc_map, wc_reduce, 3).collect()}
    combined = {r["key"]: r["value"]
                for r in run_job(spark, splits, wc_map, wc_reduce_sum, 3,
                                 combine_fn=wc_combine).collect()}
    assert combined == plain == {"a": "3", "b": "3", "c": "1"}


def test_char_ngrams_expression(spark):
    from mapreduce_rust_spark.functions.text import char_ngrams
    from pyspark.sql import functions as F
    df = spark.createDataFrame([("Ab, cd!",)], ["t"])
    [row] = df.select(char_ngrams(F.col("t"), 3).alias("g")).collect()
    # normalized('Ab, cd!') == 'ab cd' → 3-grams
    assert row.g == ["ab ", "b c", " cd"]


def test_text_sink_reference_framing(spark, tmp_path):
    from mapreduce_rust_spark.sinks import write_kv_text
    df = spark.createDataFrame(
        [("b", "2"), ("a", "1"), ("c", "3")], ["key", "value"])
    out = str(tmp_path / "mr-out")
    write_kv_text(df, out, num_partitions=2, global_sort=True)
    lines = [l for f in sorted((tmp_path / "mr-out").glob("part-*"))
             for l in f.read_text().splitlines()]
    assert lines == ["a 1", "b 2", "c 3"]
