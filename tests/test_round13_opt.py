"""Round-13 optimization pins: the row-slab Gram rewrite and the NaN
ordering guard must keep the block kernels bit-identical to their
unchunked round-12 form (and to the retired Spark-window semantics on
degenerate zero-norm rows); the BPE merges memo must be a pure cache;
the bench tail line must honor the driver's ~2000-char stdout
truncation contract."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd


def _planted_block(n: int, d: int = 6, zero_row: int | None = None,
                   seed: int = 3) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    E = rng.randn(n, d)
    if zero_row is not None:
        E[zero_row] = 0.0
    return pd.DataFrame({
        "vec_id": np.arange(100, 100 + n, dtype=np.int64),
        "label": np.full(n, 7, dtype=np.int32),
        "lang": [("en" if i % 3 else "de") for i in range(n)],
        "e": [E[i].tolist() for i in range(n)],
    })


def test_allknn_kernel_chunk_invariant(monkeypatch):
    """Row-slab Gram (any chunk width) == one full-matrix pass."""
    from mapreduce_rust_spark.llm import similarity as S
    pdf = _planted_block(23)
    monkeypatch.setattr(S, "_GRAM_CHUNK", 10 ** 9)
    full = S._allknn_block_kernel(pdf)
    for chunk in (1, 3, 7, 23):
        monkeypatch.setattr(S, "_GRAM_CHUNK", chunk)
        got = S._allknn_block_kernel(pdf)
        assert got.equals(full), chunk


def test_consensus_kernel_chunk_invariant(monkeypatch):
    from mapreduce_rust_spark.llm import similarity as S
    pdf = _planted_block(19)
    monkeypatch.setattr(S, "_GRAM_CHUNK", 10 ** 9)
    full = S._consensus_block_kernel(pdf)
    for chunk in (1, 4, 19):
        monkeypatch.setattr(S, "_GRAM_CHUNK", chunk)
        got = S._consensus_block_kernel(pdf)
        assert got.equals(full), chunk


def test_zero_norm_rows_rank_first_like_spark_window():
    """ADVICE r12: a zero-norm embedding yields NaN sims; the retired
    Spark window ranked them FIRST (`sim DESC`, NaN greatest, then
    nn_id ascending). The kernel must reproduce that, not lexsort's
    default NaN-last."""
    from mapreduce_rust_spark.llm import similarity as S
    zero = 4
    pdf = _planted_block(9, zero_row=zero)
    ids = pdf["vec_id"].to_numpy()
    got = S._allknn_block_kernel(pdf)
    by_id = dict(zip(got["vec_id"], got["nn_id"]))
    for i, vid in enumerate(ids):
        if i == zero:
            # the zero row sees NaN vs everyone → lowest other id
            assert by_id[vid] == ids[0]
        else:
            # everyone else's NaN-sim neighbor IS the zero row
            assert by_id[vid] == ids[zero], (vid, by_id[vid])


def test_bpe_merges_memo_is_pure_cache(spark):
    from mapreduce_rust_spark import memo
    from mapreduce_rust_spark.llm import bpe
    words = spark.createDataFrame(
        [("abab", 4), ("abc", 2), ("bc", 5)], "w string, freq long")
    memo.clear_results()
    misses = memo.COUNTS["bpe_merges", "miss"]
    first = bpe.bpe_train(words, 3)
    assert memo.COUNTS["bpe_merges", "miss"] == misses + 1
    again = bpe.bpe_train(words, 3)
    assert again == first
    memo.clear_results()
    fresh = bpe.bpe_train(words, 3)
    assert fresh == first   # the memo never changes the result
    # a different merge budget is a different key, not a stale hit
    other = bpe.bpe_train(words, 1)
    assert other == first[:1]


def test_bench_tail_line_fits_driver_truncation():
    """The driver keeps the LAST ~2000 chars of stdout and parses the
    final line; the compact line must always fit whole and carry the
    slowest rows (VERDICT r12 item 2)."""
    import bench
    timings = {f"some_quite_long_query_name_{i:03d}": round(0.01 * i, 3)
               for i in range(400)}
    payload = {"metric": "headline_queries_total",
               "value": round(sum(timings.values()), 3),
               "unit": "sec", "queries": timings, "sf": 0.1,
               "stream_sum": 12.3}
    line = bench.compact_tail_line(
        payload, timings, "BENCH_LOCAL.json",
        {"n": 345, "prev_s": 482.194, "now_s": 318.581})
    s = json.dumps(line)
    assert len(s) <= bench._TAIL_BUDGET
    parsed = json.loads(s)
    assert parsed["n_queries"] == 400 and parsed["metric"]
    assert len(parsed["queries"]) >= 30
    # slowest-first: the single slowest row is always present
    slowest = max(timings, key=timings.get)
    assert slowest in parsed["queries"]
    # an over-long summary alone (a deep full_record path) sheds the
    # optional keys, queries_note first, and still fits the budget
    deep = "/" + "/".join(["very_deep_output_directory"] * 60) + "/B.json"
    line = bench.compact_tail_line(
        payload, timings, deep,
        {"n": 345, "prev_s": 482.194, "now_s": 318.581})
    s = json.dumps(line)
    assert len(s) <= bench._TAIL_BUDGET
    parsed = json.loads(s)
    assert parsed["full_record"] == deep and "queries_note" not in parsed
    assert parsed["n_queries"] == 400 and parsed["metric"]
