"""Behavioral tests for the round-8 crop — properties the oracle
mirror cannot see: the LSH sign-margin that makes knn_eval_recall's
cross-engine bucket parity safe, and invariants of later round-8
operators.
"""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_CORRECT


def test_lsh_projection_sign_margin(spark):
    """knn_eval_recall's oracle recomputes the LSH buckets in DuckDB.
    Sign bits are bit-identical by fold-order identity, but this pins
    the defense in depth: on the fixture, every |<e, w_p>| projection
    magnitude dwarfs any conceivable accumulated-rounding divergence
    (64 dims x eps x |e| ~ 1e-13), so even a NON-identical evaluation
    order could not flip a bucket. A failure here after a fixture
    regen means near-orthogonal vectors, not a logic bug."""
    from pyspark.sql import functions as F

    from mapreduce_rust_spark.llm.similarity import (
        MAX_DIM, N_PLANES, _emb, _plane_weights)

    emb = _emb(spark, SF_CORRECT)
    margins = []
    for p in range(N_PLANES):
        w = F.array(*[F.lit(x) for x in _plane_weights(p, MAX_DIM)])
        proj = F.aggregate(
            F.zip_with(F.col("e"),
                       F.slice(w, F.lit(1), F.size(F.col("e"))),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)
        row = emb.agg(F.min(F.abs(proj)).alias("m")).collect()[0]
        margins.append(row["m"])
    assert min(margins) > 1e-6, margins


def test_knn_eval_recall_consistent_with_set_recall(spark):
    """The registered eval op must agree with the free-standing recall
    computation the old rows-only test did: per-query hits equal the
    intersection of the two top-k sets."""
    from mapreduce_rust_spark.llm.similarity import (
        K, knn_bruteforce, knn_eval_recall, knn_lsh)

    bf = {(r.query_id, r.neighbor_id)
          for r in knn_bruteforce(spark, SF_CORRECT).collect()}
    lsh = {(r.query_id, r.neighbor_id)
           for r in knn_lsh(spark, SF_CORRECT).collect()}
    out = {r.query_id: r for r in knn_eval_recall(spark, SF_CORRECT).collect()}
    for q in {q for q, _ in bf}:
        expect = len({(a, b) for a, b in bf & lsh if a == q})
        assert out[q].hits == expect
        assert out[q].k_eval == K
        assert out[q].recall_bp == expect * 10000 // K


def test_video_container_roundtrip_kernel():
    """Direct kernel check on known text: container packs
    min(CAP, max(1, L DIV 16)) real PNG frames; the parser decodes
    every VIDEO_STRIDE-th frame back to the exact constant grey the
    packer derived from the text."""
    import pandas as pd

    from mapreduce_rust_spark.llm.multimodal import (
        VIDEO_FRAME_SIDE, VIDEO_FRAMES_CAP, VIDEO_SRC_STEP, VIDEO_STRIDE,
        _video_frame_batches)

    text = "The quick brown fox jumps over the lazy dog. " * 40  # L=1800
    pdf = pd.DataFrame({"doc_id": [1], "payload": [text.encode()]})
    out = pd.concat(list(_video_frame_batches(iter([pdf]))))
    L = len(text)
    n = min(VIDEO_FRAMES_CAP, max(1, L // VIDEO_FRAME_SIDE))
    assert list(out["frame_idx"]) == list(range(0, n, VIDEO_STRIDE))
    for _, r in out.iterrows():
        g = ord(text[(r.frame_idx * VIDEO_SRC_STEP) % L]) % 256
        assert (r.width, r.height) == (VIDEO_FRAME_SIDE, VIDEO_FRAME_SIDE)
        assert r.gray == g
        assert r.ink == g * VIDEO_FRAME_SIDE ** 2


def test_video_container_cap_bounds_giant_doc():
    """A megabyte-scale doc still packs only VIDEO_FRAMES_CAP frames —
    the in-row work bound that holds at 100 TB."""
    import pandas as pd

    from mapreduce_rust_spark.llm.multimodal import (
        VIDEO_FRAMES_CAP, VIDEO_STRIDE, _video_frame_batches)

    pdf = pd.DataFrame({"doc_id": [7], "payload": [b"x" * 1_000_000]})
    out = pd.concat(list(_video_frame_batches(iter([pdf]))))
    assert len(out) == len(range(0, VIDEO_FRAMES_CAP, VIDEO_STRIDE))


def test_tclose_closed_form_planted_example(spark):
    """Hand-checkable t-closeness: two classes over two buckets.
    Class A = (2,0), class B = (0,2), global = (2,2), N=4. For A:
    D_0 = c·N − C·n = 2·4 − 2·2 = 4; bucket 1 adds 0·4 − 2·2 = −4 so
    D_j = 0 for j ≥ 1 (empty global buckets keep it 0). emd_num = 4,
    symmetric for B."""
    import pandas as pd

    from mapreduce_rust_spark.operators.dataquality import (
        TCLOSE_B, tclose_closed_form)

    cells = spark.createDataFrame(
        pd.DataFrame({"o_orderpriority": ["A", "A", "B", "B"],
                      "o_day": ["d", "d", "d", "d"],
                      "b": [0, 1, 0, 1],
                      "c": [2, 0, 0, 2]}))
    out = {r.o_orderpriority: r
           for r in tclose_closed_form(cells).collect()}
    assert out["A"].n == 2 and out["B"].n == 2
    assert out["A"].emd_num == 4 and out["B"].emd_num == 4
    # t_ppm = 4 * 1e6 DIV (2 * 4 * (B-1))
    assert out["A"].t_ppm == 4 * 1_000_000 // (2 * 4 * (TCLOSE_B - 1))


def test_median_sign_closed_form_planted_example(spark):
    """Counts table with n=7 (k=4): values 1..7, one each, treat on
    odd values. Median = 4 (a control value): treat above = {5,7},
    below = {1,3}, eq = {}; control above = {6}, below = {2},
    eq = {4}."""
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import (
        median_sign_closed_form)

    cnt = spark.createDataFrame(
        pd.DataFrame({"vc": [1, 2, 3, 4, 5, 6, 7],
                      "ct": [1, 0, 1, 0, 1, 0, 1],
                      "cc": [0, 1, 0, 1, 0, 1, 0]}))
    r = median_sign_closed_form(cnt).collect()[0]
    assert r.median_c == 4
    assert (r.t_above, r.t_below, r.t_eq) == (2, 2, 0)
    assert (r.c_above, r.c_below, r.c_eq) == (1, 1, 1)
    assert r.t_above_bp == 5000 and r.c_above_bp == 3333


def test_revenue_gini_matches_pure_python(spark):
    """The op's DECIMAL(38) rank-sum Gini equals an exact integer
    computation in Python over the same per-part revenues."""
    from pyspark.sql import functions as F

    from mapreduce_rust_spark.operators.olap import revenue_gini_parts
    from mapreduce_rust_spark.operators.relational import DEC_MONEY
    from mapreduce_rust_spark.tables import load_table

    li = load_table(spark, SF_CORRECT, "lineitem")
    rev = (li.groupBy("l_partkey")
             .agg(F.sum((F.col("l_extendedprice")
                         * (1 - F.col("l_discount"))).cast(DEC_MONEY))
                  .alias("rev"))
             .select("l_partkey",
                     F.expr("CAST(rev * 1000000 AS DECIMAL(38,0))")
                      .alias("x")).collect())
    xs = [int(r.x) for r in sorted(rev, key=lambda r: (int(r.x),
                                                       r.l_partkey))]
    n = len(xs)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    sx = sum(xs)
    expect = (2 * six - (n + 1) * sx) * 1_000_000 // (n * sx)
    got = revenue_gini_parts(spark, SF_CORRECT).collect()[0]
    assert (got.n_parts, got.rev_total_u, got.gini_ppm) == (n, sx, expect)


def test_bot_gap_regularity_invariants(spark):
    """Structural invariants the oracle compare can't state: modal
    share is a valid basis-point fraction, the mode's count never
    exceeds the gap count, distinct ≤ total."""
    from mapreduce_rust_spark.operators.monitoring import (
        BOT_MIN_GAPS, bot_gap_regularity_events)

    rows = bot_gap_regularity_events(spark, SF_CORRECT).collect()
    assert rows, "fixture has users above the gap threshold"
    for r in rows:
        assert r.n_gaps >= BOT_MIN_GAPS
        assert 1 <= r.n_distinct_gaps <= r.n_gaps
        assert 0 < r.mode_share_bp <= 10000


def test_triangle_corners_both_gate_paths_agree(spark):
    """Planted graph (K4 on 1-4 plus pendant 5 and triangle 6-7-8):
    the broadcast fast path and the O(m^1.5) wedge path must emit the
    IDENTICAL corner set, ``triangle_count`` must count 5 on both
    paths (an unknown size takes the wedge path), and per-edge support
    must match hand counts. K4: every edge has support 2; pendant
    edge 0; the 6-7-8 triangle edges 1 each."""
    import pandas as pd

    from mapreduce_rust_spark.operators.graph import (
        _triangle_corners, triangle_count)

    e = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (6, 7), (6, 8), (7, 8)]
    edges = spark.createDataFrame(pd.DataFrame(e, columns=["u", "v"]))
    fast = {tuple(r) for r in
            _triangle_corners(edges, n_edges=10).collect()}
    slow = {tuple(r) for r in
            _triangle_corners(edges, n_edges=10**9).collect()}
    assert fast == slow
    assert len(fast) == 5  # C(4,3) = 4 triangles in K4 + one in 6-7-8
    for n_edges in (None, 10):
        assert triangle_count(edges, n_edges).first()["n_triangles"] == 5
    support = {}
    for s, a, b in fast:
        for x, y in ((min(s, a), max(s, a)), (min(s, b), max(s, b)),
                     (a, b)):
            support[(x, y)] = support.get((x, y), 0) + 1
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert all(support[p] == 2 for p in k4)
    assert (4, 5) not in support
    assert all(support[p] == 1 for p in [(6, 7), (6, 8), (7, 8)])


def test_nearest_rank_percentile_selection(spark):
    """Planted nearest-rank check for the percentile closed forms:
    values 10,20,...,100 (one each, n=10) give P25 = 3rd value = 30,
    P50 = 5th = 50, P90 = 9th = 90 under k = ceil(p*n/100)."""
    import pandas as pd

    from mapreduce_rust_spark.llm.textanalysis import (
        len_quantiles_closed_form)

    cells = spark.createDataFrame(
        pd.DataFrame({"source": ["s"] * 10,
                      "len": [10 * i for i in range(1, 11)],
                      "c": [1] * 10}))
    r = len_quantiles_closed_form(cells).collect()[0]
    assert (r.n_docs, r.p25_chars, r.p50_chars, r.p90_chars) \
        == (10, 30, 50, 90)
