"""M3 — LLM-pipeline operators: properties the oracle can't check
(LSH recall, sketch accuracy, multimodal plumbing shape)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


def test_minhash_candidates_superset_check(spark):
    """Every MinHash-verified pair must appear in the exhaustive
    n-gram Jaccard ground truth (banding can miss pairs, never
    invent them — verification filters false positives)."""
    from mapreduce_rust_spark.llm.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(spark, SF_CORRECT).collect()}
    truth = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(spark, SF_CORRECT).collect()}
    assert lsh <= truth
    assert truth, "fixture should contain planted near-dups"
    recall = len(lsh) / len(truth)
    assert recall >= 0.8, f"LSH recall {recall} too low (b=4,r=4 @ jaccard>=0.3)"


def test_knn_lsh_recall(spark):
    from mapreduce_rust_spark.llm.similarity import knn_bruteforce, knn_lsh
    exact = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(spark, SF_CORRECT).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in knn_lsh(spark, SF_CORRECT).collect()}
    assert approx, "LSH kNN returned nothing"
    recall = len(exact & approx) / len(exact)
    # 4 hyperplanes / 16 buckets + Hamming-1 multi-probe over random
    # data; print the number so perf rounds can see drift.
    print(f"knn_lsh recall vs bruteforce: {recall:.2f}")
    assert recall > 0.4, f"recall {recall}"  # measured 0.58 on the fixture


def test_knn_ivf_recall(spark):
    from mapreduce_rust_spark.llm.similarity import knn_bruteforce, knn_ivf
    exact = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(spark, SF_CORRECT).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in knn_ivf(spark, SF_CORRECT).collect()}
    assert approx
    recall = len(exact & approx) / len(exact)
    print(f"knn_ivf recall vs bruteforce: {recall:.2f}")
    # IVF_NPROBE=4 measured 0.68 on the sf0.01 fixture (frontier in
    # the ivf_eval_recall docstring + SCALE.md); hold the 0.6 bar the
    # LSH path is held to, with slack for fixture regeneration
    assert recall >= 0.5, f"recall {recall}"


def test_ivf_eval_recall_matches_set_arithmetic(spark):
    """The registered evaluator must report exactly the recall the
    direct set intersection gives (composition correctness)."""
    from mapreduce_rust_spark.llm.similarity import (
        ivf_eval_recall, knn_bruteforce, knn_ivf)
    exact = {(r.query_id, r.neighbor_id)
             for r in knn_bruteforce(spark, SF_CORRECT).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in knn_ivf(spark, SF_CORRECT).collect()}
    got = {r.query_id: (r.hits, r.k_eval, r.recall_bp)
           for r in ivf_eval_recall(spark, SF_CORRECT).collect()}
    for qid, (hits, k_eval, bp) in got.items():
        want_hits = len({(a, b) for a, b in exact if a == qid}
                        & approx)
        want_k = len([1 for a, _ in exact if a == qid])
        assert (hits, k_eval) == (want_hits, want_k), qid
        assert bp == hits * 10000 // k_eval


def test_knn_rank_adjacent_gap(spark):
    """knn_bruteforce ranks by dot(unit(a), unit(b)); the DuckDB
    oracle ranks by list_cosine_similarity — different IEEE paths
    whose results differ in final ulps (~1e-15). Rank parity holds
    iff the similarity gap between rank-adjacent neighbors dwarfs
    that divergence; assert it on the fixture so a future rank flip
    is triaged as a near-tie, not a logic bug."""
    import numpy as np
    from mapreduce_rust_spark.llm.similarity import K, N_QUERIES, _emb
    rows = _emb(spark, SF_CORRECT).collect()
    vecs = {r.vec_id: np.asarray(r.e, dtype=np.float64) for r in rows}
    units = {k: v / np.linalg.norm(v) for k, v in vecs.items()}
    min_gap = float("inf")
    for q in range(N_QUERIES):
        sims = sorted((float(units[q] @ u) for k, u in units.items() if k != q),
                      reverse=True)[: K + 1]
        min_gap = min(min_gap, *(a - b for a, b in zip(sims, sims[1:])))
    print(f"min rank-adjacent similarity gap (top {K + 1}): {min_gap:.3e}")
    assert min_gap > 1e-9, f"near-tie at {min_gap}: cross-engine rank unstable"


def test_sketches_close_to_exact(spark):
    from mapreduce_rust_spark.operators.relational import (
        sketch_distinct_parts, sketch_quantile_price)
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    exact = {r.l_returnflag: r.n
             for r in li.groupBy("l_returnflag")
                        .agg(F.countDistinct("l_partkey").alias("n")).collect()}
    for r in sketch_distinct_parts(spark, SF_CORRECT).collect():
        assert abs(r.est_raw - exact[r.l_returnflag]) / exact[r.l_returnflag] < 0.1
    # round 12: the two-phase histogram quantile is EXACT — each row
    # must equal the true rank-ceil(p·n/100) order statistic
    rows = {r.pct: r for r in
            sketch_quantile_price(spark, SF_CORRECT).collect()}
    assert set(rows) == {50, 90, 99}
    cents = sorted(int(round(v * 100)) for v in
                   (r.l_extendedprice for r in
                    li.select("l_extendedprice").collect()))
    n = len(cents)
    for pct, r in rows.items():
        rank = -(-pct * n // 100)     # ceil
        assert (r.n_rows, r.rank) == (n, rank)
        assert r.cents == cents[rank - 1], (pct, r.cents, cents[rank - 1])
    assert rows[50].cents < rows[90].cents < rows[99].cents


def test_grouped_sketch_quantile_close_to_exact(spark):
    """Per-partkey grid-histogram sketches vs exact per-group lower
    medians — every group within the PROVEN bound: the true median
    lies inside the reported bucket, so |approx − exact| ≤ half the
    bucket width (QSK_WIDTH/2 cents), and the rank bracketing
    (n_rows, med_rank) must be exact."""
    from mapreduce_rust_spark.operators.relational import (
        QSK_WIDTH, sketch_quantile_by_partkey)
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    exact = {}
    for r in li.select("l_partkey", "l_extendedprice").collect():
        exact.setdefault(r.l_partkey, []).append(
            int(round(r.l_extendedprice * 100)))
    rows = sketch_quantile_by_partkey(spark, SF_CORRECT).collect()
    assert len(rows) == len(exact)
    for r in rows:
        vals = sorted(exact[r.l_partkey])
        med = vals[(len(vals) + 1) // 2 - 1]        # lower median
        assert (r.n_rows, r.med_rank) == (len(vals), (len(vals) + 1) // 2)
        assert r.bucket == med // QSK_WIDTH, (r, med)
        assert abs(r.approx_p50 * 100 - med) <= QSK_WIDTH / 2, (r, med)


def test_multimodal_batch_shape(spark):
    """mapInPandas must stream batches (plumbing check) and produce
    deterministic fake features."""
    from mapreduce_rust_spark.llm.multimodal import multimodal_features, with_payload
    out = multimodal_features(spark, SF_SMOKE)
    rows = out.collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert len(rows) == docs.count()
    r0 = min(rows, key=lambda r: r.doc_id)
    t0 = docs.filter(F.col("doc_id") == r0.doc_id).collect()[0].text
    assert r0.payload_bytes == len(t0.encode())
    assert r0.fake_width == (len(t0.encode()) % 1024) + 1
    # binary payload schema survives
    p = with_payload(docs)
    assert dict(p.dtypes)["payload"] == "binary"


def test_decode_stub_gated(spark):
    """Payloads needing codecs the container lacks still raise
    NotImplementedError; PNG and baseline grayscale JPEG decode for
    real via the pure-stdlib codecs (a malformed JPEG raises
    ValueError from the real parser, not the gate)."""
    from mapreduce_rust_spark.llm.imagecodec import encode_png
    from mapreduce_rust_spark.llm.multimodal import decode_image_stub
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"RIFF....WAVEfmt ")    # audio: still gated
    with pytest.raises(ValueError):
        decode_image_stub(b"\xff\xd8\xff\xe0 jpeg-ish")  # real parser
    pixels = bytes(range(0, 240, 10))  # 24 bytes = 4x2 RGB
    w, h, ch, raw = decode_image_stub(encode_png(pixels, 4, 2, 3))
    assert (w, h, ch, raw) == (4, 2, 3, pixels)


def test_png_roundtrip_all_filters_and_channels():
    """Pure-stdlib PNG codec: encode→decode is identity for grey/RGB/
    RGBA, and the decoder unfilters every PNG filter type (a synthetic
    stream exercises Sub/Up/Average/Paeth explicitly)."""
    import struct
    import zlib

    from mapreduce_rust_spark.llm.imagecodec import (
        _chunk, _PNG_MAGIC, decode_png, encode_png, nearest_resize)
    for ch in (1, 3, 4):
        w, h = 7, 5
        pixels = bytes((x * 37 + c * 11) % 256
                       for x in range(w * h) for c in range(ch))
        got = decode_png(encode_png(pixels, w, h, ch))
        assert got == (w, h, ch, pixels)
    # hand-build a 3x5 grey PNG using one row per filter type and
    # check against the reference unfiltering done longhand here
    rows = [bytes([10, 20, 30]), bytes([5, 7, 9]), bytes([1, 2, 3]),
            bytes([8, 8, 8]), bytes([200, 100, 50])]
    raw, prev, expect = b"", bytes(3), []
    for ftype, line in enumerate(rows):  # filter types 0..4
        out = bytearray(line)
        if ftype == 1:
            for i in range(1, 3):
                out[i] = (out[i] + out[i - 1]) & 0xFF
        elif ftype == 2:
            for i in range(3):
                out[i] = (out[i] + prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(3):
                left = out[i - 1] if i else 0
                out[i] = (out[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:
            for i in range(3):
                left = out[i - 1] if i else 0
                # prev pixel's up-left; a==left, b==up, c==upleft
                ul = prev[i - 1] if i else 0
                p = left + prev[i] - ul
                pa, pb, pc = abs(p - left), abs(p - prev[i]), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else \
                    (prev[i] if pb <= pc else ul)
                out[i] = (out[i] + pred) & 0xFF
        expect.append(bytes(out))
        prev = bytes(out)
        # raw stream stores the FILTERED bytes: invert our unfiltering
        # by storing the original `line` with its filter tag
        raw += bytes([ftype]) + line
    ihdr = struct.pack(">IIBBBBB", 3, 5, 8, 0, 0, 0, 0)
    png = (_PNG_MAGIC + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(raw))
           + _chunk(b"IEND", b""))
    assert decode_png(png) == (3, 5, 1, b"".join(expect))
    # resize: nearest-neighbor identity at same dims, and 2x shrink
    # picks the floor-grid samples
    pix = bytes(range(16))  # 4x4 grey
    assert nearest_resize(pix, 4, 4, 1, 4, 4) == pix
    assert nearest_resize(pix, 4, 4, 1, 2, 2) == bytes([0, 2, 8, 10])


def test_png_decode_in_map_in_pandas(spark):
    """Real decode inside the Arrow-batched kernel shape the
    multimodal operators use: build PNG payloads, decode per batch,
    emit (doc_id, width, height, channels) — the bytes never leave
    the executor."""
    from mapreduce_rust_spark.llm.imagecodec import decode_png, encode_png
    rows = [(i, encode_png(bytes((i + j) % 256 for j in range(6 * i * 3)),
                           6, i, 3)) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    # decode_png is a CLOSURE reference: the package pickles by value,
    # so the kernel ships with the codec — an import inside the kernel
    # body would need the repo on the worker's sys.path (fails when
    # ``__spark_entry__.py`` is loaded by file path)
    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            decoded = [decode_png(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": [d[0] for d in decoded],
                "height": [d[1] for d in decoded],
                "channels": [d[2] for d in decoded]})

    out = {r.doc_id: (r.width, r.height, r.channels)
           for r in df.mapInPandas(
               kernel, "doc_id long, width long, height long, channels long"
           ).collect()}
    assert out == {i: (6, i, 3) for i in range(1, 5)}


def test_exact_dedup_counts(spark):
    """Fixture has no exact dups: every group size 1; operator must
    still collapse a synthetic duplicate."""
    from mapreduce_rust_spark.llm.dedup import exact_dedup_docs
    out = exact_dedup_docs(spark, SF_CORRECT)
    assert out.filter(F.col("n_copies") > 1).count() == 0
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").limit(5)
    doubled = docs.unionByName(docs)
    dd = (doubled.groupBy(F.sha2("text", 256).alias("h"))
                 .agg(F.count("*").alias("n")))
    assert dd.filter(F.col("n") != 2).count() == 0


def test_countmin_one_sided_error_under_collisions(spark):
    """Count-Min with a deliberately tiny width (8 cells/row) forces
    collisions: estimates must NEVER undercount (the CMS guarantee)
    and must overcount somewhere, bounded by e/width x total mass."""
    import math
    from pyspark.sql import functions as F
    from mapreduce_rust_spark.llm.textanalysis import (
        CMS_DEPTH, countmin_token_counts, _tok_table)
    from tests.conftest import SF_CORRECT
    rows = countmin_token_counts(spark, SF_CORRECT, width=8).collect()
    assert rows
    total = (_tok_table(spark, SF_CORRECT)
             .agg(F.count("*")).collect()[0][0])
    assert all(r.cms_est >= r.exact_cnt for r in rows)
    assert any(r.cms_est > r.exact_cnt for r in rows)  # collisions real
    bound = math.e / 8 * total
    assert all(r.cms_est - r.exact_cnt <= bound for r in rows)


def test_shingle_index_is_memoized_per_session_and_dir(spark):
    """Repeated dedup calls must share ONE persisted shingle index per
    (session, sf_dir) — the round-3 curation regression was duplicate
    persisted lineages stacking up across calls."""
    from mapreduce_rust_spark.llm.dedup import _persisted_shingles
    a = _persisted_shingles(spark, SF_SMOKE)
    b = _persisted_shingles(spark, SF_SMOKE)
    assert a is b, "same dir must return the cached DataFrame object"
    assert a.storageLevel.useMemory, "index must actually be persisted"
    c = _persisted_shingles(spark, SF_CORRECT)
    assert c is not a, "different sf_dir must not share an index"


def test_auc_prefix_decomposition_equals_pair_count(spark):
    """The two-phase AUC must equal the O(n^2) Mann-Whitney pair count
    (1 per pos>neg pair, 0.5 per tie) on adversarial score sets:
    heavy ties, negative scores, bucket-boundary values, a class with
    a single member."""
    from itertools import product
    from mapreduce_rust_spark.llm.evaluation import auc_from_scores

    cases = [
        [(1.0, True), (0.5, False)],
        [(1.0, True), (1.0, False)],                      # pure tie
        [(-3.0, True), (-3.0, False), (-2.5, True), (7.0, False),
         (0.0, True), (0.0, False), (0.0, True)],         # tie pile-up
        [(float(x), x % 3 == 0) for x in range(-20, 20)], # boundaries
        [(2.0, True)] + [(float(i) / 7, False) for i in range(10)],
    ]
    for pairs in cases:
        pos = [s for s, p in pairs if p]
        neg = [s for s, p in pairs if not p]
        expect2 = sum(2 if sp > sn else (1 if sp == sn else 0)
                      for sp, sn in product(pos, neg))
        d = spark.createDataFrame(pairs, "score double, pos boolean")
        row = auc_from_scores(d).collect()[0]
        assert row.n_pos == len(pos) and row.n_neg == len(neg)
        assert row.auc_num2 == expect2, pairs
        assert row.auc == expect2 / (2 * len(pos) * len(neg))


def test_calibration_bins_partition_the_corpus(spark):
    """Bins are disjoint fixed-width intervals: totals must re-add to
    the corpus count, positives to the en-doc count, and every rate
    must be n_pos/n exactly."""
    from pyspark.sql import functions as F
    from mapreduce_rust_spark.llm.evaluation import calibration_bins_docs
    from tests.conftest import SF_CORRECT
    rows = calibration_bins_docs(spark, SF_CORRECT).collect()
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    assert sum(r.n for r in rows) == docs.count()
    assert (sum(r.n_pos for r in rows)
            == docs.filter(F.col("lang") == "en").count())
    for r in rows:
        assert 0 <= r.n_pos <= r.n
        assert r.pos_rate == r.n_pos / r.n
        assert r.score_lo == r.bin * 100


def test_key_skew_stats_identifies_true_hot_keys(spark):
    """Top-N must be exactly the N largest per-key counts (ties by
    key), and hot_factor must re-derive from (cnt, n_keys, total)."""
    from pyspark.sql import functions as F
    from mapreduce_rust_spark.operators.skew import (
        SKEW_TOP_N, key_skew_stats)
    from tests.conftest import SF_CORRECT
    rows = key_skew_stats(spark, SF_CORRECT).collect()
    assert len(rows) == SKEW_TOP_N
    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    want = (ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
              .orderBy(F.desc("cnt"), "user_id").limit(SKEW_TOP_N)
              .collect())
    assert [(r.user_id, r.cnt) for r in rows] \
        == [(r.user_id, r.cnt) for r in want]
    for r in rows:
        assert r.hot_factor == r.cnt * r.n_keys / r.total
        assert r.share == r.cnt / r.total


def test_retrieval_eval_metrics_are_consistent(spark):
    """P@k <= 1, n_ret_rel <= min(k, n_rel), rr = 1/first_rel_rank,
    and the relevant-doc universe agrees with a direct tf count."""
    from pyspark.sql import functions as F
    from mapreduce_rust_spark.llm.evaluation import (
        EVAL_K, REL_TF, retrieval_eval_bm25)
    from tests.conftest import SF_CORRECT
    rows = retrieval_eval_bm25(spark, SF_CORRECT).collect()
    assert rows, "every search term should have candidates at sf0.01"
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    for r in rows:
        direct = (docs.select(F.size(F.filter(toks,
                      lambda t: t == F.lit(r.term))).alias("tf"))
                      .filter(F.col("tf") >= REL_TF).count())
        assert r.n_rel == direct
        assert r.n_ret_rel <= min(EVAL_K, r.n_rel)
        assert r.p_at_k == r.n_ret_rel / EVAL_K
        if r.first_rel_rank is not None:
            assert r.rr == 1.0 / r.first_rel_rank
