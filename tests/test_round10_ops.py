"""Behavioral tests for the round-10 crop and round-10 hardening —
properties the oracle mirror cannot see (degenerate inputs absent
from the fixtures, gate paths, planted worst cases).
"""

from __future__ import annotations

import duckdb
import pandas as pd


def _duck_on(tmp_path, *tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')")
    return con


def test_bpe_encode_oracle_survives_vocab_exhaustion(spark, tmp_path):
    """r9 advice: a corpus whose pair vocabulary exhausts before
    N_MERGES rounds used to EMPTY the oracle's symbol table (the
    ``w{r} = w{r-1} CROSS JOIN m{r}`` round with an empty argmax),
    reporting n_tokens=0 for every doc while Spark (whose trainer
    breaks early) reported true counts. The LEFT JOIN ON TRUE +
    COALESCE carry must keep the two engines hash-agreed."""
    from mapreduce_rust_spark.llm.bpe import (
        _bpe_encode_oracle, bpe_encode_docs)

    # "ab" admits exactly one merge; "c d" admits none. Exhaustion
    # after round 1 << N_MERGES.
    docs = pd.DataFrame({
        "doc_id": [1, 2],
        "source": ["a", "a"],
        "text": ["ab ab c", "c d"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")

    got = {r.doc_id: (r.n_tokens, r.n_subwords, r.fertility)
           for r in bpe_encode_docs(spark, str(tmp_path)).collect()}
    # doc 1: 3 tokens; "ab"x2 -> 1 subword each, "c" -> 1  => 3
    # doc 2: 2 tokens; "c","d" -> 1 each                   => 2
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (2, 2, 1.0)

    con = _duck_on(tmp_path, "documents")
    want = {int(r["doc_id"]): (int(r["n_tokens"]), int(r["n_subwords"]),
                               float(r["fertility"]))
            for _, r in con.execute(_bpe_encode_oracle()).fetchdf().iterrows()}
    assert want == got


def test_bpe_symbols_are_code_points_outside_the_bmp(spark, tmp_path):
    """Characters outside the Basic Multilingual Plane are one symbol
    each, as in DuckDB's ``string_split(w, '')``. A JVM regex split
    works on UTF-16 and would cut 😀 into two '?' halves, taking both
    the learned merges and the per-doc subword counts off the
    oracle."""
    from mapreduce_rust_spark.llm.bpe import (
        _bpe_encode_oracle, _bpe_train_oracle, bpe_encode_docs,
        bpe_train_merges)

    docs = pd.DataFrame({
        "doc_id": [1, 2],
        "source": ["a", "a"],
        "text": ["a😀 a😀 😀b a😀😀", "😀😀😀 c𝄞 𝄞"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    con = _duck_on(tmp_path, "documents")

    got = [(r.step, r.left, r.right, r.merged, r.pair_count)
           for r in bpe_train_merges(spark, str(tmp_path))
           .orderBy("step").collect()]
    want = [tuple(r) for r in con.execute(
        _bpe_train_oracle() + " ORDER BY step").fetchall()]
    assert got == want
    assert got[0] == (1, "a", "😀", "a😀", 3)

    got = {r.doc_id: (r.n_tokens, r.n_subwords, r.fertility)
           for r in bpe_encode_docs(spark, str(tmp_path)).collect()}
    want = {int(r["doc_id"]): (int(r["n_tokens"]), int(r["n_subwords"]),
                               float(r["fertility"]))
            for _, r in con.execute(_bpe_encode_oracle()).fetchdf().iterrows()}
    assert got == want


def test_bpe_train_oracle_emits_only_real_rounds_on_exhaustion(
        spark, tmp_path):
    """The train oracle's UNION over m1..mN must yield exactly the
    rounds that fired (empty argmax rounds contribute no rows),
    matching Spark's early-break merge list row-for-row."""
    from mapreduce_rust_spark.llm.bpe import (
        _bpe_train_oracle, bpe_train_merges)

    docs = pd.DataFrame({
        "doc_id": [1],
        "source": ["a"],
        "text": ["ab ab c"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")

    got = [(r.step, r.left, r.right, r.merged, r.pair_count)
           for r in bpe_train_merges(spark, str(tmp_path))
           .orderBy("step").collect()]
    assert got == [(1, "a", "b", "ab", 2)]

    con = _duck_on(tmp_path, "documents")
    want = [tuple(r) for r in con.execute(
        _bpe_train_oracle() + " ORDER BY step").fetchall()]
    assert [(s, l, rg, m, c) for s, l, rg, m, c in want] == got

def _adpcm_block(pred, idx, data_bytes):
    import struct
    blocks = struct.pack("<hBB", pred, idx, 0) + bytes(data_bytes)
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 8000 * 8 // 9, 8, 4, 2, 9)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(blocks)) + blocks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_adpcm_decode_planted_blocks():
    """Hand-computed IMA ADPCM decode: zero codes at step 7 leave the
    predictor untouched (diff = 7>>3 = 0); a code-7 nibble at index 30
    (step 130) adds exactly 16+32+65+130 = 243; the sign nibble (8)
    subtracts; saturation clamps at the int16 rails."""
    from mapreduce_rust_spark.llm.multimodal import decode_wav_pcm

    # all-zero codes: every sample equals the header predictor
    rate, ch, s = decode_wav_pcm(_adpcm_block(100, 0, [0, 0, 0, 0]))
    assert (rate, ch) == (8000, 1)
    assert list(s) == [100] * 9

    # one code-7 low nibble at idx 30: step table [30] = 130,
    # diff = (130>>3) + (130>>2) + (130>>1) + 130 = 16+32+65+130 = 243
    _, _, s = decode_wav_pcm(_adpcm_block(1000, 30, [0x07, 0, 0, 0]))
    assert s[1] == 1000 + 243
    # its index update is +8 -> 38 (step 279); the next code is 0,
    # so diff = 279>>3 = 34
    assert s[2] == 1000 + 243 + 34

    # sign bit: code 0xF = magnitude 7 with subtract
    _, _, s = decode_wav_pcm(_adpcm_block(1000, 30, [0x0F, 0, 0, 0]))
    assert s[1] == 1000 - 243

    # saturation at the rails (idx 88 -> step 32767, code 7 explodes)
    _, _, s = decode_wav_pcm(_adpcm_block(32000, 88, [0x77, 0x77, 0, 0]))
    assert s[1] == 32767 and s[2] == 32767
    _, _, s = decode_wav_pcm(_adpcm_block(-32000, 88, [0xFF, 0xFF, 0, 0]))
    assert s[1] == -32768


def test_adpcm_gate_still_honest():
    """Format codes other than 1 and 0x11 must still raise (the gate
    narrows, it never silently mis-decodes), and multi-channel ADPCM
    stays gated."""
    import struct

    import pytest

    from mapreduce_rust_spark.llm.multimodal import decode_wav_pcm

    def wav_with_code(code, channels=1, bits=4):
        fmt = struct.pack("<HHIIHH", code, channels, 8000, 8000, 8, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", 0))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # float PCM (3) and A-law (6) gained real decoders in round 12;
    # at the wrong bit width they refuse loudly rather than misparse
    with pytest.raises(NotImplementedError):
        decode_wav_pcm(wav_with_code(3))      # 4-bit float: no such width
    with pytest.raises(ValueError):
        decode_wav_pcm(wav_with_code(6))      # A-law needs 8-bit codes
    with pytest.raises(NotImplementedError):
        decode_wav_pcm(wav_with_code(0x11, channels=2))
    with pytest.raises(NotImplementedError):
        decode_wav_pcm(wav_with_code(0x55))   # MP3-in-WAV: still gated


def test_adpcm_spark_oracle_parity_tiny_corpus(spark, tmp_path):
    """Spark kernel vs the unrolled chained-CTE oracle on a planted
    corpus that exercises wrap-around (L < 8), multi-block docs, and
    high-index saturation bytes."""
    from mapreduce_rust_spark.llm.multimodal import (
        AUDIO_ADPCM_ORACLE, multimodal_audio_adpcm_stats)

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "source": ["a", "a", "b"],
        "text": ["abc",                       # L < block: wraps mod L
                 "The quick brown fox jumps over the lazy dog",  # 5 blocks
                 "\x7f" * 40],                # high bytes: saturation
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    got = multimodal_audio_adpcm_stats(spark, str(tmp_path)).toPandas()
    con = _duck_on(tmp_path, "documents")
    want = con.execute(AUDIO_ADPCM_ORACLE).fetchdf()
    gv = sorted(map(tuple, got.reindex(sorted(got.columns), axis=1)
                    .astype(str).values))
    wv = sorted(map(tuple, want.reindex(sorted(want.columns), axis=1)
                    .astype(str).values))
    assert len(got) and gv == wv


def test_rank_biserial_and_hl_match_numpy_reference(spark, tmp_path):
    """Independent pure-numpy reference for the two round-10 effect
    readouts (the oracle mirrors the op's integer chain, so only an
    outside reference catches a shared formula error): rank-biserial
    via raw dominance counts (gt − lt)/(n_t·n_c), Hodges–Lehmann via
    a literal sort of all pairwise differences."""
    import numpy as np

    from mapreduce_rust_spark.operators.experiment import (
        hodges_lehmann_events, rank_biserial_events)

    rng = np.random.default_rng(7)
    user = np.arange(400)
    val = np.where(user % 2 == 1,
                   rng.normal(5.3, 2.0, 400),   # treat: shifted up
                   rng.normal(5.0, 2.0, 400))
    ev = pd.DataFrame({
        "event_id": np.arange(400), "ts": pd.Timestamp("2024-01-01"),
        "user_id": user, "event_type": "x", "value": val, "props": "{}"})
    ev.to_parquet(tmp_path / "events.parquet")

    vc = np.round(val * 100).astype(np.int64)
    t, c = vc[user % 2 == 1], vc[user % 2 == 0]
    gt = int((t[:, None] > c[None, :]).sum())
    lt = int((t[:, None] < c[None, :]).sum())
    npairs = len(t) * len(c)
    want_rb = int(
        np.trunc((gt - lt) * 1_000_000 / npairs))  # trunc ≡ DIV here
    # HL quantizes to the dime grid (truncating DIV; values positive
    # here so // matches) and reports the median difference in cents
    diffs = np.sort((t[:, None] // 10 - c[None, :] // 10).ravel())
    want_hl = int(diffs[(npairs + 1) // 2 - 1]) * 10

    rb = rank_biserial_events(spark, str(tmp_path)).collect()[0]
    assert (rb.n_treat, rb.n_ctrl) == (len(t), len(c))
    assert rb.rb_ppm == want_rb
    hl = hodges_lehmann_events(spark, str(tmp_path)).collect()[0]
    assert (hl.n_pairs, hl.hl_shift_cents) == (npairs, want_hl)


def _ev(tmp_path, user, val, ts=None, etype=None):
    import numpy as np
    n = len(user)
    pd.DataFrame({
        "event_id": np.arange(n),
        "ts": ts if ts is not None else pd.Timestamp("2024-01-01"),
        "user_id": user,
        "event_type": etype if etype is not None else "x",
        "value": val, "props": "{}",
    }).to_parquet(tmp_path / "events.parquet")


def test_page_hinkley_alarm_fires_on_planted_level_shift(spark, tmp_path):
    """The fixture's stationary series never trips the λ·D alarm
    (the WECO planted-test lesson): plant a hard upward level shift —
    20 quiet days at 10.00 then 10 days at 3000.00 — and the PH
    statistic must (a) alarm, (b) peak on the final day, and (c)
    hash-agree with the oracle."""
    import numpy as np

    from mapreduce_rust_spark.operators.monitoring import (
        PAGE_HINKLEY_ORACLE, page_hinkley_events)

    days = list(range(30))
    ts = [pd.Timestamp("2024-03-01") + pd.Timedelta(days=d) for d in days]
    val = [10.0] * 20 + [3000.0] * 10
    _ev(tmp_path, np.arange(30), np.array(val), ts=pd.Series(ts))
    got = page_hinkley_events(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert bool(r.alarm) is True
    assert r.ph_day == "2024-03-30"   # drift accumulates to the end

    con = _duck_on(tmp_path, "events")
    want = con.execute(PAGE_HINKLEY_ORACLE).fetchdf().iloc[0]
    assert (r.n_days, r.ph_scaled, r.ph_day, r.alarm) == (
        int(want.n_days), int(want.ph_scaled), want.ph_day,
        bool(want.alarm))


def test_runs_test_detects_clustering_and_oscillation(spark, tmp_path):
    """Planted extremes: a step series (all lows then all highs)
    collapses to a SINGLE run — the 10 low days all equal the median
    and drop out of the sign sequence, leaving only the high days
    (n_runs == 1); a perfectly alternating series must give the
    maximum n runs."""
    import numpy as np

    rows = []
    for d in range(20):
        for i in range(2 if d < 10 else 8):
            rows.append(("step", pd.Timestamp("2024-03-01")
                         + pd.Timedelta(days=d), d * 100 + i))
    # alternating 2/8 around a single median-5 day (which drops out,
    # leaving a strict 20-run alternation)
    for d in range(21):
        for i in range(5 if d == 20 else (2 if d % 2 == 0 else 8)):
            rows.append(("alt", pd.Timestamp("2024-03-01")
                         + pd.Timedelta(days=d), 10_000 + d * 100 + i))
    ev = pd.DataFrame({
        "event_id": np.arange(len(rows)),
        "ts": [r[1] for r in rows],
        "user_id": [r[2] for r in rows],
        "event_type": [r[0] for r in rows],
        "value": 1.0, "props": "{}"})
    ev.to_parquet(tmp_path / "events.parquet")

    from mapreduce_rust_spark.operators.monitoring import (
        RUNS_TEST_ORACLE, runs_test_events)
    got = {r.event_type: r
           for r in runs_test_events(spark, str(tmp_path)).collect()}
    # median of 10x"2" + 10x"8" is 2 (lower nearest-rank) -> days
    # equal to the median drop out, leaving the 10 high days: 1 run
    assert got["step"].n_runs == 1 and got["step"].n_above == 10
    assert got["step"].n_below == 0
    assert got["alt"].n_runs == 20
    assert (got["alt"].n_above, got["alt"].n_below) == (10, 10)
    con = _duck_on(tmp_path, "events")
    want = {r[0]: r for r in con.execute(RUNS_TEST_ORACLE).fetchall()}
    for k, g in got.items():
        assert (g.n_above, g.n_below, g.n_runs, g.e_num, g.var_num) == \
            tuple(want[k][1:])


def test_tukey_fences_flag_planted_outliers(spark, tmp_path):
    """Uniform fixture prices never cross the 1.5·IQR fences; plant
    a tight cluster with two extreme points and check both tails and
    the exact nearest-rank quartiles."""
    import numpy as np

    vals = [100.0] * 25 + [101.0] * 25 + [102.0] * 25 + [103.0] * 23 \
        + [0.5, 10_000.0]
    orders = pd.DataFrame({
        "o_orderkey": np.arange(100), "o_custkey": np.arange(100),
        "o_orderstatus": "O", "o_totalprice": vals,
        "o_orderdate": pd.Timestamp("2024-01-01"),
        "o_orderpriority": "1-URGENT", "o_clerk": "c",
        "o_shippriority": 0, "o_comment": ""})
    orders.to_parquet(tmp_path / "orders.parquet")

    from mapreduce_rust_spark.operators.dataquality import (
        TUKEY_FENCES_ORACLE, tukey_fences_orders)
    r = tukey_fences_orders(spark, str(tmp_path)).collect()[0]
    # n=100: q1 at rank ceil(100/4)=25 -> 10000 cents; q3 at rank 75
    assert (r.q1_cents, r.q3_cents) == (10000, 10200)
    # IQR=200 -> fences [9700, 10500]: 0.5 (50c) low, 10000.00 high
    assert (r.n_low, r.n_high) == (1, 1)
    con = _duck_on(tmp_path, "orders")
    want = con.execute(TUKEY_FENCES_ORACLE).fetchdf().iloc[0]
    assert (r.n, r.q1_cents, r.q3_cents, r.n_low, r.n_high) == (
        int(want.n), int(want.q1_cents), int(want.q3_cents),
        int(want.n_low), int(want.n_high))


def test_qte_matches_numpy_nearest_rank(spark, tmp_path):
    """QTE per-arm quantiles vs a literal numpy nearest-rank read."""
    import numpy as np

    rng = np.random.default_rng(3)
    user = np.arange(500)
    val = np.where(user % 2 == 1, rng.exponential(8.0, 500),
                   rng.exponential(5.0, 500))
    _ev(tmp_path, user, val)

    from mapreduce_rust_spark.operators.experiment import qte_events
    vc = np.round(val * 100).astype(np.int64)
    t = np.sort(vc[user % 2 == 1])
    c = np.sort(vc[user % 2 == 0])
    got = {r.pct: r for r in qte_events(spark, str(tmp_path)).collect()}
    for p in (25, 50, 75, 90):
        qt = int(t[-(-p * len(t) // 100) - 1])   # ceil rank, 1-based
        qc = int(c[-(-p * len(c) // 100) - 1])
        assert (got[p].q_treat_cents, got[p].q_ctrl_cents,
                got[p].qte_cents) == (qt, qc, qt - qc), p


def test_lang_id_kappa_perfect_and_degenerate(spark, tmp_path):
    """Planted extremes for Cohen's kappa: a corpus whose labels
    exactly match the classifier's votes reads kappa = 10^6; a corpus
    where BOTH sides are constant (n^2 = pe) reads NULL."""
    # 'the and' votes en; 'der und' votes de (stopword lists)
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "source": ["a"] * 4,
        "lang": ["en", "en", "de", "de"],
        "text": ["the and of", "the the is", "der und die", "und der das"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    from mapreduce_rust_spark.llm.textanalysis import lang_id_kappa_docs
    r = lang_id_kappa_docs(spark, str(tmp_path)).collect()[0]
    assert (r.n_docs, r.n_agree, r.po_ppm, r.kappa_ppm) == \
        (4, 4, 1_000_000, 1_000_000)

    docs2 = docs.assign(lang="en",
                        text=["the and", "the is", "the of", "the a"])
    docs2.to_parquet(tmp_path / "documents.parquet")
    r = lang_id_kappa_docs(spark, str(tmp_path)).collect()[0]
    assert r.po_ppm == 1_000_000 and r.kappa_ppm is None


def test_capture_recapture_chapman_hand_computed(spark, tmp_path):
    """Planted two-source overlap: n1=4, n2=3 distinct texts with
    m=2 shared -> Chapman = 5*4//3 - 1 = 5 (true universe 5)."""
    texts_a = ["alpha", "beta", "gamma", "delta"]
    texts_b = ["alpha", "beta", "epsilon"]
    docs = pd.DataFrame({
        "doc_id": range(len(texts_a) + len(texts_b)),
        "source": ["A"] * 4 + ["B"] * 3,
        "text": texts_a + texts_b,
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    from mapreduce_rust_spark.llm.dedup import capture_recapture_sources
    r = capture_recapture_sources(spark, str(tmp_path)).collect()[0]
    assert (r.source_a, r.source_b, r.n_a, r.n_b, r.overlap,
            r.chapman_est) == ("A", "B", 4, 3, 2, 5)


def test_kish_ess_giant_doc_collapses(spark, tmp_path):
    """A source with one giant doc among tiny ones has ESS near 1;
    a uniform source has ESS = n (exactly, in milli-docs)."""
    docs = pd.DataFrame({
        "doc_id": range(6),
        "source": ["whale"] * 3 + ["flat"] * 3,
        "text": ["w " * 10000, "a b", "c d",
                 "a b c d", "e f g h", "i j k l"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    from mapreduce_rust_spark.llm.quality import kish_ess_sources
    got = {r.source: r for r in kish_ess_sources(spark, str(tmp_path)).collect()}
    assert got["flat"].ess_x1000 == 3000         # uniform: ESS = n
    assert got["flat"].ess_ratio_ppm == 1_000_000
    assert got["whale"].ess_x1000 < 1100          # ~1 effective doc
