"""Behavioral tests for the round-9 crop and round-9 hardening —
properties the oracle mirror cannot see (degenerate inputs absent
from the fixtures, gate paths, planted worst cases).
"""

from __future__ import annotations

import duckdb
import pandas as pd


def test_char_class_profile_empty_source_guard(spark, tmp_path):
    """A source containing only empty documents drives n_chars_total
    to 0: the basis-point shares must be NULL in BOTH engines (Spark's
    non-ANSI DIV nulls; DuckDB needs the mirrored CASE guard or its
    // raises), so the two engines stay hash-agreed on degenerate
    corpora (r8 advice)."""
    from mapreduce_rust_spark.llm.textanalysis import (
        CHAR_CLASS_ORACLE, char_class_profile_docs)

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "source": ["empty", "empty", "real"],
        "text": ["", "", "ab1 c"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    got = {r.source: r
           for r in char_class_profile_docs(spark, str(tmp_path)).collect()}
    assert got["empty"].n_chars_total == 0
    assert got["empty"].letters_bp is None
    assert got["empty"].digits_bp is None
    assert got["real"].letters_bp == 3 * 10000 // 5

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')")
    want = con.execute(CHAR_CLASS_ORACLE).fetchdf()
    w = want.set_index("source")
    assert pd.isna(w.loc["empty", "letters_bp"])
    assert int(w.loc["real", "letters_bp"]) == 6000


def test_triangle_table_memo_hit_and_miss(spark):
    """The session triangle-table memo (shared by triangle count /
    clustering coefficient / edge support) must return the SAME
    materialized frame for the same edge plan and MISS for a
    different (e.g. planted-test) edge plan — stale reuse across
    inputs would silently corrupt all three queries."""
    from mapreduce_rust_spark import memo
    from mapreduce_rust_spark.operators.graph import triangle_table_cached

    e1 = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "u long, v long")
    e2 = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "u long, v long")
    a = triangle_table_cached(e1, 4)
    b = triangle_table_cached(e1, 4)
    assert a is b, "same edge plan must hit the memo"
    c = triangle_table_cached(e2, 3)
    assert c is not a, "different edge plan must miss"
    assert {tuple(sorted(r)) for r in a.collect()} == {(1, 2, 3)}
    memo.clear_results()


def test_ktruss_peel_cascade_planted(spark):
    """Planted cascade for the k-truss peel (K = 4, support >= 2):
    K4 on {1,2,3,4} plus vertex 5 joined to 3 and 4. Round 1 drops
    (3,5) and (4,5) (support 1 each) — edge (3,4) had support 3 (two
    K4 triangles + {3,4,5}); round 2 recomputes support over the
    survivors and (3,4) falls to 2, still surviving: the final truss
    is exactly K4 with every edge at support 2. The support column
    must reflect the LAST executed round (so (3,4) reports 2, not
    its round-1 value 3) — the cascade is invisible to the seed
    filter edge_support_hist_parts and is what this op adds."""
    import pandas as pd

    from mapreduce_rust_spark.operators.graph import KTRUSS_K, ktruss_peel

    assert KTRUSS_K == 4
    e = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (3, 5), (4, 5)]
    edges = spark.createDataFrame(pd.DataFrame(e, columns=["u", "v"]))
    out = {(r.u, r.v): r.support for r in ktruss_peel(edges).collect()}
    k4 = {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert set(out) == k4
    assert all(s == 2 for s in out.values()), out


def test_wav_pcm_roundtrip_and_gates():
    """The RIFF/PCM codec: pack→decode round-trips the exact sample
    sequence; corrupt containers raise ValueError; non-PCM format
    codes and non-16-bit depths hit the honest NotImplementedError
    gate (the audio analogue of decode_image_stub's)."""
    import struct

    import numpy as np
    import pytest

    from mapreduce_rust_spark.llm.multimodal import (
        AUDIO_PCM_RATE, _pack_wav_pcm, decode_wav_pcm)

    text = "Hello, WAV world! 0123"
    wav = _pack_wav_pcm(text)
    rate, ch, samples = decode_wav_pcm(wav)
    assert (rate, ch) == (AUDIO_PCM_RATE, 1)
    expect = np.array([(ord(c) % 256 - 100) * 201 for c in text],
                      dtype=np.int16)
    assert np.array_equal(samples, expect)

    # an extra chunk before data must be skipped (odd length → padded)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    patched = wav[:12] + extra + wav[12:]
    patched = (b"RIFF" + struct.pack("<I", len(patched) - 8)
               + patched[8:])
    assert np.array_equal(decode_wav_pcm(patched)[2], expect)

    with pytest.raises(ValueError):
        decode_wav_pcm(b"RIFX" + wav[4:])
    with pytest.raises(ValueError):
        decode_wav_pcm(wav[:20])          # truncated chunk list
    # format code 3 (float PCM) → honest gate
    fmt_off = wav.index(b"fmt ") + 8
    float_fmt = wav[:fmt_off] + struct.pack("<H", 3) + wav[fmt_off + 2:]
    with pytest.raises(NotImplementedError):
        decode_wav_pcm(float_fmt)
    # 8-bit depth → honest gate (bits field is last in fmt)
    bits_off = fmt_off + 14
    eight = wav[:bits_off] + struct.pack("<H", 8) + wav[bits_off + 2:]
    with pytest.raises(NotImplementedError):
        decode_wav_pcm(eight)


def test_audio_pcm_cap_bounds_giant_doc():
    """A giant document yields at most AUDIO_PCM_CAP samples →
    CAP/WIN windows; the kernel is bounded per row by construction."""
    from mapreduce_rust_spark.llm.multimodal import (
        AUDIO_PCM_CAP, _pack_wav_pcm, decode_wav_pcm)

    wav = _pack_wav_pcm("x" * (AUDIO_PCM_CAP * 50))
    assert len(decode_wav_pcm(wav)[2]) == AUDIO_PCM_CAP


def test_ktruss_peel_k5_and_triangle_dropped(spark):
    """K5 survives the 4-truss wholly (every edge support 3); an
    isolated triangle (support 1 < 2) is peeled in round 1; a pendant
    edge (support 0) too."""
    import pandas as pd
    from itertools import combinations

    from mapreduce_rust_spark.operators.graph import ktruss_peel

    e = list(combinations(range(1, 6), 2)) + [(6, 7), (6, 8), (7, 8),
                                              (9, 10)]
    edges = spark.createDataFrame(pd.DataFrame(e, columns=["u", "v"]))
    out = {(r.u, r.v): r.support for r in ktruss_peel(edges).collect()}
    assert set(out) == set(combinations(range(1, 6), 2))
    assert all(s == 3 for s in out.values()), out


def test_mann_kendall_closed_form_planted(spark):
    """Hand-checkable MK: strictly rising counts 1..5 on one type
    (S = C(5,2) = 10, no ties → var_num = 5·4·15 = 300,
    z = 9/sqrt(300/18)), and an all-tied type (S = 0, var_num = 0 →
    NULL z)."""
    import math

    import pandas as pd

    from mapreduce_rust_spark.operators.monitoring import mk_closed_form

    rows = [("up", f"2024-01-0{i}", i) for i in range(1, 6)]
    rows += [("flat", f"2024-01-0{i}", 7) for i in range(1, 5)]
    daily = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_type", "d", "c"]))
    out = {r.event_type: r for r in mk_closed_form(daily).collect()}
    up = out["up"]
    assert (up.n_days, up.s_stat, up.var_num) == (5, 10, 300)
    assert abs(up.z - 9 / math.sqrt(300 / 18)) < 1e-15
    flat = out["flat"]
    # 4 tied values: S = 0; var_num = 4·3·13 − 4·3·13 = 0 → NULL z
    assert (flat.s_stat, flat.var_num, flat.z) == (0, 0, None)


def test_srm_closed_form_planted(spark):
    """60/40 on n=100 → χ² = 20²/100 = 4.0 > 3.841 → flagged;
    51/49 → 0.04 → clean."""
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import srm_closed_form

    cells = spark.createDataFrame(pd.DataFrame(
        [("bad", True, 60), ("bad", False, 40),
         ("ok", True, 51), ("ok", False, 49)],
        columns=["event_type", "treat", "c"]))
    out = {r.event_type: r for r in srm_closed_form(cells).collect()}
    assert out["bad"].chi2 == 4.0 and out["bad"].srm_flag
    assert abs(out["ok"].chi2 - 0.04) < 1e-12 and not out["ok"].srm_flag


def test_good_turing_planted(spark, tmp_path):
    """Corpus 'a a a b b c' → N₁=1 (c), N₂=1 (b), N₃=1 (a), N=6:
    r*=ppm for r=1 is 2·N₂/N₁ = 2e6; r=2 → 3·N₃/N₂ = 3e6; r=3 →
    NULL (N₄=0); p₀ = N₁/N = 1/6 → 166666 ppm."""
    import pandas as pd

    from mapreduce_rust_spark.llm.textanalysis import good_turing_counts_docs

    pd.DataFrame({"doc_id": [1], "source": ["s"],
                  "text": ["a a a b b c"]}).to_parquet(
        tmp_path / "documents.parquet")
    out = {r.r: r for r in
           good_turing_counts_docs(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].rstar_ppm == 2_000_000
    assert out[2].rstar_ppm == 3_000_000
    assert out[3].rstar_ppm is None and out[3].n_next == 0
    assert all(r.p0_ppm == 166_666 for r in out.values())


def test_linkpred_ra_discounts_hubs(spark):
    """RA must rank a candidate sharing a LOW-degree neighbor above
    one sharing only a HUB, where raw common-neighbor count ties.
    Graph: seed 0 — n1 (deg 2: 0, c1) and hub h (deg 5: 0, c1, c2,
    x1, x2). c1 shares {n1, h}, c2 shares {h} only; both are
    non-adjacent to 0."""
    import pandas as pd

    from mapreduce_rust_spark.operators.graph import (
        RA_GRID, linkpred_resource_allocation)
    from mapreduce_rust_spark.operators import graph as G
    from mapreduce_rust_spark.tables import load_table  # noqa: F401

    # drive the registered op's core on a planted edge list by
    # monkey-free direct composition: rebuild its plan pieces
    e = [(0, 1), (1, 101), (0, 9), (9, 101), (9, 102), (9, 201),
         (9, 202)]
    edges = spark.createDataFrame(pd.DataFrame(e, columns=["u", "v"]))
    adj = G._bidir_adjacency(edges)
    from pyspark.sql import functions as F
    deg = adj.groupBy("a").agg(F.count("*").alias("d"))
    ns = (adj.where(F.col("a") == 0)
          .select(F.col("a").alias("seed"), F.col("b").alias("v")))
    nsd = ns.join(deg.select(F.col("a").alias("v"), "d"), "v")
    wedges = (nsd.join(adj.select(F.col("a").alias("v"),
                                  F.col("b").alias("cand")), "v")
              .where(F.col("cand") != F.col("seed")))
    scored = (wedges.groupBy("seed", "cand")
              .agg(F.sum(F.expr(f"{RA_GRID} DIV d")).alias("ra_num")))
    open_pairs = scored.join(
        ns.select("seed", F.col("v").alias("cand")),
        ["seed", "cand"], "left_anti")
    out = {r.cand: r.ra_num for r in open_pairs.collect()}
    # c1 = 101: via n1 (deg 2) + hub (deg 5); c2 = 102: via hub only
    assert out[101] == RA_GRID // 2 + RA_GRID // 5
    assert out[102] == RA_GRID // 5
    assert out[101] > out[102]


def test_weco_rules_fire_on_planted_series(spark):
    """The fixture is stationary (no rule fires — the oracle only
    proves the quiet path), so plant a series firing each rule.
    Series: 19 days at 100 with hand-placed excursions. μ and σ are
    computed from the series itself, so flags are checked against an
    independent numpy reimplementation of the textbook rules rather
    than hand arithmetic."""
    import numpy as np
    import pandas as pd

    from mapreduce_rust_spark.operators.monitoring import weco_closed_form

    # a single series cannot fire all four rules — the rule-1 spike
    # inflates its own sigma past what rules 2/3 need (max |z| of one
    # outlier among n constants is sqrt(n-1)) — so plant two types:
    # A = constant run + one huge spike (rules 1, 4); B = moderate
    # two-point and four-point excursions (rules 2, 3).
    series = {
        "A": [100] * 11 + [800] + [100] * 8,
        "B": [105, 105, 150, 150, 122, 125, 118, 118, 95, 95, 95, 95,
              105, 105],
    }
    rows = [(t, f"2024-02-{i + 1:02d}", x)
            for t, c in series.items() for i, x in enumerate(c)]
    daily = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_type", "d", "c"]))
    out = {(r.event_type, r.d): r
           for r in weco_closed_form(daily).collect()}

    def expected(c):
        a = np.array(c, dtype=np.int64)
        n, s, q = len(a), a.sum(), (a * a).sum()
        dev = n * a - s
        v = n * q - s * s
        b = {k: dev.astype(object) ** 2 > k * k * v for k in (1, 2, 3)}
        pos, neg = dev > 0, dev < 0

        def run(flags, side, w, need):
            f = flags & side
            return np.array([f[max(0, i - w + 1):i + 1].sum() >= need
                             and f[i] for i in range(n)])

        return (b[3],
                run(b[2], pos, 3, 2) | run(b[2], neg, 3, 2),
                run(b[1], pos, 5, 4) | run(b[1], neg, 5, 4),
                run(np.ones(n, bool), pos, 8, 8)
                | run(np.ones(n, bool), neg, 8, 8))

    fired = [False] * 4
    for t, c in series.items():
        exp = expected(c)
        for i in range(len(c)):
            r = out[(t, f"2024-02-{i + 1:02d}")]
            got = (r.rule1, r.rule2, r.rule3, r.rule4)
            assert got == tuple(bool(e[i]) for e in exp), (t, i, r)
        fired = [f or e.any() for f, e in zip(fired, exp)]
    # the plant actually exercises every rule's TRUE branch
    assert all(fired), fired


def test_kruskal_wallis_separated_groups(spark, tmp_path):
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import (
        kruskal_wallis_events)

    rows = [{"event_type": g, "value": v / 100.0, "user_id": i}
            for i, (g, v) in enumerate(
                [("a", 1), ("a", 2), ("a", 3),
                 ("b", 4), ("b", 5), ("b", 6),
                 ("c", 7), ("c", 8), ("c", 9)])]
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")
    r = kruskal_wallis_events(spark, str(tmp_path)).collect()[0]
    # no ties: ranks 1..9, R = (6, 15, 24) -> H = 7.2 exactly
    assert (r.n, r.k, r.tie_c3) == (9, 3, 0)
    assert r.h_ppm == 7_200_000
    assert r.h_adj_ppm == 7_200_000


def test_kruskal_wallis_tie_correction(spark, tmp_path):
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import (
        kruskal_wallis_events)

    rows = [{"event_type": g, "value": v / 100.0, "user_id": i}
            for i, (g, v) in enumerate(
                [("a", 1), ("a", 1), ("b", 2), ("b", 2)])]
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")
    r = kruskal_wallis_events(spark, str(tmp_path)).collect()[0]
    # midranks (1.5, 1.5, 3.5, 3.5): H = 2.4; ct3 = 12 of max 60
    # -> correction 0.8 lifts H_adj to exactly 3.0
    assert (r.n, r.k, r.tie_c3) == (4, 2, 12)
    assert r.h_ppm == 2_400_000
    assert r.h_adj_ppm == 3_000_000


def test_brown_forsythe_planted_exact(spark, tmp_path):
    """Planted dispersion shift: treat arm {0, 0, 10, 10} cents vs a
    constant control arm — per-arm medians 0 and 5, W = 3.0 exactly
    through the two-step floor-DIV chain."""
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import (
        brown_forsythe_events)

    rows = ([{"user_id": 1, "value": 0.00} for _ in range(2)]
            + [{"user_id": 1, "value": 0.10} for _ in range(2)]
            + [{"user_id": 2, "value": 0.05} for _ in range(4)])
    for i, r in enumerate(rows):
        r["event_type"] = "x"
        r["ts"] = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i)
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")
    r = brown_forsythe_events(spark, str(tmp_path)).collect()[0]
    assert (r.n_treat, r.n_ctrl) == (4, 4)
    assert (r.med_t, r.med_c) == (0, 5)
    assert (r.absdev_sum_t, r.absdev_sum_c) == (20, 0)
    assert r.w_ppm == 3_000_000


def test_spearman_perfect_monotone_and_inverse(spark, tmp_path):
    """Perfectly monotone per-user (count, spend) profile must give
    rho_sign = +1 with rho2_ppm = 1_000_000 exactly; inverting the
    spend flips the sign but keeps |rho| = 1."""
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import (
        spearman_corr_events)

    def mk(spend_for_user):
        rows = []
        for u in (1, 2, 3):
            for j in range(u):   # user u has u events
                rows.append({"user_id": u, "event_type": "x",
                             "value": spend_for_user(u) / u})
        return pd.DataFrame(rows)

    mk(lambda u: u * 100.0).to_parquet(tmp_path / "events.parquet")
    r = spearman_corr_events(spark, str(tmp_path)).collect()[0]
    assert r.n_users == 3
    assert r.rho_sign == 1
    assert r.rho2_ppm == 1_000_000

    mk(lambda u: (4 - u) * 100.0).to_parquet(
        tmp_path / "events.parquet")
    r = spearman_corr_events(spark, str(tmp_path)).collect()[0]
    assert r.rho_sign == -1
    assert r.rho2_ppm == 1_000_000


def test_contribution_cap_first_k_kept(spark, tmp_path):
    """Planted hot user-day: 5 events must cap to the FIRST 3 in
    (ts, event_id) order — the capped sum keeps the earliest values,
    and drop_ppm is the exact integer DIV."""
    import pandas as pd

    from mapreduce_rust_spark.operators.dataquality import (
        contribution_cap_events)

    rows = [{"user_id": 1, "event_id": i, "event_type": "x",
             "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i),
             "value": (i + 1) * 1.0}
            for i in range(5)]
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")
    r = contribution_cap_events(spark, str(tmp_path)).collect()[0]
    assert (r.n_raw, r.n_capped) == (5, 3)
    assert r.sum_vc_raw == 1500
    assert r.sum_vc_capped == 600          # first three: 100+200+300
    assert r.drop_ppm == 2 * 1_000_000 // 5


def test_rrf_fusion_invariants(spark):
    """RRF output on the fixture: the ppb contribution of each rank
    recomputes exactly from the rank columns (sentinel 0 = absent
    from that ranker's pool, contributes nothing), fused_rank follows
    (rrf_ppb DESC, doc_id), and the dense query doc is excluded."""
    from mapreduce_rust_spark.llm.similarity import (
        RRF_K, RRF_QVEC, rrf_hybrid_search)

    rows = rrf_hybrid_search(spark, "/root/testdata/sf0.001").collect()
    assert rows, "fused list must be non-empty"
    assert all(r.doc_id != RRF_QVEC for r in rows)
    for r in rows:
        want = sum(1_000_000_000 // (RRF_K + rank)
                   for rank in (r.rank_sparse, r.rank_dense) if rank > 0)
        assert r.rrf_ppb == want
    order = sorted(rows, key=lambda r: (-r.rrf_ppb, r.doc_id))
    assert [r.doc_id for r in order] == [
        r.doc_id for r in sorted(rows, key=lambda r: r.fused_rank)]
    # hybrid premise: at least one result reached the fused list
    # through BOTH rankers' pools on the fixture
    assert any(r.rank_sparse > 0 and r.rank_dense > 0 for r in rows)


def test_pettitt_planted_step_change(spark):
    """Hand-computed Pettitt on a planted step: counts (1,1,1,9,9,9)
    over six days. Doubled midranks: 4 for the 1s, 10 for the 9s;
    U_t = ΣR2(≤t) − 7t = (−3, −6, −9, −6, −3) → K = 9 at the step
    boundary day 3 with U = −9. An all-tied series must give K = 0
    (no changepoint signal) at the earliest interior day."""
    import pandas as pd

    from mapreduce_rust_spark.operators.monitoring import (
        pettitt_closed_form)

    rows = [("step", f"2024-01-0{i}", c)
            for i, c in zip(range(1, 7), [1, 1, 1, 9, 9, 9])]
    rows += [("flat", f"2024-01-0{i}", 7) for i in range(1, 5)]
    daily = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_type", "d", "c"]))
    out = {r.event_type: r for r in pettitt_closed_form(daily).collect()}
    step = out["step"]
    assert (step.n_days, step.k_stat) == (6, 9)
    assert step.t_star == "2024-01-03"
    assert step.u_at_t == -9
    flat = out["flat"]
    assert (flat.k_stat, flat.t_star) == (0, "2024-01-01")


def test_image_dhash_neardup_planted(spark, tmp_path):
    """Planted perceptual near-dups: a strip, a 1-gradient retouch of
    it (hamming 1 — caught), an unrelated strip (not paired), and an
    exact COPY of the base (collapsed to the representative before
    pairing — the c² discipline, so the copy appears in NO pair)."""
    import pandas as pd

    from mapreduce_rust_spark.llm.multimodal import (
        DHASH_MIN_LEN, image_dhash_neardup)

    base = ("ab" * 200)[:DHASH_MIN_LEN + 20]
    # dim ONE pixel below its neighbors inside the sampled 7x8
    # window (row 1, col 3 -> byte index 32+3 = 35, 0-based): flips
    # the two gradients that touch it -> hamming 2
    retouch = base[:35] + chr(ord(base[35]) - 4) + base[36:]
    other = ("zq9 x" * 100)[:DHASH_MIN_LEN + 20]
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [base, retouch, other, base],
        "source": ["s"] * 4, "lang": ["en"] * 4,
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in image_dhash_neardup(spark, str(tmp_path)).collect()}
    assert set(pairs) == {(1, 2)}, pairs
    assert 1 <= pairs[(1, 2)] <= 2


def test_ca_trend_planted_exact(spark, tmp_path):
    """Hand-computed Cochran–Armitage on a planted dose response:
    daypart 0 converts 1/10, daypart 3 converts 9/10 — T·N = 240,
    Var-denominator 90000, z² = 12.8 exactly (12_800_000 ppm),
    positive trend."""
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import ca_trend_events

    rows = []
    for i in range(10):
        rows.append({"user_id": i, "event_type":
                     "purchase" if i < 1 else "view",
                     "ts": pd.Timestamp(f"2024-01-01 03:{i:02d}:00"),
                     "value": 1.0})
    for i in range(10):
        rows.append({"user_id": i, "event_type":
                     "purchase" if i < 9 else "view",
                     "ts": pd.Timestamp(f"2024-01-01 21:{i:02d}:00"),
                     "value": 1.0})
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")
    r = ca_trend_events(spark, str(tmp_path)).collect()[0]
    assert (r.n, r.successes) == (20, 10)
    assert r.t_n == 240
    assert r.trend_sign == 1
    assert r.z2_ppm == 12_800_000


def test_embedding_drift_symmetric_planted(spark, tmp_path):
    """Two sources at mirrored centroids (+e₀ / −e₀): the global
    centroid is the origin, both sources drift identically
    ((20000·4)·1000 DIV 8 = 10⁷ milli-grid per dim, squared once),
    and the rank tie breaks on source name."""
    import pandas as pd

    from mapreduce_rust_spark.llm.similarity import (
        embedding_drift_sources)

    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "source": ["a", "a", "b", "b"],
        "text": ["x"] * 4, "lang": ["en"] * 4,
    })
    emb = pd.DataFrame({
        "vec_id": [0, 1, 2, 3],
        "embedding": [[1.0, 0.0], [1.0, 0.0], [-1.0, 0.0], [-1.0, 0.0]],
        "label": [0, 0, 1, 1],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    emb.to_parquet(tmp_path / "embeddings.parquet")
    out = {r.source: r
           for r in embedding_drift_sources(spark, str(tmp_path)).collect()}
    assert out["a"].shift_mgrid2 == out["b"].shift_mgrid2 == 10_000_000 ** 2
    assert out["a"].drift_rank == 1 and out["b"].drift_rank == 2


def test_seasonal_kendall_cycle_proof_planted(spark):
    """The scenario the seasonal test exists for: a strong weekly
    cycle (weekday base levels differing by hundreds) with a small
    +1/week trend. Within each weekday season the two observations
    rise → S = +7 over 7 seasons, Var = 7·(2·1·9) = 126, z =
    (7−1)/sqrt(126/18) exactly — the cycle contributes NOTHING
    because cross-season pairs are never compared."""
    import math

    import pandas as pd

    from mapreduce_rust_spark.operators.monitoring import sk_closed_form
    from pyspark.sql import functions as F

    base = {0: 100, 1: 300, 2: 50, 3: 700, 4: 20, 5: 900, 6: 400}
    rows = []
    for day in range(14):
        d = pd.Timestamp("2024-01-01") + pd.Timedelta(days=day)
        rows.append(("x", d.date().isoformat(),
                     base[d.dayofweek] + day // 7))
    daily = (spark.createDataFrame(
                pd.DataFrame(rows, columns=["event_type", "d", "c"]))
             .select("event_type", F.to_date("d").alias("d"),
                     F.col("c").cast("long").alias("c")))
    r = sk_closed_form(daily).collect()[0]
    assert (r.n_seasons, r.s_stat, r.var_num) == (7, 7, 126)
    assert abs(r.z - 6 / math.sqrt(126 / 18)) < 1e-15


def test_video_scene_cuts_planted(spark, tmp_path):
    """Planted shot boundary: a 64-char container has 4 frames, the
    stride keeps i = 0 and 3; frame 3's source byte (index 21) drops
    'a'(97) → 'A'(65), an exact delta of 32 = the cut threshold. A
    constant container of the same shape reports 0 cuts."""
    import pandas as pd

    from mapreduce_rust_spark.llm.multimodal import (
        VIDEO_CUT_THRESH, video_scene_cuts)

    assert VIDEO_CUT_THRESH == 32
    cut_doc = "a" * 21 + "A" + "a" * 42
    flat_doc = "b" * 64
    docs = pd.DataFrame({
        "doc_id": [1, 2],
        "text": [cut_doc, flat_doc],
        "source": ["s", "s"], "lang": ["en", "en"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    out = {r.doc_id: r
           for r in video_scene_cuts(spark, str(tmp_path)).collect()}
    assert (out[1].n_frames, out[1].n_cuts, out[1].max_delta) == (2, 1, 32)
    assert (out[2].n_frames, out[2].n_cuts, out[2].max_delta) == (2, 0, 0)


# --- independent-reference parity for the round-9 statistics --------
# The DuckDB oracles MIRROR each op's integer chain, so a formula
# error would pass both engines; these references recompute the
# textbook float definitions from scratch (midranks, medians, pair
# signs) and pin the ppm outputs within the documented floor-DIV
# slack.


def _midranks(vals):
    from collections import Counter
    cnt = Counter(vals)
    out, below = {}, 0
    for v in sorted(cnt):
        out[v] = below + (cnt[v] + 1) / 2
        below += cnt[v]
    return out, cnt


def test_kruskal_wallis_matches_float_reference(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import (
        kruskal_wallis_events)

    rng = np.random.RandomState(7)
    rows = []
    for g, shift in [("a", 0), ("b", 3), ("c", 10)]:
        for v in rng.randint(0, 40, size=25) + shift:
            rows.append({"event_type": g, "value": int(v) / 100.0,
                         "user_id": 1})
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")
    r = kruskal_wallis_events(spark, str(tmp_path)).collect()[0]

    groups = {}
    for row in rows:
        groups.setdefault(row["event_type"], []).append(
            round(row["value"] * 100))
    ranks, cnt = _midranks([v for vs in groups.values() for v in vs])
    n = sum(len(vs) for vs in groups.values())
    h = (12 / (n * (n + 1))
         * sum(sum(ranks[v] for v in vs) ** 2 / len(vs)
               for vs in groups.values()) - 3 * (n + 1))
    ct3 = sum(c ** 3 - c for c in cnt.values())
    h_adj = h / (1 - ct3 / (n ** 3 - n))
    assert r.tie_c3 == ct3
    # documented floor-DIV slack: ssum floors once per group, worth
    # up to 3e6*k/(N(N+1)) ppm (plus the final DIV's 1)
    slack = 3_000_000 * len(groups) / (n * (n + 1)) + 2
    assert abs(r.h_ppm - 1_000_000 * h) <= slack
    assert abs(r.h_adj_ppm - 1_000_000 * h_adj) <= slack * 1.25


def test_brown_forsythe_matches_float_reference(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import (
        brown_forsythe_events)

    rng = np.random.RandomState(11)
    rows = []
    for uid, scale in [(1, 10), (2, 40)]:   # odd uid = treat
        for i, v in enumerate(rng.randint(0, scale, size=30) + 50):
            rows.append({"user_id": uid, "event_type": "x",
                         "ts": pd.Timestamp("2024-01-02")
                         + pd.Timedelta(minutes=i),
                         "value": int(v) / 100.0})
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")
    r = brown_forsythe_events(spark, str(tmp_path)).collect()[0]

    arms = {True: [], False: []}
    for row in rows:
        arms[row["user_id"] % 2 == 1].append(round(row["value"] * 100))
    def nearest_rank_median(xs):
        xs = sorted(xs)
        return xs[(len(xs) + 1) // 2 - 1]
    z = {a: [abs(x - nearest_rank_median(xs)) for x in xs]
         for a, xs in arms.items()}
    zt, zc = z[True], z[False]
    nt, nc, n = len(zt), len(zc), len(zt) + len(zc)
    mt, mc = sum(zt) / nt, sum(zc) / nc
    num = (n - 2) * (nt * nc / n) * (mt - mc) ** 2
    den = (sum((x - mt) ** 2 for x in zt)
           + sum((x - mc) ** 2 for x in zc))
    w = num / den
    assert r.med_t == nearest_rank_median(arms[True])
    assert r.med_c == nearest_rank_median(arms[False])
    assert abs(r.w_ppm - 1_000_000 * w) <= 5
    assert r.w_ppm > 2_000_000, "planted variance shift must be seen"


def test_spearman_matches_float_reference(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import (
        spearman_corr_events)

    rng = np.random.RandomState(23)
    rows = []
    for uid in range(40):
        k = int(rng.randint(1, 6))
        for _ in range(k):
            # spend loosely tracks activity, with noise and ties
            rows.append({"user_id": uid, "event_type": "x",
                         "value": float(int(rng.randint(0, 8)) + k)})
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")
    r = spearman_corr_events(spark, str(tmp_path)).collect()[0]

    per = {}
    for row in rows:
        x, y = per.setdefault(row["user_id"], [0, 0])
        per[row["user_id"]] = [x + 1, y + round(row["value"] * 100)]
    xs = [v[0] for v in per.values()]
    ys = [v[1] for v in per.values()]
    rx, _ = _midranks(xs)
    ry, _ = _midranks(ys)
    a = [rx[x] for x in xs]
    b = [ry[y] for y in ys]
    n = len(a)
    ma, mb = sum(a) / n, sum(b) / n
    cov = sum((u - ma) * (v - mb) for u, v in zip(a, b))
    va = sum((u - ma) ** 2 for u in a)
    vb = sum((v - mb) ** 2 for v in b)
    rho = cov / (va * vb) ** 0.5
    assert r.n_users == n
    assert r.rho_sign == (1 if rho > 0 else -1 if rho < 0 else 0)
    assert abs(r.rho2_ppm - 1_000_000 * rho * rho) <= 5


def test_pettitt_matches_bruteforce_reference(spark):
    import numpy as np
    import pandas as pd

    from mapreduce_rust_spark.operators.monitoring import (
        pettitt_closed_form)

    rng = np.random.RandomState(3)
    vals = [int(v) for v in rng.randint(0, 6, size=12)] + [
        int(v) for v in rng.randint(4, 12, size=10)]
    rows = [("x", (pd.Timestamp("2024-01-01")
                   + pd.Timedelta(days=i)).date().isoformat(), int(c))
            for i, c in enumerate(vals)]
    from pyspark.sql import functions as F
    daily = (spark.createDataFrame(
                pd.DataFrame(rows, columns=["event_type", "d", "c"]))
             .select("event_type", F.to_date("d").alias("d"),
                     F.col("c").cast("long").alias("c")))
    r = pettitt_closed_form(daily).collect()[0]

    n = len(vals)
    def sgn(x): return (x > 0) - (x < 0)
    u = [sum(sgn(vals[i] - vals[j])
             for i in range(t + 1) for j in range(t + 1, n))
         for t in range(n - 1)]
    k = max(abs(x) for x in u)
    t_star = min(t for t, x in enumerate(u) if abs(x) == k)
    assert r.n_days == n
    assert r.k_stat == k
    assert r.u_at_t == u[t_star]
    assert r.t_star == (pd.Timestamp("2024-01-01")
                        + pd.Timedelta(days=t_star)).date().isoformat()


def test_ca_trend_matches_float_reference(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import ca_trend_events

    rng = np.random.RandomState(5)
    rows = []
    for w, p in enumerate([0.1, 0.2, 0.25, 0.4]):
        for i in range(50):
            rows.append({"user_id": i, "event_type":
                         "purchase" if rng.rand() < p else "view",
                         "ts": pd.Timestamp(
                             f"2024-01-01 {w * 6 + 2:02d}:00:00")
                         + pd.Timedelta(seconds=i),
                         "value": 1.0})
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")
    r = ca_trend_events(spark, str(tmp_path)).collect()[0]

    cells = {}
    for row in rows:
        w = row["ts"].hour // 6
        n, s = cells.setdefault(w, [0, 0])
        cells[w] = [n + 1, s + (row["event_type"] == "purchase")]
    n = sum(v[0] for v in cells.values())
    rr = sum(v[1] for v in cells.values())
    t = sum(w * (v[1] - v[0] * rr / n) for w, v in cells.items())
    pbar = rr / n
    var = pbar * (1 - pbar) * (
        sum(w * w * v[0] for w, v in cells.items())
        - sum(w * v[0] for w, v in cells.items()) ** 2 / n)
    z2 = t * t / var
    assert (r.n, r.successes) == (n, rr)
    assert r.trend_sign == (1 if t > 0 else -1)
    assert abs(r.z2_ppm - 1_000_000 * z2) <= 5


def test_image_dhash_hot_bucket_cap(spark, tmp_path):
    """The templated-corpus worst case: 100 distinct docs sharing
    their first ~210 chars have IDENTICAL dHashes (the hash window is
    the first ~200 bytes), which would put all of them in every band
    bucket — an O(n²) pair blowup. The bucket cap drops those buckets
    (boilerplate-prefix mass is the normalized/exact pass's job), so
    the output contains ONLY the genuinely distinctive planted
    retouch pair."""
    import pandas as pd

    from mapreduce_rust_spark.llm.multimodal import (
        DHASH_BUCKET_CAP, DHASH_MIN_LEN, image_dhash_neardup)

    # constant prefix -> all-zero gradients, a DIFFERENT bucket family
    # than the planted alternating-gradient pair below
    prefix = "q" * (DHASH_MIN_LEN + 8)
    boiler = [{"doc_id": 100 + i, "text": prefix + f" tail {i}",
               "source": "s", "lang": "en"}
              for i in range(DHASH_BUCKET_CAP + 36)]
    base = ("ab" * 200)[:DHASH_MIN_LEN + 20]
    retouch = base[:35] + chr(ord(base[35]) - 4) + base[36:]
    docs = pd.DataFrame(boiler + [
        {"doc_id": 1, "text": base, "source": "s", "lang": "en"},
        {"doc_id": 2, "text": retouch, "source": "s", "lang": "en"},
    ])
    docs.to_parquet(tmp_path / "documents.parquet")
    pairs = {(r.doc_a, r.doc_b)
             for r in image_dhash_neardup(spark, str(tmp_path)).collect()}
    assert pairs == {(1, 2)}, pairs


def test_rank_statistics_degenerate_inputs_null_not_error(spark, tmp_path):
    """Degenerate corpora must yield NULL statistics in BOTH engines,
    never a division error: an all-tied corpus zeroes KW's tie
    divisor AND Brown–Forsythe's within-arm deviations AND Spearman's
    rank variances; a zero-success log zeroes the CA variance."""
    import duckdb as _duck
    import pandas as pd

    from mapreduce_rust_spark.operators.experiment import (
        BROWN_FORSYTHE_ORACLE, CA_TREND_ORACLE, KRUSKAL_WALLIS_ORACLE,
        SPEARMAN_ORACLE, brown_forsythe_events, ca_trend_events,
        kruskal_wallis_events, spearman_corr_events)

    rows = [{"user_id": u, "event_type": "view",
             "ts": pd.Timestamp("2024-01-01 01:00:00")
             + pd.Timedelta(minutes=i), "value": 5.0}
            for i, u in enumerate([1, 1, 2, 2, 3, 3])]
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")

    kw = kruskal_wallis_events(spark, str(tmp_path)).collect()[0]
    assert kw.h_ppm == 0 and kw.h_adj_ppm is None
    bf = brown_forsythe_events(spark, str(tmp_path)).collect()[0]
    assert bf.w_ppm is None
    sp = spearman_corr_events(spark, str(tmp_path)).collect()[0]
    # every user has 2 events: x constant -> vx = 0 -> undefined
    assert sp.rho2_ppm is None and sp.rho_sign == 0
    ca = ca_trend_events(spark, str(tmp_path)).collect()[0]
    assert ca.successes == 0 and ca.z2_ppm is None

    con = _duck.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet')")
    assert pd.isna(con.execute(KRUSKAL_WALLIS_ORACLE)
                   .fetchdf()["h_adj_ppm"][0])
    assert pd.isna(con.execute(BROWN_FORSYTHE_ORACLE)
                   .fetchdf()["w_ppm"][0])
    assert pd.isna(con.execute(SPEARMAN_ORACLE)
                   .fetchdf()["rho2_ppm"][0])
    assert pd.isna(con.execute(CA_TREND_ORACLE).fetchdf()["z2_ppm"][0])


def test_zipf_fit_planted_perfect_vs_skewed(spark, tmp_path):
    """A source whose head counts are exactly Zipf-proportional
    (12, 6, 4 ∝ 1, 1/2, 1/3) fits with chi2_milli = 0 (the cleared
    residuals are single digits, floored away by design); a
    stuffed source (20, 1, 1 — one keyword dominating) deviates
    by thousands of milli units."""
    import pandas as pd

    from mapreduce_rust_spark.llm.textanalysis import zipf_fit_sources

    zipfy = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4)
    stuffed = " ".join(["a"] * 20 + ["b"] * 1 + ["c"] * 1)
    docs = pd.DataFrame({
        "doc_id": [1, 2],
        "source": ["zipfy", "stuffed"],
        "text": [zipfy, stuffed], "lang": ["en", "en"],
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    out = {r.source: r
           for r in zipf_fit_sources(spark, str(tmp_path)).collect()}
    assert (out["zipfy"].top_r, out["zipfy"].t_mass) == (3, 22)
    assert out["zipfy"].chi2_milli == 0
    assert out["stuffed"].chi2_milli > 5_000
