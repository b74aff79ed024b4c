"""Round-3 additions: triangle counting and iterative BPE training.

Triangle counting is oracle-checked at sf0.01 (test_oracle_parity);
here the degree-orientation scheme is pinned against brute force on
random graphs, since the fixture exercises only one graph shape. BPE
has no SQL oracle, so the full merge-learning loop is pinned against
a pure-Python reference implementation of Sennrich-style BPE.
"""

from __future__ import annotations

import itertools

import pytest
import random
from collections import Counter

from pyspark.sql import functions as F


# --- triangle counting -------------------------------------------------

def _brute_triangles(edge_set):
    nodes = sorted({n for e in edge_set for n in e})
    return sum(1 for a, b, c in itertools.combinations(nodes, 3)
               if (a, b) in edge_set and (b, c) in edge_set
               and (a, c) in edge_set)


@pytest.mark.heavy
def test_triangle_count_matches_bruteforce_on_random_graphs(spark):
    from mapreduce_rust_spark.operators.graph import triangle_count
    rng = random.Random(7)
    for trial, (n, p) in enumerate([(12, 0.5), (20, 0.3), (30, 0.15),
                                    (15, 0.9)]):
        edges = sorted({(u, v) for u in range(n) for v in range(u + 1, n)
                        if rng.random() < p})
        want = _brute_triangles(set(edges))
        df = spark.createDataFrame(edges, ["u", "v"])
        # both physical paths must agree with brute force: wedge join
        # (no n_edges -> above-gate) and adjacency intersection
        # (n_edges below the gate -> broadcast fast path)
        got = triangle_count(df).collect()[0]["n_triangles"]
        assert got == want, f"trial {trial}: got {got}, want {want}"
        fast = triangle_count(df, n_edges=len(edges)) \
            .collect()[0]["n_triangles"]
        assert fast == want, f"trial {trial} fast path: {fast} != {want}"


def test_triangle_count_star_graph_has_none(spark):
    """A star (the worst skew case the degree orientation exists for):
    hub 0 connected to 1..200 — zero triangles, and the oriented
    wedge set must be empty (leaves have degree 1, so every edge
    points leaf -> hub; no node has out-degree 2)."""
    from mapreduce_rust_spark.operators.graph import triangle_count
    edges = [(0, v) for v in range(1, 201)]
    df = spark.createDataFrame(edges, ["u", "v"])
    assert triangle_count(df).collect()[0]["n_triangles"] == 0


# --- BPE training ------------------------------------------------------

def _bpe_reference(word_freqs: dict[str, int], n_merges: int):
    """Pure-Python Sennrich-style BPE: count adjacent symbol pairs
    weighted by word freq, merge the argmax (ties: lexicographic on
    (left, right)) greedily left-to-right non-overlapping."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for step in range(1, n_merges + 1):
        counts = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = l + r
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(merged); i += 2
                else:
                    out.append(syms[i]); i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
        merges.append((step, l, r, merged, c))
    return merges


def _train_spark(spark, word_freqs, n_merges):
    from mapreduce_rust_spark.llm.bpe import bpe_train
    words = spark.createDataFrame(list(word_freqs.items()), ["w", "freq"])
    return bpe_train(words, n_merges)


def test_bpe_train_matches_reference(spark):
    corpus = {"low": 5, "lower": 2, "newest": 6, "widest": 3,
              "newer": 4, "wide": 2, "lowest": 1}
    want = _bpe_reference(corpus, 6)
    got = _train_spark(spark, corpus, 6)
    assert got == want
    assert len(got) == 6 and got[0][0] == 1


def test_bpe_greedy_nonoverlapping_merge(spark):
    """'aaaa' x1: pair (a,a) has count 3 (overlapping pairs all count),
    but the merge applies left-to-right non-overlapping -> [aa, aa],
    so step 2 merges (aa, aa)."""
    corpus = {"aaaa": 1}
    want = _bpe_reference(corpus, 2)
    got = _train_spark(spark, corpus, 2)
    assert got == want
    assert got[0] == (1, "a", "a", "aa", 3)
    assert got[1] == (2, "aa", "aa", "aaaa", 1)


def test_bpe_exhausts_gracefully(spark):
    """Single-char words: nothing to merge; loop ends early, empty
    merge table, no error."""
    assert _train_spark(spark, {"a": 3, "b": 2}, 4) == []


def test_bpe_random_corpora_property(spark):
    rng = random.Random(11)
    for _ in range(3):
        words = {"".join(rng.choice("abc") for _ in range(rng.randint(1, 6))): rng.randint(1, 9)
                 for _ in range(12)}
        assert _train_spark(spark, words, 5) == _bpe_reference(words, 5)
    # two-letter words up to 12 symbols: self-pairs (a,a), repeated
    # occurrences in one word, index entries left stale by an earlier
    # merge, and a budget the vocabulary exhausts before it is spent
    exhausted = False
    for _ in range(3):
        words = {"".join(rng.choice("ab") for _ in range(rng.randint(1, 12))): rng.randint(1, 9)
                 for _ in range(8)}
        want = _bpe_reference(words, 40)
        exhausted |= len(want) < 40
        assert _train_spark(spark, words, 40) == want
    assert exhausted


def test_bpe_incremental_trainer_matches_reference():
    """The trainer kernel's incremental pair index, without Spark, on
    many small corpora over 1-4 letter alphabets."""
    from mapreduce_rust_spark.llm.bpe import _learn_merges
    rng = random.Random(5)
    for _ in range(300):
        alphabet = rng.choice(["a", "ab", "abc", "abcd"])
        words = {"".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12))): rng.randint(1, 9)
                 for _ in range(rng.randint(0, 15))}
        n = rng.randint(0, 30)
        assert _learn_merges(words.items(), n) == _bpe_reference(words, n)


# --- snapshot diff -----------------------------------------------------

def test_snapshot_diff_classifies_all_change_kinds(spark):
    from mapreduce_rust_spark.operators.merge import snapshot_diff
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        ["k", "name", "val"])
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged
         (2, "B", 20.0),        # update (name)
         (3, "c", 0.0),         # update (NULL -> 0.0 must NOT be 'unchanged')
         (5, "e", 50.0)],       # insert; key 4 deleted
        ["k", "name", "val"])
    got = {r.k: r.change for r in snapshot_diff(old, new, "k").collect()}
    assert got == {1: "unchanged", 2: "update", 3: "update",
                   4: "delete", 5: "insert"}


def test_snapshot_diff_null_never_collides_with_any_string(spark):
    """NULL is hashed via an explicit per-column null flag, so no
    string value (in particular a would-be sentinel like '\\0') can
    hash-collide with NULL and hide a change as 'unchanged'."""
    from mapreduce_rust_spark.operators.merge import snapshot_diff
    old = spark.createDataFrame([(1, "\0"), (2, None), (3, "\0")],
                                ["k", "name"])
    new = spark.createDataFrame([(1, None), (2, "\0"), (3, "\0")],
                                ["k", "name"])
    got = {r.k: r.change for r in snapshot_diff(old, new, "k").collect()}
    assert got == {1: "update", 2: "update", 3: "unchanged"}


def _encode_reference(word: str, merges) -> int:
    """Greedy left-to-right application of the learned merges, in
    training order — subword count for one token."""
    syms = list(word)
    for _step, l, r, merged, _c in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(merged); i += 2
            else:
                out.append(syms[i]); i += 1
        syms = out
    return len(syms)


def test_bpe_encode_matches_reference(spark):
    """bpe_encode_docs' per-doc subword counts must equal applying
    the SAME learned merges with a pure-Python greedy encoder."""
    import re
    from mapreduce_rust_spark.llm.bpe import (
        N_MERGES, _word_freqs, bpe_encode_docs, bpe_train)
    from mapreduce_rust_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    merges = bpe_train(_word_freqs(spark, SF_SMOKE), N_MERGES)
    docs = {r.doc_id: r.text
            for r in load_table(spark, SF_SMOKE, "documents").collect()}
    want = {}
    for d, txt in docs.items():
        toks = [t for t in re.split(r"\s+", txt) if t]
        want[d] = (len(toks), sum(_encode_reference(t, merges)
                                  for t in toks))
    got = {r.doc_id: (r.n_tokens, r.n_subwords)
           for r in bpe_encode_docs(spark, SF_SMOKE).collect()}
    assert got == want
    # merges must actually fire on the corpus they were trained on
    assert any(ns < sum(len(t) for t in re.split(r"\s+", docs[d]) if t)
               for d, (_, ns) in got.items())


def test_ordered_pairs_matches_combinations(spark):
    """_ordered_pairs must emit exactly itertools.combinations of the
    sorted array (order preserved), including the 0/1-element edge
    cases the descending-sequence trap would break."""
    from mapreduce_rust_spark.operators.graph import _ordered_pairs
    rows = [(i, sorted(random.Random(i).sample(range(50), k)))
            for i, k in enumerate([0, 1, 2, 3, 7, 12])]
    df = spark.createDataFrame(rows, ["id", "arr"])
    got = {r.id: [(p.u, p.v) for p in r.pairs]
           for r in df.select("id", _ordered_pairs(F.col("arr"))
                              .alias("pairs")).collect()}
    for i, arr in rows:
        assert got[i] == list(itertools.combinations(arr, 2)), (i, arr)


def test_incremental_mv_drops_groups_emptied_by_deletes(spark):
    """A (priority, year) group whose base rows are ALL retracted must
    vanish from the refreshed view (n_orders would be 0), and the
    surviving groups must equal a from-scratch recompute."""
    import datetime
    import unittest.mock as mock
    from mapreduce_rust_spark.operators import merge
    from mapreduce_rust_spark.operators.merge import (
        MV_CUTOFF, MV_DELETE_MOD, incremental_mv_orders)

    cutoff = datetime.datetime.fromisoformat(MV_CUTOFF)
    before = cutoff - datetime.timedelta(days=30)
    after = cutoff + datetime.timedelta(days=30)
    rows = [
        # 'DOOMED' group: every base order key divisible by MOD, no
        # inserts -> fully retracted, must not appear
        (MV_DELETE_MOD, 1, "O", 10.0, before, "DOOMED"),
        (2 * MV_DELETE_MOD, 1, "O", 20.0, before, "DOOMED"),
        # 'KEPT' group: one survivor + one retracted + one insert
        (1, 1, "O", 100.0, before, "KEPT"),
        (3 * MV_DELETE_MOD, 1, "O", 50.0, before, "KEPT"),
        (2, 1, "O", 7.5, after, "KEPT"),
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string")
    with mock.patch.object(merge, "load_table",
                           lambda spark_, sf_, name: orders):
        got = {(r.priority, r.year): (r.n_orders, r.revenue)
               for r in incremental_mv_orders(spark, "ignored").collect()}
    # both dates fall in the cutoff's year, so KEPT merges to one row:
    # survivor (100.0) + insert (7.5), retraction (50.0) removed
    assert got == {("KEPT", cutoff.year): (2, 107.5)}, got


def test_bpe_train_merges_independent_invariants(spark):
    """Invariants that do NOT lean on the pure-Python reference the
    parity test uses (VERDICT r5 item 4): (a) merged symbol is the
    concatenation of the pair; (b) the argmax pair count is
    non-increasing across steps (a merge can only create pairs whose
    count is bounded by the merged pair's own count); (c) step 1
    must equal the top-1 row of the ORACLED, driver-proven
    ``bpe_pair_counts`` table — a cross-check against an
    independently verified artifact, not shared code."""
    from mapreduce_rust_spark.llm.bpe import bpe_train_merges
    from mapreduce_rust_spark.llm.textanalysis import bpe_pair_counts
    from tests.conftest import SF_SMOKE

    merges = bpe_train_merges(spark, SF_SMOKE).orderBy("step").collect()
    assert len(merges) >= 1
    for m in merges:
        assert m.merged == m.left + m.right
    counts = [m.pair_count for m in merges]
    assert counts == sorted(counts, reverse=True)

    top = bpe_pair_counts(spark, SF_SMOKE).first()
    assert merges[0].left + merges[0].right == top.pair
    assert merges[0].pair_count == top.pair_count


def test_bpe_train_merges_starts_no_python_task(spark):
    """The merge table is the same rows and schema as a driver-list
    ``createDataFrame``, but built on the Arrow path: its JVM lineage
    holds no ``PythonRDD``, so collecting it starts no Python task."""
    from mapreduce_rust_spark.llm.bpe import (
        MERGES_SCHEMA, N_MERGES, _word_freqs, bpe_train, bpe_train_merges)
    from tests.conftest import SF_SMOKE

    got = bpe_train_merges(spark, SF_SMOKE)
    want = spark.createDataFrame(
        bpe_train(_word_freqs(spark, SF_SMOKE), N_MERGES), MERGES_SCHEMA)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    lineage = got._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


def test_bpe_encode_roundtrip_identity_on_corpus(spark):
    """Encode→detokenize identity (VERDICT r5 item 4): applying the
    learned merges to every whitespace token of every document and
    concatenating the resulting subwords must reproduce the token
    EXACTLY — content conservation is an algebraic property of the
    encoder, checked corpus-wide with no reference implementation in
    the loop. Also pins the count identity n_subwords = Σ |enc(tok)|
    that ``bpe_encode_docs`` reports."""
    import re
    from mapreduce_rust_spark.llm.bpe import (
        N_MERGES, _encode, _word_freqs, bpe_encode_docs, bpe_train)
    from mapreduce_rust_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    merges = bpe_train(_word_freqs(spark, SF_SMOKE), N_MERGES)
    # the shared merge pass the encode kernel runs, applied per token
    per_tok = [(r.doc_id, t, _encode(t, merges))
               for r in load_table(spark, SF_SMOKE, "documents").collect()
               for t in re.split(r"\s+", r.text) if t]
    bad = sum("".join(subs) != tok for _, tok, subs in per_tok)
    assert bad == 0   # round-trip identity on EVERY token

    n_sub = Counter()
    for d, _, subs in per_tok:
        n_sub[d] += len(subs)
    got = {r.doc_id: r for r in bpe_encode_docs(spark, SF_SMOKE).collect()}
    for d, r in got.items():
        assert r.n_subwords == n_sub.get(d, 0)
        assert r.n_tokens <= r.n_subwords  # each token ≥ 1 subword


def test_pagerank_exact_tracks_float_pagerank(spark):
    """The fixed-point 3-iteration PageRank (oracle-checkable) must
    agree with the float power iteration run for the same 3 rounds on
    the same graph to within quantization error (each round truncates
    ≤ deg ulps of 1e-12 per node) — tying the hash-verified form back
    to the production float form."""
    from mapreduce_rust_spark.llm.pipeline import pagerank
    from mapreduce_rust_spark.operators.graph import (
        PR_EXACT_GRID, PR_EXACT_ITERS, copurchase_edges,
        pagerank_exact_parts)
    from mapreduce_rust_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {r.node: r.rq for r in
           pagerank_exact_parts(spark, SF_SMOKE).collect()}
    li = load_table(spark, SF_SMOKE, "lineitem")
    edges = copurchase_edges(li).select(F.col("u").alias("src"),
                                        F.col("v").alias("dst"))
    want = {r.node: r.rank for r in
            pagerank(edges, iters=PR_EXACT_ITERS).collect()}
    assert set(got) == set(want)
    # truncation loses < 1 grid ulp per incoming edge per round, and
    # an edge count is bounded by the node count on this sparse
    # fixture — slack = iters · (n_nodes + 2) grid ulps
    slack = PR_EXACT_ITERS * (len(got) + 2)
    for node, rq in got.items():
        assert abs(rq - want[node] * PR_EXACT_GRID) <= slack, node
