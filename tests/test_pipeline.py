"""Composed-pipeline operators: cluster correctness vs union-find,
curation stage accounting."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_neardup_clusters_match_union_find(spark):
    from mapreduce_rust_spark.llm.dedup import minhash_lsh_pairs
    from mapreduce_rust_spark.llm.pipeline import neardup_clusters
    pairs = [(r.doc_a, r.doc_b)
             for r in minhash_lsh_pairs(spark, SF_CORRECT).collect()]
    want = _union_find(pairs)
    got = {r.doc_id: r.rep for r in neardup_clusters(spark, SF_CORRECT).collect()}
    assert got == want
    assert any(v != k for k, v in got.items())  # non-trivial clusters exist


@pytest.mark.heavy
def test_connected_components_long_chain(spark):
    """A 200-node path graph (diameter 199) — the case a fixed
    iteration count silently gets wrong. With pointer jumping the
    chain must settle in O(log d) rounds: max_iters=12 forces the
    logarithmic behavior (plain propagation would need 199). A
    too-small max_iters must raise, not return bad reps.
    local_threshold=0 pins the DISTRIBUTED path (the small-graph
    gate would otherwise solve this driver-side)."""
    import pytest
    from mapreduce_rust_spark.llm.pipeline import connected_components
    chain = [(i, i + 1) for i in range(1000, 1199)]        # 1000-...-1199
    extra = [(200, 201), (300, 301), (301, 302)]           # small comps
    edges = spark.createDataFrame(chain + extra, ["doc_a", "doc_b"])
    got = {r.node: r.rep
           for r in connected_components(edges, max_iters=12,
                                         local_threshold=0).collect()}
    want = _union_find(chain + extra)
    assert got == want
    assert all(got[n] == 1000 for n in range(1000, 1200))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2, local_threshold=0)


def test_connected_components_local_gate_matches_distributed(spark):
    """The size-gated driver-side union-find path must return exactly
    what the distributed pointer-jumping loop returns."""
    from mapreduce_rust_spark.llm.pipeline import connected_components
    chain = [(i, i + 1) for i in range(1000, 1060)]
    extra = [(1, 2), (2, 3), (7, 8)]
    edges = spark.createDataFrame(chain + extra, ["doc_a", "doc_b"])
    local = {(r.node, r.rep)
             for r in connected_components(edges).collect()}
    dist = {(r.node, r.rep)
            for r in connected_components(edges,
                                          local_threshold=0).collect()}
    assert local == dist == set(_union_find(chain + extra).items())
    # the driver-side mapping goes the Arrow path: no Python task
    lineage = (connected_components(edges)._jdf.queryExecution()
               .toRdd().toDebugString())
    assert "PythonRDD" not in lineage, lineage


def test_neardup_keep_best_picks_cluster_argmax(spark):
    """Exactly one keeper per cluster, and it's the longest member
    (doc_id tiebreak)."""
    from collections import defaultdict
    from mapreduce_rust_spark.llm.pipeline import neardup_keep_best
    rows = neardup_keep_best(spark, SF_CORRECT).collect()
    assert rows
    by_rep = defaultdict(list)
    for r in rows:
        by_rep[r.rep].append(r)
    for rep, members in by_rep.items():
        keepers = [r for r in members if r.keep]
        assert len(keepers) == 1
        best = min(members, key=lambda r: (-r.n_chars, r.doc_id))
        assert keepers[0].doc_id == best.doc_id


def test_neardup_keep_best_flag_matches_independent_union_find(spark):
    """The keep flag itself, end to end, against an INDEPENDENT
    derivation: union-find over the raw LSH pairs + doc lengths from
    the raw table, never trusting the operator's own clustering."""
    from collections import defaultdict
    from mapreduce_rust_spark.llm.dedup import minhash_lsh_pairs
    from mapreduce_rust_spark.llm.pipeline import neardup_keep_best
    pairs = [(r.doc_a, r.doc_b)
             for r in minhash_lsh_pairs(spark, SF_CORRECT).collect()]
    assert pairs
    comp = _union_find(pairs)
    n_chars = {r.doc_id: len(r.text)
               for r in spark.read.parquet(
                   f"{SF_CORRECT}/documents.parquet").collect()}
    members = defaultdict(list)
    for doc, rep in comp.items():
        members[rep].append(doc)
    want_keep = {min(m, key=lambda d: (-n_chars[d], d)): True
                 for m in members.values()}
    got = {r.doc_id: r.keep
           for r in neardup_keep_best(spark, SF_CORRECT).collect()}
    assert set(got) == set(comp)  # exactly the docs in >=1 pair
    for doc in got:
        assert got[doc] == want_keep.get(doc, False), doc


def test_curation_pipeline_accounting(spark):
    """Total curated docs == quality survivors - exact dups - near-dup
    doc_b side (fixture has no exact dups)."""
    from mapreduce_rust_spark.llm.dedup import minhash_lsh_pairs
    from mapreduce_rust_spark.llm.pipeline import curation_pipeline
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    n_quality = docs.filter(F.size(toks) >= 10).count()
    quality_ids = {r.doc_id for r in
                   docs.filter(F.size(toks) >= 10).select("doc_id").collect()}
    drop_b = {r.doc_b for r in minhash_lsh_pairs(spark, SF_CORRECT).collect()}
    expected = n_quality - len(drop_b & quality_ids)
    out = curation_pipeline(spark, SF_CORRECT)
    assert out.agg(F.sum("n_docs")).collect()[0][0] == expected
    splits = {r.split for r in out.collect()}
    assert splits <= {"train", "val", "test"}


from hypothesis import given, settings, strategies as st

_edge_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)).map(
        lambda t: (min(t), max(t) + 1)),  # doc_a < doc_b, no self-loops
    min_size=0, max_size=60)


@pytest.mark.heavy
@settings(max_examples=12, deadline=None)
@given(edges=_edge_lists)
def test_connected_components_property(spark, edges):
    """For ANY edge set, both the local union-find gate and the
    distributed pointer-jumping loop must produce exactly the
    union-find labeling."""
    from mapreduce_rust_spark.llm.pipeline import connected_components
    if not edges:
        return
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    want = set(_union_find(edges).items())
    local = {(r.node, r.rep) for r in connected_components(df).collect()}
    dist = {(r.node, r.rep)
            for r in connected_components(df, local_threshold=0).collect()}
    assert local == want and dist == want


def test_pagerank_matches_numpy_power_iteration(spark):
    """Distributed PageRank must match a dense numpy power iteration
    with the identical formula (same damping, iterations, no dangling
    handling needed on an undirected graph)."""
    import numpy as np
    from mapreduce_rust_spark.llm.pipeline import (
        PR_DAMPING, PR_ITERS, pagerank)
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(df).collect()}
    und = set()
    for s, d in edges:
        und.add((s, d)); und.add((d, s))
    nodes = sorted({x for e in und for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, d in und:
        out_deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(PR_ITERS):
        c = np.zeros(n)
        for s, d in und:
            c[idx[d]] += r[idx[s]] / out_deg[idx[s]]
        r = (1 - PR_DAMPING) / n + PR_DAMPING * c
    for node, i in idx.items():
        assert abs(got[node] - r[i]) < 1e-9, (node, got[node], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # ranks are a distribution


def test_kmeans_matches_numpy_lloyds(spark):
    """Distributed Lloyd's must track a numpy run from the identical
    init: same final assignments (up to distance ties) and inertia
    within 0.1%."""
    import numpy as np
    from mapreduce_rust_spark.llm.pipeline import (
        KMEANS_ITERS, KMEANS_K, kmeans_embeddings)
    rows = kmeans_embeddings(spark, SF_CORRECT).collect()
    got = {r.vec_id: r.cluster for r in rows}
    inertia = sum(r.dist2 for r in rows)
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet") \
        .orderBy("vec_id").collect()
    X = np.array([list(r.embedding) for r in emb], dtype=np.float64)
    ids = [r.vec_id for r in emb]
    C = X[:KMEANS_K].copy()
    # mirror the operator exactly: the returned assignment is the
    # LAST in-loop one (computed from the pre-update centroids)
    for _ in range(KMEANS_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(KMEANS_K):
            if (a == c).any():
                C[c] = X[a == c].mean(axis=0)
    want_inertia = d.min(axis=1).sum()
    agree = sum(got[i] == a[j] for j, i in enumerate(ids))
    assert agree >= 0.99 * len(ids)
    assert abs(inertia - want_inertia) <= 0.001 * want_inertia
    assert len({r.cluster for r in rows}) > 1


def test_kmeans_keeps_the_centroid_of_an_empty_cluster(spark, tmp_path):
    """Planted: the two lowest vec_ids are the same vector, so the two
    initial centroids tie for every vector, the (d2, cid) tie-break
    sends all of them to cluster 0 and cluster 1 is left empty. It
    must keep its centroid, as in a numpy Lloyd's run, and win back
    its two vectors in the next round once cluster 0 has moved."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from mapreduce_rust_spark.llm.pipeline import (
        KMEANS_ITERS, kmeans_embeddings)
    vecs = [(0.0, 0.0), (0.0, 0.0), (10.0, 10.0), (10.0, 11.0),
            (11.0, 10.0)]
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int32())}),
        tmp_path / "embeddings.parquet")
    rows = kmeans_embeddings(spark, str(tmp_path), k=2).collect()
    X = np.array(vecs)
    C = X[:2].copy()
    for _ in range(KMEANS_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(2):
            if (a == c).any():
                C[c] = X[a == c].mean(axis=0)
    assert {r.vec_id: r.cluster for r in rows} == dict(enumerate(a))
    assert {r.vec_id: r.cluster for r in rows} == {0: 1, 1: 1, 2: 0,
                                                   3: 0, 4: 0}
    for r in rows:
        assert abs(r.dist2 - d.min(axis=1)[r.vec_id]) < 1e-9
