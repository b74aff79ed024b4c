"""Composed LLM-data-curation pipeline + embedding aggregation +
near-dup clustering — the operators that sit ON TOP of the dedup /
quality / split primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.llm.dedup import minhash_lsh_pairs
from mapreduce_rust_spark.memo import session_memo
from mapreduce_rust_spark.tables import _local_rows, load_table


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in LONG format (label, dim,
    centroid value) — the IVF-training aggregation. Long format keeps
    the oracle portable (no array-of-double comparisons) and is the
    shuffle-friendly shape anyway: one row per (label, dim), exact
    decimal mean."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select("label",
                          F.posexplode(F.col("embedding")).alias("dim", "v"))
    # Quantize each value onto a 1e-12 integer grid with HALF_EVEN on
    # BOTH engines (Spark bround ≡ DuckDB round_even), then sum exact
    # longs. Decimal casts don't work here: float32 values are dyadic
    # rationals whose decimal expansions can terminate exactly on a
    # rounding tie, and the engines' decimal-cast tie modes differ.
    q = F.bround(F.col("v").cast("double") * 1e12, 0).cast("long")
    return (exploded.groupBy("label", F.col("dim").cast("long").alias("dim"))
            .agg((F.sum(q).cast("double") / F.lit(1e12) / F.count(F.lit(1)))
                 .alias("centroid")))


LABEL_CENTROIDS_ORACLE = """
SELECT label, CAST(u.dim - 1 AS BIGINT) AS dim,
       CAST(SUM(CAST(round_even(CAST(u.v AS DOUBLE) * 1e12, 0) AS BIGINT))
            AS DOUBLE) / 1e12 / COUNT(*) AS centroid
FROM embeddings,
LATERAL (SELECT embedding[i] AS v, i AS dim
         FROM UNNEST(generate_series(1, len(embedding))) AS g(i)) u
GROUP BY label, u.dim
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation flow, composed from the
    engine's primitives in one declarative plan:

    1. quality gate  — keep docs with ≥10 tokens,
    2. exact dedup   — keep min doc_id per sha256(text),
    3. near-dup drop — remove the doc_b side of every verified
                       MinHash-LSH pair (keep the lower doc_id),
    4. split         — content-keyed 80/10/10,
    5. report        — docs per (split, lang).

    Every stage is a shuffle-bounded primitive proven elsewhere; the
    composition is what a real 100 TB curation job runs nightly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    quality = docs.filter(F.size(toks) >= 10)

    keep_exact = (quality.groupBy(F.sha2("text", 256).alias("h"))
                         .agg(F.min("doc_id").alias("doc_id")))
    survivors = quality.join(keep_exact.select("doc_id"), "doc_id", "left_semi")

    drop_b = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")).distinct()
    survivors = survivors.join(drop_b, "doc_id", "left_anti")

    bucket = F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("long") % 100
    split = (F.when(bucket < 80, "train")
              .when(bucket < 90, "val").otherwise("test"))
    return (survivors.select(split.alias("split"), "lang")
                     .groupBy("split", "lang")
                     .agg(F.count("*").alias("n_docs")))


# mirrors the Spark plan stage by stage (shared shingle/banding CTEs
# with the minhash oracle)
from mapreduce_rust_spark.llm.dedup import MINHASH_LSH_ORACLE  # noqa: E402

CURATION_ORACLE = f"""
WITH pairs AS ({MINHASH_LSH_ORACLE}),
quality AS (
  SELECT * FROM documents
  WHERE len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) >= 10
),
keep_exact AS (
  SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY sha256(text)
),
survivors AS (
  SELECT q.* FROM quality q
  WHERE q.doc_id IN (SELECT doc_id FROM keep_exact)
    AND q.doc_id NOT IN (SELECT doc_b FROM pairs)
)
SELECT CASE WHEN CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) % 100 < 80 THEN 'train'
            WHEN CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs
FROM survivors GROUP BY 1, 2
"""


MAX_CC_ITERS = 30  # O(log diameter) rounds suffice — see docstring

# Below this many edges the graph is solved driver-side (union-find)
# instead of paying ~6 Spark jobs of iterative-loop latency. Same
# size-gated local/distributed split Spark itself applies to joins
# (broadcast vs shuffle): the near-dup edge list after LSH is
# proportional to the number of DUPLICATED docs, typically orders of
# magnitude smaller than the corpus, so even 100 TB corpora often fit
# the gate; when they don't, the pointer-jumping loop below takes over
# automatically. 2M edges ≈ 32 MB of longs — well under driver heap.
LOCAL_CC_EDGES = 2_000_000


def _local_union_find(edge_rows) -> dict[int, int]:
    """Driver-side union-find with path compression; rep = component
    min (matched to the distributed loop's min-label semantics)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {node: find(node) for node in parent}


def connected_components(edges_df: DataFrame,
                         max_iters: int = MAX_CC_ITERS,
                         local_threshold: int = LOCAL_CC_EDGES) -> DataFrame:
    """Connected components over an undirected edge list
    (``doc_a``/``doc_b`` columns) → (node, rep) with rep = component
    min. Each round does two steps:

    1. min-label PROPAGATION — every node takes the min of its own
       and its neighbors' labels (one join + agg on the static,
       checkpointed edge list);
    2. POINTER JUMPING — rep(x) := rep(rep(x)) (a self-join of the
       label table), which doubles the distance already-propagated
       labels have traveled.

    Propagation alone needs diameter-many rounds on a chain — the
    failure mode of the round-1 fixed-count loop at 100 TB, where a
    transitive near-dup chain can be arbitrarily long. With the jump
    step the distance to the component min at least doubles per
    round, so convergence is O(log diameter): a 200-link chain
    settles in ~8 rounds (asserted in tests). The loop still checks
    actual convergence (zero label changes) and ``max_iters`` raises
    instead of silently returning wrong reps."""
    pairs = edges_df.select("doc_a", "doc_b").localCheckpoint()
    n_edges = pairs.count()  # cheap: counts the materialized checkpoint
    if n_edges <= local_threshold:
        # Small-graph fast path: solve on the driver in one pass.
        # Results are identical to the loop below (rep = component
        # min); tests cover both paths.
        mapping = _local_union_find(
            (r[0], r[1]) for r in pairs.toLocalIterator())
        from pyspark.sql.types import StructField, StructType
        node_t = edges_df.schema["doc_a"].dataType
        return _local_rows(edges_df.sparkSession, sorted(mapping.items()),
                           StructType([StructField("node", node_t),
                                       StructField("rep", node_t)]))

    edges = (pairs
             .union(pairs.select(F.col("doc_b").alias("doc_a"),
                                 F.col("doc_a").alias("doc_b"))))
    edges = edges.localCheckpoint()  # reused every iteration
    labels = (edges.select(F.col("doc_a").alias("node"))
                   .distinct()
                   .withColumn("rep", F.col("node"))
                   .localCheckpoint())
    for _ in range(max_iters):
        prop = (edges.join(labels, edges.doc_b == labels.node)
                     .groupBy(F.col("doc_a").alias("node"))
                     .agg(F.min("rep").alias("nbr_rep")))
        l1 = (labels.join(prop, "node", "left")
                    .select("node", F.col("rep").alias("old_rep"),
                            F.least(F.col("rep"),
                                    F.coalesce("nbr_rep", F.col("rep")))
                             .alias("rep")))
        # pointer jump: follow rep one more hop (rep nodes are always
        # members of the label table, so the left join always matches
        # unless rep is already a root pointing at itself)
        jump = l1.select(F.col("node").alias("j_node"),
                         F.col("rep").alias("j_rep"))
        new_labels = (l1.join(jump, l1.rep == jump.j_node, "left")
                        .select("node", "old_rep",
                                F.coalesce("j_rep", "rep").alias("rep"))
                        # truncate lineage: without this the plan doubles
                        # per iteration (labels appears on both join
                        # sides) and analysis/broadcast costs explode
                        .localCheckpoint())
        changed = new_labels.filter(F.col("rep") != F.col("old_rep")).count()
        labels = new_labels.select("node", "rep")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations")


# The near-dup cluster label table is a ``result`` session memo: THREE
# registered queries (neardup_clusters, neardup_keep_best,
# leakage_safe_split_docs) derive from the same (doc_id, rep) labels,
# each re-running the connected-components doubling loop (~1.5 s at
# sf0.1) per build. Keyed by the PAIRS plan, so planted test edges
# miss. One row per clustered doc.
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pairs: each doc
    gets the min doc_id of its cluster as representative. Oracled
    since round 7 via a recursive-CTE transitive closure
    (``NEARDUP_CLUSTERS_ORACLE``); pytest additionally checks against
    a union-find, including a planted 12-doc chain whose diameter
    exceeds the old fixed iteration count. Labels are memoized per
    (session, pairs plan)."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return session_memo(
        spark, "result", ("cc_labels", pairs.semanticHash()),
        lambda: (connected_components(pairs)
                 .select(F.col("node").alias("doc_id"), "rep")
                 .localCheckpoint(eager=True)))


def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware dedup policy: within every near-dup cluster keep
    the HIGHEST-QUALITY member (longest doc, doc_id tiebreak), not
    the arbitrary min-id — the policy real curation uses (keep the
    canonical/cleanest copy, drop mirrors). Composition of
    ``connected_components`` with a quality signal + one window
    argmax per cluster; clusters are tiny so the window partitions
    are bounded by cluster size. Oracled since round 7 (closure CTE +
    window argmax); pytest verifies the argmax against the
    clusters."""
    from pyspark.sql import Window as W
    labels = neardup_clusters(spark, sf_dir)  # (doc_id, rep)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars"))
    scored = labels.join(docs, "doc_id")
    w = W.partitionBy("rep").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .select("doc_id", "rep", "n_chars",
                          (F.col("rk") == 1).alias("keep")))


def leakage_safe_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-keyed train/val/test split: every MinHash-LSH
    connected COMPONENT lands wholly in one split, so near-duplicates
    (not just byte-identical copies, which ``train_test_split_docs``'
    content hash already handles) can never straddle the train/eval
    boundary — the split discipline The-Stack-style corpora use to
    keep eval honest. Singleton docs are their own cluster.

    split = md5(rep id) mod 100 → 80/10/10, where rep is the
    component's min doc_id — deterministic and retry-safe. Oracled
    since round 7 (closure CTE + the md5-bucket mirror); pytest
    additionally asserts the invariant that MATTERS: no verified
    near-dup pair crosses a split boundary, on the fixtures AND on a
    planted chain of near-dups.

    Scale: connected_components' doubling rounds over near-dup EDGES
    (pair-volume bound inherited from the LSH design), one label join
    back to the corpus (labels can be corpus-sized on a dup-heavy
    crawl, so no broadcast hint — AQE picks), stateless hash
    thresholding.

    Output: ``(doc_id, rep, split)``.
    """
    labels = neardup_clusters(spark, sf_dir)   # (doc_id, rep)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = (docs.join(labels, "doc_id", "left")
         .select("doc_id",
                 F.coalesce(F.col("rep"), F.col("doc_id")).alias("rep")))
    from mapreduce_rust_spark.llm.quality import md5_bucket
    b = md5_bucket(F.col("rep").cast("string"), 100)
    split = (F.when(b < 80, "train").when(b < 90, "val")
             .otherwise("test"))
    return d.select("doc_id", "rep", split.alias("split"))


# Transitive-closure CTE chain over the verified near-dup pairs —
# DuckDB's WITH RECURSIVE is the non-procedural twin of
# ``connected_components``' doubling loop: reach(a, b) enumerates
# every same-component pair, so rep(a) = LEAST(a, MIN(b)). Closure
# size is Σ|component|² — fine at oracle scale (sf0.01), which is
# exactly why the ENGINE uses the O(log diameter) loop instead. The
# minhash-pairs oracle nests verbatim (the composed-oracle pattern,
# see dedup_eval_lsh), so pairs here are BY CONSTRUCTION the same
# pairs the Spark path clusters.
_CLOSURE_CTES = f"""
pairs AS ({MINHASH_LSH_ORACLE}),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach AS (SELECT a, b FROM sym
          UNION
          SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS rep
         FROM reach GROUP BY a)"""


NEARDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_CLOSURE_CTES}
SELECT doc_id, rep FROM comp
"""


NEARDUP_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE {_CLOSURE_CTES},
scored AS (SELECT c.doc_id, c.rep, len(d.text) AS n_chars
           FROM comp c JOIN documents d USING (doc_id)),
rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY rep
                 ORDER BY n_chars DESC, doc_id) AS r FROM scored)
SELECT doc_id, rep, CAST(n_chars AS BIGINT) AS n_chars,
       r = 1 AS keep
FROM rk
"""


LEAKAGE_SPLIT_ORACLE = f"""
WITH RECURSIVE {_CLOSURE_CTES},
lab AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep
        FROM documents d LEFT JOIN comp c USING (doc_id)),
bk AS (SELECT doc_id, rep,
              CAST('0x' || substr(md5(rep::VARCHAR), 1, 12) AS BIGINT)
                % 100 AS b
       FROM lab)
SELECT doc_id, rep,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split
FROM bk
"""


REGISTRATIONS = [
    ("leakage_safe_split_docs", leakage_safe_split_docs,
     LEAKAGE_SPLIT_ORACLE),
    ("label_centroids", label_centroids, LABEL_CENTROIDS_ORACLE),
    ("curation_pipeline", curation_pipeline, CURATION_ORACLE),
    ("neardup_clusters", neardup_clusters, NEARDUP_CLUSTERS_ORACLE),
    ("neardup_keep_best", neardup_keep_best, NEARDUP_KEEP_BEST_ORACLE),
]


PR_DAMPING = 0.85
PR_ITERS = 10


def pagerank(edges_df: DataFrame, iters: int = PR_ITERS,
             damping: float = PR_DAMPING) -> DataFrame:
    """PageRank by power iteration over an undirected edge list
    (``src``/``dst`` columns; both directions are materialized
    internally). The second iterative graph operator (with
    ``connected_components``): per round one join edges⋈ranks and one
    aggregation on dst — both shuffle-keyed on node id, with no
    per-round checkpoint (``graph._rank_rounds``, the loop shared with
    the two exact forms). Undirected edges mean every node has
    out-degree ≥ 1, so there is no dangling-mass term.

    Float note: rank sums are double adds in shuffle order, so exact
    bit-reproducibility is NOT claimed (tests compare to a numpy
    power iteration at 1e-9); the driver check is rows-only."""
    from mapreduce_rust_spark.operators.graph import _rank_rounds
    pairs = edges_df.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    adj = (pairs.union(pairs.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")))
                .distinct().localCheckpoint(eager=False))
    # the n count materializes both checkpoints in one job
    deg = (adj.groupBy(F.col("a").alias("node"))
              .agg(F.count("*").alias("deg"))
              .localCheckpoint(eager=False))
    n = deg.count()
    r = deg.select("node", "deg", F.lit(1.0 / n).alias("rank"))
    r = _rank_rounds(adj, deg, n, r, iters, F.col("rank") / F.col("deg"),
                     F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("c"))
    return r.select("node", "rank")


def pagerank_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-importance over the part co-purchase graph: parts are
    linked when they appear in the same order (C(items,2) pairs per
    order — via the shared capped in-row builder
    ``graph.copurchase_edges_cached``, so this op inherits both the
    ``COPURCHASE_MAX_BASKET`` width bound and the session-scoped edge
    materialization the rest of the graph family uses).

    Rows-only BY DESIGN, as a documented DERIVED query: the oracled
    ``graph.pagerank_exact_parts`` (integer micromass, chained-CTE
    oracle) is the hash-proven form of this computation; this float
    power iteration is kept as the production-convenient variant and
    is pinned to the exact form by the agreement-bound test
    ``tests/test_graph_bpe.py::test_pagerank_exact_tracks_float_pagerank``
    plus numpy power-iteration parity in ``tests/test_pipeline.py``.
    Output ranks quantized to 1e-12 so the row set is stable across
    shuffle orderings."""
    from mapreduce_rust_spark.operators.graph import (
        copurchase_edges_cached)
    # pass the UNPROJECTED scan so the memo key (plan hash) matches the
    # rest of the graph family; pruning drops the other columns anyway
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges_cached(li).select(
        F.col("u").alias("src"), F.col("v").alias("dst"))
    pr = pagerank(edges)
    return pr.select("node", F.bround(F.col("rank") * 1e12, 0)
                     .cast("long").alias("rank_q"))


REGISTRATIONS.append(("pagerank_copurchase_parts",
                      pagerank_copurchase_parts, None))


KMEANS_K = 8
KMEANS_ITERS = 5


def _lloyd_rounds(vql: DataFrame, k: int, iters: int, cnew: F.Column):
    """``iters`` Lloyd's rounds over the long ``(vec_id, dim, q)``
    table: the one loop of both k-means forms. Init: the k lowest
    vec_ids are clusters 0..k-1. Each round joins the table to the
    broadcast ``(cid, dim, c)`` centroids, sums squared differences
    per (vec_id, cid), keeps each vector's (d², cid)-least cluster and
    sets every centroid dim to ``cnew``, an aggregate over its
    members' ``q``; the k×dim update is broadcast too. A cluster left
    without members keeps its previous centroid. No centroid leaves the cluster, so the rounds form one
    plan; each round's assignment and centroids are checkpointed
    lazily, which truncates lineage and pins the blocks the next
    round re-reads without an extra job.

    Returns ``(assign, cents)``: the last round's ``(vec_id, cid, d2)``
    assignment, computed from the centroids before its update, and
    the final ``(cid, dim, c)`` centroids."""
    from pyspark.sql import Window as W
    vql = vql.localCheckpoint(eager=False)      # re-read every round
    seeds = (vql.where(F.col("dim") == 0).select("vec_id")
             .orderBy("vec_id").limit(k)
             .select("vec_id",
                     (F.row_number().over(
                         W.orderBy("vec_id")) - 1).cast("long")
                     .alias("cid")))
    cents = (vql.join(F.broadcast(seeds), "vec_id")
             .select("cid", "dim", F.col("q").alias("c"))
             .localCheckpoint(eager=False))
    assign = None
    for _ in range(iters):
        d2 = (vql.join(F.broadcast(cents), "dim")
              .groupBy("vec_id", "cid")
              .agg(F.sum((F.col("q") - F.col("c"))
                         * (F.col("q") - F.col("c"))).alias("d2")))
        wv = W.partitionBy("vec_id").orderBy("d2", "cid")
        assign = (d2.withColumn("rk", F.row_number().over(wv))
                  .where(F.col("rk") == 1)
                  .select("vec_id", "cid", "d2")
                  .localCheckpoint(eager=False))
        upd = (vql.join(assign.select("vec_id", "cid"), "vec_id")
               .groupBy("cid", "dim").agg(cnew.alias("cnew")))
        cents = (cents.join(F.broadcast(upd), ["cid", "dim"], "left")
                 .select("cid", "dim",
                         F.coalesce("cnew", "c").alias("c"))
                 .localCheckpoint(eager=False))
    return assign, cents


def kmeans_embeddings(spark: SparkSession, sf_dir: str,
                      k: int = KMEANS_K,
                      iters: int = KMEANS_ITERS) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding table — the
    third iterative operator (with connected components and
    PageRank), and the unsupervised replacement for the label-based
    IVF training in ``label_centroids``.

    Per round (``_lloyd_rounds``, the loop shared with
    ``kmeans_exact_embeddings``): assignment joins the long
    (vec_id, dim, value) table to k×dim broadcast centroids (cost
    k×|corpus| distance terms, corpus never shuffled for it) + one
    argmin; the update is one (cluster, dim) mean aggregation that
    stays a DataFrame — no centroid is collected to the driver.
    Deterministic: init = the k lowest vec_ids, ties in argmin broken
    by cluster id, an empty cluster keeps its previous centroid.
    Rows-only driver check (float means); pytest verifies parity with
    a numpy Lloyd's run from the same init.

    ``localCheckpoint`` note: on a real cluster the checkpoint blocks
    live in EXECUTOR storage (not a reliable filesystem) and lineage
    is truncated — an executor loss mid-job would fail the query
    rather than recompute. That is the right trade here (the long
    table is re-read twice per round; a reliable ``checkpoint()`` to
    HDFS/S3 is the swap for fault-tolerant runs), same note as every
    ``localCheckpoint`` site in this package."""
    from mapreduce_rust_spark.functions.vector import to_double
    vql = (load_table(spark, sf_dir, "embeddings")
           .select("vec_id", F.posexplode(to_double(F.col("embedding")))
                   .alias("dim", "q")))
    assign, _ = _lloyd_rounds(vql, k, iters, F.avg("q"))
    return assign.select("vec_id", F.col("cid").cast("long").alias("cluster"),
                         F.col("d2").alias("dist2"))


REGISTRATIONS.append(("kmeans_embeddings", kmeans_embeddings, None))


KM_EXACT_K = 4
KM_EXACT_ITERS = 3
KM_EXACT_GRID = 1_000_000   # quantization grid (HALF_EVEN, both engines)


def kmeans_exact_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT fixed-point k-means on an integer grid — the
    ``pagerank_exact_parts`` discipline applied to the last big
    rows-only family: quantize each embedding once onto the
    ``KM_EXACT_GRID`` integer grid (HALF_EVEN — Spark ``bround`` ≡
    DuckDB ``round_even``), then every Lloyd's round is pure integer
    relational algebra: squared distances are exact BIGINT sums over
    the long-format (vec, dim, q) table, the argmin is a total order
    on (d², cid), and the centroid update is exact TRUNCATING
    integer division (Spark ``DIV`` ≡ DuckDB ``//`` after the
    HUGEINT→BIGINT cast — both truncate toward zero; DuckDB // does
    NOT floor, probed on negative operands). Integer sums are
    commutative, so unlike the float form the whole iteration is
    hash-checkable; the oracle is the chained-CTE expansion of the
    same ``KM_EXACT_ITERS`` rounds.

    The float ``kmeans_embeddings`` stays as the
    production-convenient variant (numpy-parity-tested); this is the
    provable twin, as pagerank_exact is to pagerank.

    Scale: the float form's loop (``_lloyd_rounds``) — per round one
    (dim)-keyed join of the long table against k×dim broadcast
    centroids + two aggregates; the corpus long table is materialized
    once and re-read per round (the adjacency-materialization
    lesson). Init = the k lowest vec_ids.

    Output: ``(cid, n_vecs, inertia_q, centroid_checksum)`` —
    inertia in grid² units, checksum = Σ c·(dim+1) over dims.
    """
    vql = (load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.posexplode(F.transform(
                F.col("embedding"),
                lambda x: F.bround(x.cast("double") * KM_EXACT_GRID)
                           .cast("long"))).alias("dim", "q")))
    assign, cents = _lloyd_rounds(vql, KM_EXACT_K, KM_EXACT_ITERS,
                                  F.expr("sum(q) DIV count(*)"))
    chk = (cents.groupBy("cid")
           .agg(F.sum(F.col("c") * (F.col("dim") + 1))
                .cast("long").alias("centroid_checksum")))
    out = (assign.groupBy("cid")
           .agg(F.count("*").cast("long").alias("n_vecs"),
                F.sum("d2").cast("long").alias("inertia_q")))
    return out.join(chk, "cid").select(
        "cid", "n_vecs", "inertia_q", "centroid_checksum")


def _kmeans_exact_oracle() -> str:
    """Chained-CTE expansion of the KM_EXACT_ITERS integer Lloyd's
    rounds (the pagerank_exact / MMR oracle pattern)."""
    g = KM_EXACT_GRID
    parts = [f"""
WITH vql AS (
  SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS dim,
         CAST(round_even(CAST(embedding[u.i] AS DOUBLE) * {g}, 0)
              AS BIGINT) AS q
  FROM embeddings,
       UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
seeds AS (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
  FROM (SELECT vec_id FROM embeddings
        ORDER BY vec_id LIMIT {KM_EXACT_K})
),
cents0 AS (
  SELECT s.cid, v.dim, v.q AS c
  FROM vql v JOIN seeds s USING (vec_id)
)"""]
    prev = "cents0"
    for i in range(1, KM_EXACT_ITERS + 1):
        parts.append(f""",
d2_{i} AS (
  SELECT v.vec_id, c.cid,
         CAST(SUM((v.q - c.c) * (v.q - c.c)) AS BIGINT) AS d2
  FROM vql v JOIN {prev} c USING (dim)
  GROUP BY v.vec_id, c.cid
),
assign{i} AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cid) AS rk
    FROM d2_{i}) WHERE rk = 1
),
upd{i} AS (
  -- CAST before //: SUM(BIGINT) is HUGEINT and HUGEINT // silently
  -- promotes to DOUBLE (the round-5 lesson), which rounds instead
  -- of truncating
  SELECT a.cid, v.dim,
         CAST(CAST(SUM(v.q) AS BIGINT) // COUNT(*) AS BIGINT) AS cnew
  FROM vql v JOIN assign{i} a USING (vec_id)
  GROUP BY a.cid, v.dim
),
cents{i} AS (
  SELECT p.cid, p.dim, COALESCE(u.cnew, p.c) AS c
  FROM {prev} p LEFT JOIN upd{i} u
    ON p.cid = u.cid AND p.dim = u.dim
)""")
        prev = f"cents{i}"
    last = KM_EXACT_ITERS
    parts.append(f"""
SELECT a.cid,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(a.d2) AS BIGINT) AS inertia_q,
       CAST(MIN(k.chk) AS BIGINT) AS centroid_checksum
FROM assign{last} a
JOIN (SELECT cid, SUM(c * (dim + 1)) AS chk
      FROM cents{last} GROUP BY cid) k USING (cid)
GROUP BY a.cid
""")
    return "".join(parts)


KMEANS_EXACT_ORACLE = _kmeans_exact_oracle()


REGISTRATIONS.append(("kmeans_exact_embeddings", kmeans_exact_embeddings,
                      KMEANS_EXACT_ORACLE))
