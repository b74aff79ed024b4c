"""Similarity search over the ``embeddings`` table.

- ``knn_bruteforce`` — exact cosine top-k for a small query set:
  broadcast the queries against the corpus (the corpus is never
  shuffled; work is a single scan × |Q|), rank per query with a
  deterministic tiebreak. This is the oracle-checkable baseline.
- ``knn_lsh`` — the scale path: sign-random-projection bucketing
  (deterministic md5-derived hyperplanes), candidates only within
  the query's bucket. Sub-linear candidate sets; recall measured in
  tests against the brute-force baseline. At 100 TB the bucket id
  becomes the shuffle/partition key and each bucket fits an executor.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.vector import cosine, dot, to_double, unit
from mapreduce_rust_spark.tables import _local_rows, load_table

K = 5
N_QUERIES = 10   # vec_id < 10 are the probe set
N_PLANES = 4     # LSH sign bits → 16 buckets


# --- fold-exact numpy kernels (round 12, guide §4.2) ------------------
# The pair-similarity hot paths below used to evaluate the JVM HOF
# folds in functions.vector per PAIR; Catalyst higher-order functions
# are CodegenFallback (interpreted lambda per element), so a 400k-pair
# block at d=64 costs ~25M boxed lambda steps. These helpers run the
# SAME IEEE operation sequence — sequential left fold from 0.0,
# per-element multiply/divide — vectorized across rows/pairs with the
# Python loop over the (small, fixed) dimension axis, so every scalar
# result is bit-identical to the HOF expression it replaces and the
# existing DuckDB oracles hold unchanged. Only evaluation speed moves.

def _np_mat(col):
    """pandas Series of float arrays → (n, d) float64 matrix (the
    exact cast ``to_double`` applies — float32→float64 is exact)."""
    import numpy as np
    return np.stack(col.to_numpy()).astype(np.float64)


def _np_seq_norm2(X):
    """Row-wise ``norm2`` fold: acc = (…(0.0 + x₀²) + x₁²…)."""
    import numpy as np
    acc = np.zeros(len(X))
    for d in range(X.shape[1]):
        acc = acc + X[:, d] * X[:, d]
    return acc


def _np_unit(X):
    """Row-wise ``unit``: per-element division by the IEEE sqrt of the
    fold norm — same two ops, same order, as functions.vector.unit."""
    import numpy as np
    return X / np.sqrt(_np_seq_norm2(X))[:, None]


def _np_gram(A, B):
    """Pairwise fold-dot G[i, j] = dot(A[i], B[j]): accumulating one
    dimension at a time makes every entry the same left-fold sequence
    as ``functions.vector.dot`` (never a BLAS matmul, whose pairwise
    summation rounds differently)."""
    import numpy as np
    G = np.zeros((len(A), len(B)))
    for d in range(A.shape[1]):
        G = G + A[:, d:d + 1] * B[:, d][None, :]
    return G


# Row-slab width for the per-label-block Gram kernels (round 13,
# VERDICT r12 item 8 / ADVICE): a skewed giant block used to
# materialize the FULL n×n float64 Gram in one Python worker
# (n = 10⁵ → 80 GB — a worker OOM where the retired streaming
# self-join merely slowed down). Computing Gram rows one slab at a
# time caps peak memory at O(chunk·n) with IDENTICAL bits: each
# G[i, j] is still the same per-dimension left fold, and
# argmax/lexsort are row-local so slabbing the row axis cannot
# change any row's result.
_GRAM_CHUNK = 2048


def _np_nan_greatest(G):
    """Map NaN similarities to +inf IN PLACE so in-kernel ranking
    reproduces the retired Spark window's ``sim DESC`` order (Spark
    sorts NaN as greatest; np.lexsort on -G would put them last —
    ADVICE r12: a zero-norm embedding makes unit() emit NaN sims).
    Ties among NaN rows then break on the id key exactly as Spark's
    ``nn_id`` ascending tie-break (argmax first-hit / lexsort
    secondary key over ids sorted ascending)."""
    import numpy as np
    G[np.isnan(G)] = np.inf
    return G


def _emb(spark, sf_dir) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("e"))


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k neighbors (cosine) for each query vector.
    Output: (query_id, neighbor_id, rank) — similarity itself is
    excluded from the checked output because cross-engine cosine
    differs in final ulps; ranking is stable on this data.

    NOTE on the oracle's float path: Spark ranks by dot(unit(a),
    unit(b)) (vectors normalized once, then a single dot fold) while
    the DuckDB oracle ranks by list_cosine_similarity — a different
    IEEE evaluation order with per-element normalization rounding.
    Rank parity therefore relies on similarity gaps exceeding
    accumulated ulp divergence (asserted on the fixture by
    tests/test_llm_ops.py::test_knn_rank_adjacent_gap). A future rank
    flip here should be triaged as a near-tie between neighbors, not
    as a logic bug."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", unit(F.col("e")).alias("en"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("en").alias("qe"))
    # unit-normalized once per vector; per (query, candidate) pair the
    # similarity is a single dot fold (see allknn_within_label)
    cand = (F.broadcast(q).crossJoin(emb.select(F.col("vec_id").alias("neighbor_id"),
                                                F.col("en").alias("ne")))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("sim", dot(F.col("qe"), F.col("ne"))))
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= K)
                .select("query_id", "neighbor_id",
                        F.col("rank").cast("long").alias("rank")))


KNN_BRUTEFORCE_ORACLE = f"""
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                           n.embedding::DOUBLE[]) DESC,
                    n.vec_id) AS rank
  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
WHERE rank <= {K}
"""


MAX_DIM = 512    # hyperplane weights precomputed up to this embedding dim


def _plane_weights(p: int, max_dim: int = MAX_DIM) -> list[float]:
    """±1 weights of hyperplane ``p``: +1 iff md5("p:d")'s first hex
    nibble is even. Computed ONCE driver-side with hashlib — the
    weights depend only on (p, d), so paying dims×planes md5 calls
    per ROW (the previous in-plan form) was pure waste. Same parity
    rule as before → identical buckets and recall."""
    import hashlib
    return [1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0 for d in range(max_dim)]


def _bucket(e_col) -> F.Column:
    """Sign-random-projection bucket id: bit p = sign(<e, w_p>) with
    the hyperplane weight matrix baked into the plan as literal arrays
    (N_PLANES × MAX_DIM floats, sliced to the vector's length). Pure
    JVM column expressions; zero hashing at runtime."""
    bits = []
    for p in range(N_PLANES):
        w_lit = F.array(*[F.lit(w) for w in _plane_weights(p)])
        proj = F.aggregate(
            F.zip_with(e_col, F.slice(w_lit, F.lit(1), F.size(e_col)),
                       lambda x, w: x * w),
            F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _lsh_bucket_batches(batches) -> "pd.DataFrame":
    """mapInPandas kernel: append the sign-random-projection bucket.
    Bit-identical to the retired ``_bucket`` HOF column (same ±1
    weights, same per-plane left fold, same >= 0 sign rule) — the HOF
    form baked N_PLANES × MAX_DIM literal floats into the plan and
    re-ran an interpreted fold per row per plane."""
    import numpy as np
    W_np = np.array([_plane_weights(p) for p in range(N_PLANES)])
    for pdf in batches:
        if not len(pdf):
            continue
        X = _np_mat(pdf["e"])
        bucket = np.zeros(len(X), dtype=np.int32)
        for p in range(N_PLANES):
            acc = np.zeros(len(X))
            for d in range(X.shape[1]):
                acc = acc + X[:, d] * W_np[p, d]
            bucket += np.where(acc >= 0.0, np.int32(1 << p), np.int32(0))
        yield pd.DataFrame({"vec_id": pdf["vec_id"], "e": pdf["e"],
                            "bucket": bucket})


def _pair_cosine_batches(batches) -> "pd.DataFrame":
    """mapInPandas kernel over joined (query, neighbor) pairs: the
    exact ``cosine()`` DAG — dot fold / sqrt(norm2 fold · norm2 fold)
    — per pair, vectorized across the batch."""
    import numpy as np
    for pdf in batches:
        if not len(pdf):
            continue
        Q, N = _np_mat(pdf["qe"]), _np_mat(pdf["ne"])
        acc = np.zeros(len(Q))
        for d in range(Q.shape[1]):
            acc = acc + Q[:, d] * N[:, d]
        sim = acc / np.sqrt(_np_seq_norm2(Q) * _np_seq_norm2(N))
        yield pd.DataFrame({"query_id": pdf["query_id"],
                            "neighbor_id": pdf["neighbor_id"], "sim": sim})


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k with multi-probe: each query probes its own
    bucket plus every Hamming-1 neighbor bucket (near vectors most
    often differ in exactly one sign bit). Candidates stay sub-linear:
    (1+N_PLANES)/2^N_PLANES of the corpus per query. Oracled since
    round 9 via ``KNN_LSH_ORACLE`` (the relational bucket mirror the
    recall evaluator proved); rank parity carries the same near-tie
    caveat as ``knn_bruteforce``. Previously rows-only
    (approximation is implementation-defined); tests measure recall
    against ``knn_bruteforce``.

    Round 12: bucket assignment and pair scoring run in fold-exact
    numpy kernels (see the module helpers) instead of interpreted
    HOF folds — same bits, ~3x the speed; the bucketed table is
    localCheckpointed so the kernel runs ONE corpus pass even though
    the probe and candidate branches both read it."""
    from mapreduce_rust_spark.core.runner import _ensure_self_shipping
    _ensure_self_shipping()
    emb = (_emb(spark, sf_dir).select("vec_id", "e")
           .mapInPandas(_lsh_bucket_batches,
                        "vec_id long, e array<double>, bucket int")
           .localCheckpoint(eager=True))
    probes = F.array(F.col("bucket"),
                     *[F.col("bucket").bitwiseXOR(F.lit(1 << p))
                       for p in range(N_PLANES)])
    q = (emb.filter(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
                    F.explode(probes).alias("qb")))
    cand = (F.broadcast(q)
            .join(emb.select(F.col("vec_id").alias("neighbor_id"),
                             F.col("e").alias("ne"), F.col("bucket")),
                  F.col("qb") == F.col("bucket"))
            .filter(F.col("query_id") != F.col("neighbor_id")))
    scored = (cand.select("query_id", "neighbor_id", "qe", "ne")
              .mapInPandas(_pair_cosine_batches,
                           "query_id long, neighbor_id long, sim double"))
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= K)
                .select("query_id", "neighbor_id",
                        F.col("rank").cast("long").alias("rank")))


IVF_GRID = 10_000   # assignment quantization grid (HALF_EVEN, both engines)
IVF_NPROBE = 4      # cells probed per query (recall/cost knob — see
                    # ivf_eval_recall + SCALE.md's recall frontier)


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: a trained coarse quantizer (per-label
    centroids — at scale: k-means cells) assigns every vector to its
    nearest centroid cell; queries probe their own cell plus the
    ``IVF_NPROBE − 1`` runners-up. Candidates per query ≈
    nprobe/n_cells of the corpus. The centroid table is tiny and broadcast; assignment is
    one scan — no pairwise work outside probe-cell candidates.

    Oracled since round 10 (the last ANN path to convert — VERDICT r9
    item 4), by making the TRAINING exact: the quantizer is the
    per-cell integer-mean centroid on the ``IVF_GRID`` grid
    (coordinates HALF_EVEN-quantized — Spark ``bround`` ≡ DuckDB
    ``round_even`` — then ``sum DIV count``, both engines truncating
    toward zero; the ``kmeans_exact_embeddings`` discipline), so the
    cell-assignment argmin Σ(q−c)² is a total integer order with
    (d², cell) tie-break. Magnitudes: |q| ≤ grid·|x| ≈ 10⁴, per-dim
    (q−c)² ≤ ~10⁹, ×64 dims ≈ 10¹¹ — exact in BIGINT on both
    engines. The final candidate ranking is float cosine with the
    same near-tie caveat as ``knn_bruteforce``/``knn_lsh`` (rank
    parity relies on similarity gaps exceeding ulp divergence)."""
    ev = _emb(spark, sf_dir).select(
        "vec_id", "label", "e",
        F.transform("e", lambda x: F.bround(x * IVF_GRID, 0).cast("long"))
         .alias("qv"))

    # IVF training: exact integer-mean centroid per label cell
    cents = (ev.select("label", F.posexplode("qv").alias("dim", "q"))
             .groupBy("label", "dim")
             .agg(F.expr("sum(q) DIV count(*)").alias("c"))
             .groupBy("label")
             .agg(F.transform(F.array_sort(F.collect_list(
                      F.struct("dim", "c"))), lambda x: x["c"]).alias("cv"))
             .select(F.col("label").alias("cell"), "cv"))

    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    w_assign = W.partitionBy("vec_id").orderBy("d2", "cell")
    cells = (ev.crossJoin(F.broadcast(cents))
             .withColumn("d2", d2)
             .withColumn("r", F.row_number().over(w_assign))
             .filter(F.col("r") <= IVF_NPROBE)  # probes for queries; rank 1 = home
             .select("vec_id", "e", "cell", "r"))
    home = cells.filter(F.col("r") == 1).select("vec_id", "e", "cell")

    q = (cells.filter(F.col("vec_id") < N_QUERIES)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("e").alias("qe"), F.col("cell").alias("qc")))
    cand = (F.broadcast(q)
            .join(home.select(F.col("vec_id").alias("neighbor_id"),
                              F.col("e").alias("ne"), F.col("cell")),
                  F.col("qc") == F.col("cell"))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("sim", cosine(F.col("qe"), F.col("ne"))))
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= K)
                .select("query_id", "neighbor_id",
                        F.col("rank").cast("long").alias("rank")))


# The query's own oracle (round-10 promotion): the exact integer-grid
# training + assignment re-derived relationally, then the same
# nprobe=2 candidate join and cosine ranking. SUM over BIGINT is
# HUGEINT in DuckDB — cast back before DIV-mirroring `//`.
KNN_IVF_ORACLE = f"""
WITH qg AS (
  SELECT vec_id, label, i AS dim,
         CAST(round_even(embedding[i + 1]::DOUBLE * {IVF_GRID}, 0)
              AS BIGINT) AS qv
  FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
),
cent AS (
  SELECT label AS cell, dim,
         CAST(CAST(SUM(qv) AS BIGINT) // COUNT(*) AS BIGINT) AS c
  FROM qg GROUP BY label, dim
),
asg AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
  FROM (
    SELECT qg.vec_id, cent.cell,
           CAST(SUM((qv - c) * (qv - c)) AS BIGINT) AS d2
    FROM qg JOIN cent ON qg.dim = cent.dim
    GROUP BY qg.vec_id, cent.cell
  )
),
ev AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
home AS (
  SELECT a.vec_id AS neighbor_id, e AS ne, cell
  FROM asg a JOIN ev ON a.vec_id = ev.vec_id WHERE r = 1
),
probes AS (
  SELECT a.vec_id AS query_id, e AS qe, cell AS qc
  FROM asg a JOIN ev ON a.vec_id = ev.vec_id
  WHERE a.vec_id < {N_QUERIES} AND r <= {IVF_NPROBE}
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT p.query_id, h.neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY list_cosine_similarity(p.qe, h.ne) DESC,
                    h.neighbor_id) AS rank
  FROM probes p JOIN home h
    ON p.qc = h.cell AND p.query_id <> h.neighbor_id
) WHERE rank <= {K}
"""


def _int8_arrays(emb: DataFrame) -> DataFrame:
    """(vec_id, qv) with qv the int8-quantized unit vector — quantize
    ARRAY-NATIVE (identical grid/arithmetic to
    embedding_normalize_quantize: per-dim v² on the 1e-12 HALF_EVEN
    grid, exact long sum, one sqrt, per-dim HALF_EVEN int8) as pure
    JVM array expressions: zero shuffles, where the long-format route
    paid explode + window + collect_list reassembly just to get back
    the array this computes in place. Shared by ``knn_quantized`` and
    ``knn_prefix_dim_recall``."""
    vd = F.transform("embedding", lambda x: x.cast("double"))
    sumsq = F.aggregate(
        "vd", F.lit(0).cast("long"),
        lambda acc, x: acc + F.bround(x * x * F.lit(1e12), 0).cast("long"))
    return (emb.select("vec_id", vd.alias("vd"))
            .withColumn("norm", F.sqrt(sumsq.cast("double") / F.lit(1e12)))
            .select("vec_id", F.when(
                F.col("norm") > 0,
                F.transform("vd", lambda x: F.bround(
                    F.lit(127.0) * x / F.col("norm"), 0).cast("long")))
                .otherwise(F.transform("vd",
                                       lambda x: F.lit(0).cast("long")))
                .alias("qv")))


def knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over INT8-QUANTIZED vectors — the serving-side
    form of ANN: 4x less memory/IO than float32 and integer dot
    products. Built on ``embedding_normalize_quantize``; scoring is
    an exact integer sum (64 dims × 127² ≈ 10⁶ per pair, far inside
    int64/2^53), so unlike float cosine this top-k is FULLY
    oracle-checkable including the score itself. Same broadcast-probe
    shape as knn_bruteforce: the corpus is never shuffled — only
    grouped once to assemble arrays. Quantization recall vs the exact
    float ranking is measured in tests."""
    arr = _int8_arrays(load_table(spark, sf_dir, "embeddings"))
    probes = arr.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("pa"))
    corpus = arr.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("qv").alias("na"))
    iscore = F.aggregate(
        F.zip_with(F.col("pa"), F.col("na"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    cand = (F.broadcast(probes).crossJoin(corpus)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("iscore", iscore))
    w = W.partitionBy("query_id").orderBy(F.col("iscore").desc(),
                                          F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= K)
                .select("query_id", "neighbor_id", "iscore",
                        F.col("rank").cast("long").alias("rank")))


from mapreduce_rust_spark.llm.sharding import EMB_QUANTIZE_ORACLE  # noqa: E402

KNN_QUANTIZED_ORACLE = f"""
WITH q8 AS ({EMB_QUANTIZE_ORACLE}),
arr AS (SELECT vec_id, list(q ORDER BY dim) AS qv FROM q8 GROUP BY vec_id)
SELECT query_id, neighbor_id, iscore, rank FROM (
  SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(list_dot_product(p.qv::DOUBLE[], n.qv::DOUBLE[]) AS BIGINT)
           AS iscore,
         ROW_NUMBER() OVER (
           PARTITION BY p.vec_id
           ORDER BY list_dot_product(p.qv::DOUBLE[], n.qv::DOUBLE[]) DESC,
                    n.vec_id) AS rank
  FROM arr p JOIN arr n ON p.vec_id <> n.vec_id
  WHERE p.vec_id < {N_QUERIES}
)
WHERE rank <= {K}
"""


def allknn_within_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-kNN, k=1: EVERY vector's single nearest neighbor (cosine)
    within its label block — the edge set an embedding-dedup /
    clustering pass starts from (each doc linked to its closest
    peer), vs ``knn_bruteforce``'s small broadcast probe set.

    Shape: block-local self-join (one shuffle on the block key, then
    Σ|block|² similarity work per block — never corpus²) + per-vector
    rank-1 window. The block key is ``label`` here; at 100 TB it is
    the IVF cell id (``pipeline.label_centroids`` trains them), which
    bounds |block| by construction — the same blocked discipline as
    ``embedding_neardup_pairs``, but argmax instead of thresholded.
    Output ranks only (similarity floats excluded: cross-engine
    cosine differs in final ulps; ranking is stable on this data —
    the knn_bruteforce convention).

    Round 12: the Σ|block|² pair work runs INSIDE a per-block numpy
    kernel (``applyInPandas`` on the block key — the IVF-cell matmul
    any production ANN does) instead of a block self-join evaluating
    an interpreted HOF dot per pair. Unit-normalization and the pair
    dot are the fold-exact helpers, and argmax over ids sorted
    ascending reproduces the (sim DESC, nn_id) tie-break bit-for-bit,
    so the oracle is unchanged."""
    from mapreduce_rust_spark.core.runner import _ensure_self_shipping
    _ensure_self_shipping()
    emb = _emb(spark, sf_dir).select("vec_id", "label", "e")
    return emb.groupBy("label").applyInPandas(
        _allknn_block_kernel, "vec_id long, label int, nn_id long")


def _allknn_block_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Per-block rank-1 neighbor: fold-exact unit vectors + Gram, then
    row argmax (ids pre-sorted ascending, so numpy's first-max rule IS
    the nn_id ascending tie-break)."""
    import numpy as np
    if len(pdf) < 2:
        return pd.DataFrame({"vec_id": pd.Series(dtype="int64"),
                             "label": pd.Series(dtype="int32"),
                             "nn_id": pd.Series(dtype="int64")})
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    U = _np_unit(_np_mat(pdf["e"])[order])
    n = len(ids)
    best = np.empty(n, dtype=np.int64)
    # row-slab Gram (see _GRAM_CHUNK): O(chunk·n) peak, same bits
    for c0 in range(0, n, _GRAM_CHUNK):
        c1 = min(c0 + _GRAM_CHUNK, n)
        G = _np_gram(U[c0:c1], U)
        G[np.arange(c1 - c0), np.arange(c0, c1)] = -np.inf  # self
        _np_nan_greatest(G)
        best[c0:c1] = G.argmax(axis=1)
    return pd.DataFrame({"vec_id": ids,
                         "label": pdf["label"].to_numpy()[order],
                         "nn_id": ids[best]})


ALLKNN_ORACLE = """
SELECT vec_id, label, nn_id FROM (
  SELECT a.vec_id, a.label, b.vec_id AS nn_id,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]) DESC,
                    b.vec_id) AS rank
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id
)
WHERE rank = 1
"""


LABEL_NOISE_K = 5


def knn_label_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen by neighborhood agreement: for each vector,
    take its ``LABEL_NOISE_K`` nearest neighbors (cosine) within its
    embedding-cluster block and measure how often the neighbors'
    LANGUAGE label (from the cross-modal documents join — the
    1:1 vec_id = doc_id correspondence ``cluster_keywords_embeddings``
    uses) agrees with the vector's own. Low agreement flags probable
    mislabels — the Confident-Learning-style curation step run before
    trusting labels for filtering or eval.

    Shape: the ``allknn_within_label`` blocked discipline (block =
    cluster id here, the IVF cell at 100 TB — Σ|block|², never
    corpus²), a top-k window per vector instead of rank-1, one
    broadcast-sized documents join for the labels, and one per-vector
    integer aggregate. Similarity floats stay internal (ranking is
    cross-engine stable on this data — the knn convention); the
    output is integer counts + one int÷int division.

    Output: ``(vec_id, lang, n_nbrs, n_agree, agree_rate)``.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang")
    from mapreduce_rust_spark.core.runner import _ensure_self_shipping
    _ensure_self_shipping()
    emb = (_emb(spark, sf_dir).select("vec_id", "label", "e")
           .join(F.broadcast(docs), "vec_id"))
    # Round 12: the Σ|block|² top-k agreement runs inside one
    # per-block numpy kernel (the allknn_within_label rewrite, k > 1):
    # fold-exact unit/Gram, per-row (sim DESC, nn_id) selection via
    # lexsort over ascending ids, integer counts + one int÷int double
    # division — the same output bits as the retired self-join +
    # window + aggregate pipeline.
    return emb.groupBy("label").applyInPandas(
        _consensus_block_kernel,
        "vec_id long, lang string, n_nbrs long, n_agree long, "
        "agree_rate double")


def _consensus_block_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
    import numpy as np
    if len(pdf) < 2:
        return pd.DataFrame({"vec_id": pd.Series(dtype="int64"),
                             "lang": pd.Series(dtype="object"),
                             "n_nbrs": pd.Series(dtype="int64"),
                             "n_agree": pd.Series(dtype="int64"),
                             "agree_rate": pd.Series(dtype="float64")})
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    langs = pdf["lang"].to_numpy()[order]
    U = _np_unit(_np_mat(pdf["e"])[order])
    n = len(ids)
    kk = min(LABEL_NOISE_K, n - 1)
    n_agree = np.empty(n, dtype=np.int64)
    # row-slab Gram (see _GRAM_CHUNK): O(chunk·n) peak, same bits
    for c0 in range(0, n, _GRAM_CHUNK):
        c1 = min(c0 + _GRAM_CHUNK, n)
        G = _np_gram(U[c0:c1], U)
        G[np.arange(c1 - c0), np.arange(c0, c1)] = -np.inf  # self
        _np_nan_greatest(G)
        for i in range(c0, c1):
            # lexsort: last key is primary → (-sim, id asc on ties)
            nbrs = np.lexsort((ids, -G[i - c0]))[:kk]
            n_agree[i] = int(np.sum(langs[nbrs] == langs[i]))
    return pd.DataFrame({"vec_id": ids, "lang": langs,
                         "n_nbrs": np.full(n, kk, dtype=np.int64),
                         "n_agree": n_agree,
                         "agree_rate": n_agree / float(kk)})


KNN_LABEL_CONSENSUS_ORACLE = f"""
WITH lab AS (
  SELECT e.vec_id, e.label, e.embedding, d.lang
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
cand AS (
  SELECT a.vec_id, a.lang, b.lang AS nn_lang,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]) DESC,
                    b.vec_id) AS rank
  FROM lab a JOIN lab b
    ON a.label = b.label AND a.vec_id <> b.vec_id
),
top AS (SELECT * FROM cand WHERE rank <= {LABEL_NOISE_K})
SELECT vec_id, lang, CAST(COUNT(*) AS BIGINT) AS n_nbrs,
       CAST(SUM(CASE WHEN nn_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree,
       CAST(SUM(CASE WHEN nn_lang = lang THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS agree_rate
FROM top GROUP BY vec_id, lang
"""


CLUSTER_KW_TOP = 3
CLUSTER_KW_MIN = 3    # min in-cluster occurrences


def cluster_keywords_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling: for each embedding cluster (``label`` — at
    scale the k-means/IVF cell), the ``CLUSTER_KW_TOP`` most
    DISTINCTIVE tokens of its member documents by frequency lift —
    the human-readable "what is this cluster about" summary every
    clustering/SemDeDup pass needs, and the engine's cross-modal
    join: embeddings (vec_id) ⋈ documents (doc_id) is the 1:1
    id-correspondence the fixture guarantees.

    Same exact-arithmetic shape as domain_keywords_docs (integer
    counts, two correctly-rounded double divisions, no log-idf);
    the (label, tok) aggregate is materialized once for its three
    consumer branches; the per-label top-k window input is
    min-support-thinned."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id",
                    F.explode(F.filter(F.split("text", r"\s+"),
                                       lambda t: t != F.lit("")))
                     .alias("tok")))
    lab = (load_table(spark, sf_dir, "embeddings")
           .select(F.col("vec_id").alias("doc_id"), "label"))
    lt = (docs.join(lab, "doc_id")
              .groupBy("label", "tok").agg(F.count("*").alias("c_lt"))
              .localCheckpoint(eager=True))
    per_tok = lt.groupBy("tok").agg(F.sum("c_lt").alias("c_t"))
    per_lab = lt.groupBy("label").agg(F.sum("c_lt").alias("n_l"))
    total = per_tok.agg(F.sum("c_t").alias("n"))
    lift = ((F.col("c_lt").cast("double") / F.col("n_l"))
            / (F.col("c_t").cast("double") / F.col("n")))
    cand = (lt.filter(F.col("c_lt") >= CLUSTER_KW_MIN)
              .join(per_tok, "tok")
              .join(F.broadcast(per_lab), "label")
              .crossJoin(F.broadcast(total))
              .withColumn("lift", lift))
    w = W.partitionBy("label").orderBy(F.col("lift").desc(), "tok")
    return (cand.withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= CLUSTER_KW_TOP)
                .select("label", "rank", "tok",
                        F.col("c_lt").cast("long").alias("c_lt"), "lift"))


CLUSTER_KEYWORDS_ORACLE = f"""
WITH tok AS (
  SELECT e.label, t.tok
  FROM documents d
  JOIN embeddings e ON e.vec_id = d.doc_id,
       UNNEST(regexp_split_to_array(d.text, '\\s+')) AS t(tok)
  WHERE t.tok <> ''
),
lt AS (SELECT label, tok, COUNT(*) AS c_lt FROM tok GROUP BY 1, 2),
pt AS (SELECT tok, SUM(c_lt) AS c_t FROM lt GROUP BY 1),
pl AS (SELECT label, SUM(c_lt) AS n_l FROM lt GROUP BY 1),
tot AS (SELECT SUM(c_t) AS n FROM pt),
cand AS (
  SELECT lt.label, lt.tok, lt.c_lt,
         (CAST(lt.c_lt AS DOUBLE) / pl.n_l)
           / (CAST(pt.c_t AS DOUBLE) / tot.n) AS lift
  FROM lt JOIN pt USING (tok) JOIN pl USING (label), tot
  WHERE lt.c_lt >= {CLUSTER_KW_MIN}
)
SELECT label, rank, tok, CAST(c_lt AS BIGINT) AS c_lt, lift
FROM (SELECT *, CAST(ROW_NUMBER() OVER (
          PARTITION BY label ORDER BY lift DESC, tok) AS BIGINT) AS rank
      FROM cand)
WHERE rank <= {CLUSTER_KW_TOP}
"""


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar vectors with a DIFFERENT label —
    the negatives that actually move a contrastive loss (random
    negatives are trivially separable; the hardest ones sit just
    across the decision boundary). Same broadcast-probe /
    single-dot-fold plan as ``knn_bruteforce`` with the label
    exclusion pushed into the candidate filter (evaluated before the
    similarity, so excluded pairs never cost a fold). Same oracle
    float-path caveat as knn_bruteforce: a future rank flip is a
    near-tie, not a logic bug (adjacent-gap asserted in tests).

    At 100 TB the probe set broadcasts and candidates stream; the
    label filter thins the candidate stream by the label-mass of the
    query's own class, and the IVF/LSH variants compose the same way
    (mine within the probed cells only).

    Output: ``(query_id, neighbor_id, neighbor_label, rank)``.
    """
    emb = _emb(spark, sf_dir).select(
        "vec_id", "label", unit(F.col("e")).alias("en"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"),
        F.col("en").alias("qe"))
    cand = (F.broadcast(q)
            .crossJoin(emb.select(F.col("vec_id").alias("neighbor_id"),
                                  F.col("label").alias("neighbor_label"),
                                  F.col("en").alias("ne")))
            .filter(F.col("qlabel") != F.col("neighbor_label"))
            .withColumn("sim", dot(F.col("qe"), F.col("ne"))))
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                          F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= K)
                .select("query_id", "neighbor_id",
                        F.col("neighbor_label").cast("long")
                         .alias("neighbor_label"),
                        F.col("rank").cast("long").alias("rank")))


HARD_NEGATIVES_ORACLE = f"""
SELECT query_id, neighbor_id, neighbor_label, rank FROM (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(n.label AS BIGINT) AS neighbor_label,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                           n.embedding::DOUBLE[]) DESC,
                    n.vec_id) AS rank
  FROM embeddings q JOIN embeddings n ON q.label <> n.label
  WHERE q.vec_id < {N_QUERIES}
)
WHERE rank <= {K}
"""


COV_GRID = 1e4   # quantization grid for covariance sums: q ≤ ~5e3
                 # per value, q² ≤ ~3e7 per product, so BIGINT sums
                 # stay exact past 1e10 rows — the 100 TB embedding
                 # corpus fits in int64 with no DECIMAL upgrade
COV_INROW_DIM_LIMIT = 0     # round-12: the per-Arrow-batch Gram path
                            # (exact int64 QᵀQ, bit-identical to the
                            # in-row fold — pinned by test) wins at
                            # EVERY dim, not just d > 128: at d = 64 /
                            # sf0.1 the in-row form explodes 4.16M
                            # structs through an interpreted HOF and
                            # measures 2.6-6.4 s vs 1.0-2.9 s for the
                            # Gram kernel (guide §4.2 — hand whole
                            # batches to vectorized native code). The
                            # in-row form is kept for the parity test
                            # and as the no-Python fallback.


def _cov_pair_sums_inrow(q: DataFrame) -> DataFrame:
    """Upper-triangle product sums via in-row pair explode — JVM-only,
    right up to moderate d. ``q`` bound to a resolved attribute so
    HOF references are slot reads (the _ordered_pairs discipline)."""
    qa = F.col("q")
    pairs = F.flatten(F.transform(
        qa, lambda x, i: F.transform(
            F.slice(qa, i + 1, F.size(qa)),
            lambda y, k: F.struct(i.alias("i"), (i + k).alias("j"),
                                  (x * y).alias("p")))))
    return (q.select(F.explode(pairs).alias("e"))
            .groupBy(F.col("e.i").alias("i"), F.col("e.j").alias("j"))
            .agg(F.sum("e.p").alias("sxy")))


def _cov_pair_sums_blocked(q: DataFrame) -> DataFrame:
    """Upper-triangle product sums via per-Arrow-batch integer Gram
    matrices (``mapInPandas``): each ~10k-row batch contributes ONE
    d(d+1)/2 partial (Qᵀ Q in int64 — exact), so the pre-shuffle
    volume is (#batches)·d²/2, not (#rows)·d²/2 — a ~10⁴× reduction
    at d = 512. Sums are integer in both paths, so the two are
    bit-identical (asserted in tests) and either satisfies the same
    oracle."""
    def gram(batches):
        import numpy as np
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            G = Q.T @ Q
            iu = np.triu_indices(G.shape[0])
            yield pd.DataFrame({"i": iu[0], "j": iu[1], "p": G[iu]})

    return (q.select("q").mapInPandas(gram, "i long, j long, p long")
            .groupBy("i", "j").agg(F.sum("p").alias("sxy")))


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding columns on
    the exact ``COV_GRID`` quantization grid — the sufficient
    statistic behind PCA/whitening/feature-correlation diagnostics
    of an embedding corpus, computed as ONE pass of exact integer
    sums: per-row in-row pair products (d(d+1)/2 per row, in-row —
    never a self-join over rows), then a partial-combinable groupBy
    on (i, j) whose shuffle is d(d+1)/2 GROUPS regardless of corpus
    size. cov = E[xy] − E[x]E[y] assembled from the integer sums in
    one fixed IEEE DAG, identical on both engines.

    Output: ``(i, j, n, sxy, cov)`` for i ≤ j (sxy = exact grid
    product sum; cov unscaled back to data units).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.withColumn(
        "q", F.transform("embedding",
                         lambda v: F.bround(v.cast("double")
                                            * F.lit(COV_GRID), 0)
                                    .cast("long")))
    first = emb.select(F.size("embedding").alias("d")).first()
    dim = int(first["d"]) if first is not None else 0
    sxy = (_cov_pair_sums_inrow(q) if dim <= COV_INROW_DIM_LIMIT
           else _cov_pair_sums_blocked(q))
    sums = (q.select(F.posexplode("q").alias("dim", "qv"))
            .groupBy("dim").agg(F.sum("qv").alias("sx")))
    n = emb.agg(F.count("*").alias("n"))
    si, sj = sums.alias("si"), sums.alias("sj")
    nd = F.col("n").cast("double")
    return (sxy.join(F.broadcast(si), F.col("i") == F.col("si.dim"))
            .join(F.broadcast(sj), F.col("j") == F.col("sj.dim"))
            .crossJoin(F.broadcast(n))
            .select(F.col("i").cast("long").alias("i"),
                    F.col("j").cast("long").alias("j"),
                    F.col("n").cast("long").alias("n"),
                    F.col("sxy").cast("long").alias("sxy"),
                    ((F.col("sxy").cast("double") / nd
                      - (F.col("si.sx").cast("double") / nd)
                      * (F.col("sj.sx").cast("double") / nd))
                     / F.lit(COV_GRID * COV_GRID)).alias("cov")))


EMB_COV_ORACLE = f"""
WITH q AS (
  SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS dim,
         CAST(round_even(CAST(u.v AS DOUBLE) * {COV_GRID:.0f}, 0)
              AS BIGINT) AS qv
  FROM embeddings,
  LATERAL (SELECT embedding[i] AS v, i
           FROM UNNEST(generate_series(1, len(embedding))) AS g(i)) u(v, i)
),
nn AS (SELECT COUNT(*) AS n FROM embeddings),
s AS (SELECT dim, CAST(SUM(qv) AS BIGINT) AS sx FROM q GROUP BY dim),
p AS (
  SELECT a.dim AS i, b.dim AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS sxy
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
)
SELECT p.i, p.j, CAST(nn.n AS BIGINT) AS n, p.sxy,
       (CAST(p.sxy AS DOUBLE) / CAST(nn.n AS DOUBLE)
        - (CAST(si.sx AS DOUBLE) / CAST(nn.n AS DOUBLE))
          * (CAST(sj.sx AS DOUBLE) / CAST(nn.n AS DOUBLE)))
       / {COV_GRID * COV_GRID:.0f} AS cov
FROM p
JOIN s si ON si.dim = p.i
JOIN s sj ON sj.dim = p.j
CROSS JOIN nn
"""


PCA_TOP_K = 5


def embedding_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PCA_TOP_K`` principal components of the embedding
    corpus: the distributed part is exactly ``embedding_covariance``
    (one pass, d(d+1)/2-group shuffle); the eigendecomposition runs
    driver-side on the collected d×d matrix — d² floats, the same
    bounded-collect pattern as kmeans' k×d centroids (a 64×64 eigh
    is microseconds; no iteration ever touches the cluster). No SQL
    oracle (eigenvectors aren't ANSI-expressible) — rows-only, with
    a numpy-parity test pinning eigenvalues against a direct
    ``np.cov`` of the full corpus.

    Output: ``(component, eigenvalue, explained_ratio)`` — ratio is
    over the FULL trace (all d eigenvalues), not just the top k.
    """
    import numpy as np

    cov_rows = embedding_covariance(spark, sf_dir).collect()
    d = max(r["j"] for r in cov_rows) + 1
    m = np.zeros((d, d))
    for r in cov_rows:
        m[r["i"], r["j"]] = r["cov"]
        m[r["j"], r["i"]] = r["cov"]
    vals = np.linalg.eigvalsh(m)[::-1]        # descending
    trace = float(vals.sum())
    # All-constant (zero-variance) corpus: trace == 0, ratios undefined —
    # emit 0.0 rather than divide by zero.
    rows = [(k + 1, float(vals[k]),
             float(vals[k]) / trace if trace != 0.0 else 0.0)
            for k in range(min(PCA_TOP_K, d))]
    return _local_rows(spark, rows, "component long, eigenvalue double, "
                       "explained_ratio double")


REGISTRATIONS = [
    ("knn_bruteforce", knn_bruteforce, KNN_BRUTEFORCE_ORACLE),
    ("cluster_keywords_embeddings", cluster_keywords_embeddings,
     CLUSTER_KEYWORDS_ORACLE),
    ("allknn_within_label", allknn_within_label, ALLKNN_ORACLE),
    ("knn_lsh", knn_lsh, None),  # oracle patched in below KNN_LSH_ORACLE
    ("knn_ivf", knn_ivf, KNN_IVF_ORACLE),  # oracled round 10 (exact-grid cells)
    ("knn_quantized", knn_quantized, KNN_QUANTIZED_ORACLE),
    ("embedding_covariance", embedding_covariance, EMB_COV_ORACLE),
    ("hard_negatives", hard_negatives, HARD_NEGATIVES_ORACLE),
    ("knn_label_consensus", knn_label_consensus,
     KNN_LABEL_CONSENSUS_ORACLE),
    ("embedding_pca_topk", embedding_pca_topk, None),  # eigh not SQL-expressible — numpy-parity-tested
]


MMR_K = 5        # diversified picks
MMR_POOL = 16    # relevance-ranked candidate pool fed to the greedy
MMR_LAMBDA = 0.5


def _mmr_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase 1 of MMR — the DISTRIBUTED part: score relevance in one
    corpus scan, take the top-MMR_POOL via TakeOrderedAndProject
    (plan-pinned in tests/test_plans.py; never a global Sort)."""
    emb = _emb(spark, sf_dir).select("vec_id", F.col("e").alias("v"))
    qmin = emb.agg(F.min("vec_id").alias("qid"))
    q = (emb.join(F.broadcast(qmin), emb.vec_id == F.col("qid"))
         .select(F.col("v").alias("qv")))
    scored = (emb.crossJoin(F.broadcast(q))
              .join(F.broadcast(qmin), emb.vec_id == F.col("qid"),
                    "left_anti")
              .select("vec_id", "v",
                      cosine(F.col("v"), F.col("qv")).alias("rel")))
    return scored.orderBy(F.col("rel").desc(), "vec_id").limit(MMR_POOL)


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k: from the
    relevance-ranked candidate pool (cosine to the query = the
    min-vec_id embedding), greedily pick ``MMR_K`` items maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    standard result-diversification stage after ANN retrieval (plain
    top-k returns near-duplicates of one mode; MMR spends part of the
    budget on coverage).

    Two-phase, matching how retrieval actually scales: phase 1 is the
    DISTRIBUTED part — one corpus scan scoring relevance (a single
    dot fold per row over double-cast arrays) and a
    TakeOrdered top-``MMR_POOL`` (never a global sort); phase 2 is
    the greedy loop over the POOL-sized frame (16 rows — dims), k
    chained tiny plans, each one anti-join + pair-max + ordered
    LIMIT 1. The loop is k = 5 fixed steps, so the DuckDB oracle is
    the chained-CTE expansion of the same greedy recursion (the
    pagerank_exact pattern).

    Float exactness: every cosine is the engine-wide sequential fold
    (Spark F.aggregate ≡ DuckDB list_reduce — bit-identical IEEE
    sequence, round-5 lesson) in the cosine() helper's exact DAG
    dot/sqrt(n2a·n2b); the MMR score is the same three-op expression
    both engines; MAX over penalties and the (score DESC, vec_id)
    argmax are exact comparisons. Ties beyond ulp noise are a
    near-tie doctrine case (knn_bruteforce note).

    Output: ``(step, vec_id, rel, mmr_score)``.
    """
    # Round 12: the greedy loop runs DRIVER-SIDE over the collected
    # pool — MMR_POOL (16) rows, the same bounded-collect class as the
    # BPE driver loop — instead of k chained tiny plans with an eager
    # localCheckpoint each (4 checkpoints + ~15 scheduled jobs for 16
    # rows). Float semantics are preserved operation-for-operation:
    # rel comes back exact from phase 1; each penalty is the identical
    # cosine() DAG (fold dot / sqrt(fold·fold), Python floats ARE IEEE
    # doubles); score = λ·rel − (1−λ)·max(pen) in the same op order;
    # argmax breaks ties on vec_id ascending like the ordered LIMIT 1.
    pool = _mmr_pool(spark, sf_dir).collect()

    import math

    def _cos(a, b):
        acc = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        for x in a:
            na = na + x * x
        for y in b:
            nb = nb + y * y
        return acc / math.sqrt(na * nb)   # cosine()'s exact DAG

    rows = [(r["vec_id"], r["v"], r["rel"]) for r in pool]
    sel: list[tuple] = []   # (step, vec_id, rel, mmr_score)
    sel_vecs: list = []
    for step in range(1, MMR_K + 1):
        cand = [t for t in rows if t[0] not in {s[1] for s in sel}]
        if not cand:
            break
        best = None
        for vid, v, rel in cand:
            if step == 1:
                score = MMR_LAMBDA * rel
            else:
                pen = max(_cos(v, sv) for sv in sel_vecs)
                score = MMR_LAMBDA * rel - (1 - MMR_LAMBDA) * pen
            # ORDER BY score DESC, vec_id — strict > keeps the
            # smallest vec_id on exact float ties
            if best is None or score > best[3] or (
                    score == best[3] and vid < best[1]):
                best = (step, vid, rel, score, v)
        sel.append(best[:4])
        sel_vecs.append(best[4])
    return _local_rows(
        spark, [(s, int(v), float(r), float(m)) for s, v, r, m in sel],
        "step long, vec_id long, rel double, mmr_score double")


def _mmr_oracle() -> str:
    """Chained-CTE expansion of the fixed-k greedy recursion (the
    pagerank_exact oracle pattern): selN picks the argmax of the MMR
    score against sel1..selN-1, each cosine the same sequential-fold
    IEEE sequence as the Spark path."""
    dot = ("list_reduce(list_transform(range(1, len({a}) + 1), "
           "i -> {a}[i] * {b}[i]), (x, y) -> x + y)")
    n2 = ("list_reduce(list_transform(range(1, len({a}) + 1), "
          "i -> {a}[i] * {a}[i]), (x, y) -> x + y)")

    def cos(a: str, b: str) -> str:
        return (f"({dot.format(a=a, b=b)} / sqrt({n2.format(a=a)}"
                f" * {n2.format(a=b)}))")

    lam = MMR_LAMBDA
    parts = [f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
qm AS (SELECT MIN(vec_id) AS qid FROM e),
q AS (SELECT v AS qv FROM e, qm WHERE vec_id = qid),
pool AS (
  SELECT vec_id, v, {cos('v', 'qv')} AS rel
  FROM e, q, qm WHERE vec_id <> qid
  ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}
),
sel1 AS (SELECT vec_id, v, rel, {lam} * rel AS mmr_score,
                CAST(1 AS BIGINT) AS step
         FROM pool ORDER BY rel DESC, vec_id LIMIT 1)"""]
    prev_union = "SELECT * FROM sel1"
    for s in range(2, MMR_K + 1):
        prev = f"selu{s - 1}"
        parts.append(f"""
selu{s - 1} AS ({prev_union}),
sel{s} AS (
  SELECT p.vec_id, p.v, p.rel,
         {lam} * p.rel - {1 - lam} * MAX({cos('p.v', 's.v')})
           AS mmr_score,
         CAST({s} AS BIGINT) AS step
  FROM pool p, {prev} s
  WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY p.vec_id, p.v, p.rel
  ORDER BY mmr_score DESC, p.vec_id LIMIT 1
)""")
        prev_union += f" UNION ALL SELECT * FROM sel{s}"
    body = ",".join(parts)
    finals = " UNION ALL ".join(
        f"SELECT step, vec_id, rel, mmr_score FROM sel{s}"
        for s in range(1, MMR_K + 1))
    return body + "\n" + finals


MMR_ORACLE = _mmr_oracle()


REGISTRATIONS.append(("mmr_diverse_topk", mmr_diverse_topk, MMR_ORACLE))


COS_HIST_TARGET = 500   # sample size the audit aims at (fixed cost)
COS_HIST_SCALE = 20     # bucket = floor(cos * 20) ∈ [-20, 20]


def cosine_hist_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution audit — the readout run BEFORE
    tuning ANN (LSH band count, IVF probe depth, SemDeDup τ): the
    histogram of cosines over a deterministic vector sample tells you
    where the near-dup mass sits and whether a threshold separates
    modes. Sample = vec_id % mod == 0 with mod = max(1,
    n DIV ``COS_HIST_TARGET``) — the mod SCALES WITH THE CORPUS so
    the pair volume stays ~TARGET²/2 at any size (an audit needs
    fixed precision, not growth; measured: the naive fixed-mod form
    went quadratic, 1.5 → 98 s at ×10 vectors). The corpus count
    enters the predicate as a broadcast 1-row aggregate, never a
    driver-side .count(). All C(s,2) sample pairs, bucketed at 0.05
    resolution.

    Exactness: vectors unit-normalize once (per-element division by
    the IEEE sqrt of the fold norm — identical sequence both
    engines), each pair is ONE dot fold (allknn convention), and
    floor(dot·20) buckets the identical double identically.

    Scale: one corpus scan for the filter; the sample side is
    TARGET-sized by construction, so the pair join is a broadcast
    nested-loop, never a shuffle of the corpus.

    Output: ``(bucket, cos_lo, n_pairs)``.
    """
    from mapreduce_rust_spark.core.runner import _ensure_self_shipping
    _ensure_self_shipping()
    emb = _emb(spark, sf_dir)
    nrow = emb.agg(F.count("*").alias("__n"))
    mod = F.greatest(F.lit(1),
                     F.expr(f"__n DIV {COS_HIST_TARGET}"))
    s = (emb.crossJoin(F.broadcast(nrow))
         .where(F.col("vec_id") % mod == 0)
         .select("vec_id", unit(F.col("e")).alias("u"))
         .localCheckpoint(eager=True))   # distributed filter pass
    # Round 12: the C(s,2) pair folds run in ONE numpy kernel over the
    # TARGET-bounded checkpointed sample (coalesce(1) reads the
    # materialized blocks into a single task — the sample is
    # fixed-size by construction, so this is dims-scale work; the
    # corpus filter above still runs distributed). floor(fold-dot ·
    # SCALE) is the identical double, so buckets are unchanged.
    hist = (s.coalesce(1)
            .mapInPandas(_cos_hist_batches, "bucket long, n_pairs long")
            .groupBy("bucket")
            .agg(F.sum("n_pairs").cast("long").alias("n_pairs")))
    return hist.select("bucket",
                       (F.col("bucket").cast("double") / COS_HIST_SCALE)
                       .alias("cos_lo"), "n_pairs")


def _cos_hist_batches(batches) -> "pd.DataFrame":
    import numpy as np
    # one Arrow batch can cap at maxRecordsPerBatch rows — concatenate
    # the whole (single, coalesced) partition first, or cross-batch
    # pairs would be silently dropped
    parts = [pdf for pdf in batches if len(pdf)]
    if parts:
        pdf = (pd.concat(parts, ignore_index=True)
               if len(parts) > 1 else parts[0])
    for pdf in ([pdf] if parts and len(pdf) >= 2 else []):
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        U = _np_mat(pdf["u"])[order]     # already unit-normalized
        G = _np_gram(U, U)
        iu = np.triu_indices(len(ids), k=1)   # ia < ib pairs exactly
        b = np.floor(G[iu] * COS_HIST_SCALE).astype(np.int64)
        vals, counts = np.unique(b, return_counts=True)
        yield pd.DataFrame({"bucket": vals,
                            "n_pairs": counts.astype(np.int64)})


COS_HIST_ORACLE = f"""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  WHERE vec_id % GREATEST(1, (SELECT COUNT(*) FROM embeddings)
                             // {COS_HIST_TARGET}) = 0
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_transform(range(1, len(v) + 1),
              i -> v[i] * v[i]), (x, y) -> x + y)) AS nrm
  FROM s
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS un FROM n),
p AS (
  SELECT CAST(FLOOR(list_reduce(list_transform(
           range(1, len(a.un) + 1), i -> a.un[i] * b.un[i]),
           (x, y) -> x + y) * {COS_HIST_SCALE}) AS BIGINT) AS bucket
  FROM u a JOIN u b ON a.vec_id < b.vec_id
)
SELECT bucket, CAST(bucket AS DOUBLE) / {COS_HIST_SCALE} AS cos_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM p GROUP BY bucket
"""


REGISTRATIONS.append(("cosine_hist_embeddings", cosine_hist_embeddings,
                      COS_HIST_ORACLE))

def knn_eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality EVALUATION as an operator (the ``dedup_eval_lsh``
    pattern, VERDICT r7 item 3): per-query recall@k of the
    sign-random-projection LSH path (``knn_lsh``) against the exact
    brute-force baseline (``knn_bruteforce``) — the measurement a
    production ANN rollout runs before swapping brute force for the
    bucketed path (is multi-probe recall acceptable on OUR corpus?).

    Composition, not reimplementation: the operator calls the two
    registered queries and reduces their (query, neighbor) join to
    per-query hit counts; the oracle nests the brute-force oracle as a
    CTE and re-derives the LSH top-k relationally — the hyperplane
    signs are SQL-expressible because the projection <e, w_p> is the
    identical sequential fold on both engines (Spark ``F.aggregate``
    over ``zip_with`` ≡ DuckDB ``list_reduce`` over ``list_zip``, the
    proven bit-identical pair) over the same ±1 md5-parity weight
    literals the Spark plan bakes in. Hits and recall are exact
    integers (basis points via int DIV int).

    Scale: both inputs are broadcast-probe shapes over the corpus; the
    eval join itself is |Q|·k vs |Q|·k rows — negligible at any scale.

    Output: ``(query_id, hits, k_eval, recall_bp)``.
    """
    lsh = knn_lsh(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit"))
    bf = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    # both sides are |Q|·k rows by construction — broadcast, don't
    # let the static planner sort-merge two window outputs
    j = bf.join(F.broadcast(lsh), ["query_id", "neighbor_id"], "left")
    return (j.groupBy("query_id")
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                  .cast("long").alias("hits"),
                 F.count("*").cast("long").alias("k_eval"))
            .select("query_id", "hits", "k_eval",
                    F.expr("hits * 10000 DIV k_eval").alias("recall_bp")))


def _lsh_bucket_sql() -> str:
    """The sign-random-projection bucket id as one DuckDB expression
    over ``embeddings`` — the relational mirror of ``_bucket`` (same
    ±1 md5-parity weight literals, same sequential fold). Shared by
    the knn_eval_recall and lsh_bucket_stats oracles."""
    def proj(p: int) -> str:
        w = ",".join("1" if x > 0 else "-1" for x in _plane_weights(p))
        return (f"list_reduce(list_transform(list_zip("
                f"embedding::DOUBLE[], ([{w}]::DOUBLE[])[1:len(embedding)]),"
                f" s -> s[1] * s[2]), (a, b) -> a + b)")

    return " + ".join(
        f"(CASE WHEN {proj(p)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES))


def _lsh_topk_sql() -> str:
    """The LSH top-k (query_id, neighbor_id) set as a DuckDB CTE body,
    mirroring ``knn_lsh`` exactly: same MAX_DIM-length ±1 weight
    literals sliced to the vector length, same sequential projection
    fold, same multi-probe (home bucket + every Hamming-1 bucket),
    same cosine ranking with vec_id tiebreak."""
    bucket = _lsh_bucket_sql()
    probes = ", ".join(f"xor(bucket, {1 << p})" for p in range(N_PLANES))
    return f"""
bkt AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, {bucket} AS bucket
  FROM embeddings
),
probes AS (
  SELECT vec_id AS query_id, e AS qe,
         unnest([bucket, {probes}]) AS qb
  FROM bkt WHERE vec_id < {N_QUERIES}
),
lsh AS (
  SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
    SELECT p.query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.query_id
             ORDER BY list_cosine_similarity(p.qe, n.e) DESC, n.vec_id
           ) AS rank
    FROM probes p JOIN bkt n
      ON p.qb = n.bucket AND p.query_id <> n.vec_id
  ) WHERE rank <= {K}
)"""


KNN_LSH_ORACLE = f"""
WITH {_lsh_topk_sql()}
SELECT query_id, neighbor_id, rank FROM lsh
"""

# knn_lsh registered rows-only above (the oracle text needs
# _lsh_topk_sql, defined here); promote it now that the recall
# evaluator has proven the relational mirror of the bucketed top-k
REGISTRATIONS[:] = [(n, f, KNN_LSH_ORACLE if n == "knn_lsh" else o)
                    for n, f, o in REGISTRATIONS]


KNN_EVAL_RECALL_ORACLE = f"""
WITH bf AS ({KNN_BRUTEFORCE_ORACLE}),
{_lsh_topk_sql()}
SELECT b.query_id,
       CAST(COUNT(l.query_id) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS k_eval,
       CAST(COUNT(l.query_id) AS BIGINT) * 10000
         // CAST(COUNT(*) AS BIGINT) AS recall_bp
FROM bf b LEFT JOIN lsh l
  ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
GROUP BY b.query_id
"""


REGISTRATIONS.append(("knn_eval_recall", knn_eval_recall,
                      KNN_EVAL_RECALL_ORACLE))


def ivf_eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the IVF path (``knn_ivf``) against the
    exact brute-force baseline — the IVF twin of ``knn_eval_recall``
    (VERDICT r10 item 3 / r11 item 3): the measurement that justifies
    the ``IVF_NPROBE`` setting before a rollout swaps brute force for
    cell-probed search. Composition, not reimplementation: both
    inputs are the registered queries; the oracle nests their two
    registered oracle strings verbatim as parenthesized CTE bodies
    (the ``dedup_eval_lsh`` recipe).

    Recall/cost frontier on the fixture (SCALE.md round 12): the
    label-cell quantizer has 10 cells; measured recall@5 by nprobe is
    1→0.18, 2→0.38, 3→0.52, 4→0.68, 5→0.74 — ``IVF_NPROBE=4`` is the
    first setting clearing the 0.6 bar the LSH path is held to, at
    ~4/10 of the corpus per query. Recorded by this operator,
    watched by bench.py.

    Scale: the eval join is |Q|·k vs |Q|·k rows — negligible.

    Output: ``(query_id, hits, k_eval, recall_bp)``.
    """
    ivf = knn_ivf(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit"))
    bf = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    j = bf.join(F.broadcast(ivf), ["query_id", "neighbor_id"], "left")
    return (j.groupBy("query_id")
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                  .cast("long").alias("hits"),
                 F.count("*").cast("long").alias("k_eval"))
            .select("query_id", "hits", "k_eval",
                    F.expr("hits * 10000 DIV k_eval").alias("recall_bp")))


IVF_EVAL_RECALL_ORACLE = f"""
WITH bf AS ({KNN_BRUTEFORCE_ORACLE}),
ivf AS ({KNN_IVF_ORACLE})
SELECT b.query_id,
       CAST(COUNT(l.query_id) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS k_eval,
       CAST(COUNT(l.query_id) AS BIGINT) * 10000
         // CAST(COUNT(*) AS BIGINT) AS recall_bp
FROM bf b LEFT JOIN ivf l
  ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
GROUP BY b.query_id
"""


REGISTRATIONS.append(("ivf_eval_recall", ivf_eval_recall,
                      IVF_EVAL_RECALL_ORACLE))


CENT_GRID = 10_000   # quantization grid for the centroid-distance screen
CENT_OUT_K = 3       # flagged vectors per label


def label_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen by CENTROID distance — the classic
    mislabeled-point readout (cheaper than the kNN consensus of
    ``knn_label_consensus``, and the standard first pass at corpus
    scale): for each label, flag the ``CENT_OUT_K`` vectors farthest
    from their own label's centroid.

    Exactness (what makes a float-geometry screen oracle-checkable):
    coordinates quantize to the ``CENT_GRID`` integer grid with
    HALF_EVEN (Spark ``bround`` ≡ DuckDB ``round_even``), and instead
    of comparing float distances to a float centroid, the ranking
    compares n²·‖x − s/n‖² = Σ_d (q_d·n − s_d)² — all-integer
    sufficient statistics (s_d = per-label per-dim sums), squared in
    DECIMAL(38) on the Spark side / HUGEINT in DuckDB, so the
    ordering is exact on both engines.

    Scale: one explode to (label, dim) cells, a ≤|labels|·d-row
    centroid-sums table broadcast back, one per-vector aggregate and
    a per-label top-k window. No pairwise work anywhere.

    Output: ``(label, vec_id, out_rank)``, out_rank ∈ 1..CENT_OUT_K.
    """
    emb = _emb(spark, sf_dir)
    q = (emb.select("vec_id", "label",
                    F.posexplode("e").alias("dim", "x"))
            .select("vec_id", "label", "dim",
                    F.bround(F.col("x") * CENT_GRID, 0)
                     .cast("long").alias("qv")))
    s = (q.groupBy("label", "dim")
          .agg(F.sum("qv").alias("sv"), F.count("*").alias("n")))
    diff = (F.col("qv") * F.col("n") - F.col("sv")).cast("decimal(38,0)")
    dist = (q.join(F.broadcast(s), ["label", "dim"])
             .select("vec_id", "label", (diff * diff).alias("term"))
             .groupBy("vec_id", "label")
             .agg(F.sum("term").alias("dist")))
    w = W.partitionBy("label").orderBy(F.col("dist").desc(), F.col("vec_id"))
    return (dist.withColumn("out_rank", F.row_number().over(w))
                .filter(F.col("out_rank") <= CENT_OUT_K)
                .select("label", "vec_id",
                        F.col("out_rank").cast("long").alias("out_rank")))


LABEL_CENTROID_OUTLIERS_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label, i AS dim,
         CAST(round_even(embedding[i + 1]::DOUBLE * {CENT_GRID}, 0)
              AS BIGINT) AS qv
  FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
),
s AS (
  SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS sv, COUNT(*) AS n
  FROM q GROUP BY label, dim
),
d AS (
  SELECT vec_id, q.label,
         SUM(CAST(qv * n - sv AS HUGEINT) * CAST(qv * n - sv AS HUGEINT))
           AS dist
  FROM q JOIN s ON q.label = s.label AND q.dim = s.dim
  GROUP BY vec_id, q.label
)
SELECT label, vec_id, out_rank FROM (
  SELECT label, vec_id,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist DESC, vec_id) AS out_rank
  FROM d
)
WHERE out_rank <= {CENT_OUT_K}
"""


REGISTRATIONS.append(("label_centroid_outliers", label_centroid_outliers,
                      LABEL_CENTROID_OUTLIERS_ORACLE))


def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy audit — the readout that decides whether
    the plane count is right BEFORE paying for a recall eval: with
    2^N_PLANES buckets, a balanced table costs each probe
    (1+planes)/2^planes of the corpus; one overloaded bucket (the
    all-vectors-correlated failure mode) silently turns the "ANN"
    path quadratic. Reports per-bucket counts and shares plus what a
    multi-probe query would scan. Pairs with ``cosine_hist_embeddings``
    (angle mass) and ``knn_eval_recall`` (quality) as the ANN tuning
    trio.

    Exactness: the bucket id is the same bit-identical projection
    fold the recall oracle re-derives; counts and basis points are
    pure integers.

    Scale: one corpus scan + a ≤2^planes-row aggregate.

    Output: ``(bucket, n_vecs, share_bp)``.
    """
    from mapreduce_rust_spark.core.runner import _ensure_self_shipping
    _ensure_self_shipping()
    emb = (_emb(spark, sf_dir).select("vec_id", "e")
           .mapInPandas(_lsh_bucket_batches,
                        "vec_id long, e array<double>, bucket int"))
    cnt = emb.groupBy("bucket").agg(F.count("*").cast("long").alias("n_vecs"))
    tot = cnt.agg(F.sum("n_vecs").alias("n_all"))
    return (cnt.crossJoin(F.broadcast(tot))
            .select("bucket", "n_vecs",
                    F.expr("n_vecs * 10000 DIV n_all").alias("share_bp")))


LSH_BUCKET_STATS_ORACLE = f"""
WITH bkt AS (
  SELECT vec_id, {_lsh_bucket_sql()} AS bucket FROM embeddings
),
cnt AS (SELECT bucket, COUNT(*) AS n_vecs FROM bkt GROUP BY bucket),
tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_all FROM cnt)
SELECT bucket, CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(n_vecs AS BIGINT) * 10000 // n_all AS share_bp
FROM cnt, tot
"""


REGISTRATIONS.append(("lsh_bucket_stats", lsh_bucket_stats,
                      LSH_BUCKET_STATS_ORACLE))


RRF_K = 60        # the standard Cormack/Clarke/Buettcher constant
RRF_POOL = 100    # per-ranker candidate pool fused (top-N lists)
RRF_TOP_K = 20    # fused results returned
RRF_QVEC = 0      # vec_id whose embedding plays the dense query


def rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack, Clarke &
    Buettcher, SIGIR 2009) — THE standard way modern search stacks
    combine a sparse lexical ranker with a dense vector ranker
    without score calibration: each ranker contributes
    1/(60 + rank), missing-from-pool contributes 0, and documents
    strong on either list (or decent on both) float to the top.
    Sparse side: the ``bm25_scored`` table for ``SEARCH_TERMS``.
    Dense side: exact dot product against ``RRF_QVEC``'s embedding
    on the ``CENT_GRID`` integer grid (1:1 vec_id = doc_id, the
    ``cluster_keywords_embeddings`` correspondence); the query doc
    itself is excluded from both pools.

    Exactness: dense scores are exact BIGINT dot products of
    HALF_EVEN-quantized coordinates; sparse ranks order by the
    bit-identical BM25 float chain; fusion is pure integer —
    contribution = 10⁹ DIV (60 + rank) in parts-per-billion, summed
    and re-ranked with doc_id tie-breaks. Rank 0 is the explicit
    "not in this ranker's pool" sentinel (NULL would round-trip as
    float through pandas and break the hash).

    Scale shape: both rankers end in top-``RRF_POOL``
    TakeOrderedAndProject (never a global sort); the fusion is a
    full-outer join of two 100-row lists — broadcast-trivial at any
    corpus size. The dense scan is one explode + broadcast-dim join
    + per-vector aggregate; the sparse scan prunes to query-term
    tokens at the source.

    Output: ``(doc_id, rank_sparse, rank_dense, rrf_ppb,
    fused_rank)``, fused_rank ∈ 1..RRF_TOP_K.
    """
    from mapreduce_rust_spark.llm.textanalysis import bm25_scored
    from mapreduce_rust_spark.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    # top-POOL first (TakeOrderedAndProject — never a global sort),
    # THEN row_number over the POOL-row list (single tiny partition)
    sparse = (bm25_scored(docs)
              .filter(F.col("doc_id") != RRF_QVEC)
              .orderBy(F.desc("score"), "doc_id").limit(RRF_POOL)
              .withColumn("rank_sparse", F.row_number().over(
                  W.orderBy(F.desc("score"), "doc_id")))
              .select("doc_id", "rank_sparse"))

    q = (_emb(spark, sf_dir)
         .select("vec_id", F.posexplode("e").alias("dim", "x"))
         .select("vec_id", "dim",
                 F.bround(F.col("x") * CENT_GRID, 0)
                  .cast("long").alias("qv")))
    qvec = (q.filter(F.col("vec_id") == RRF_QVEC)
             .select("dim", F.col("qv").alias("qq")))
    dense = (q.filter(F.col("vec_id") != RRF_QVEC)
              .join(F.broadcast(qvec), "dim")
              .groupBy("vec_id")
              .agg(F.sum(F.col("qv") * F.col("qq")).alias("dot"))
              .orderBy(F.desc("dot"), "vec_id").limit(RRF_POOL)
              .withColumn("rank_dense", F.row_number().over(
                  W.orderBy(F.desc("dot"), "vec_id")))
              .select(F.col("vec_id").alias("doc_id"), "rank_dense"))

    fused = (sparse.join(dense, "doc_id", "full_outer")
             .select("doc_id",
                     F.coalesce("rank_sparse", F.lit(0)).cast("long")
                      .alias("rank_sparse"),
                     F.coalesce("rank_dense", F.lit(0)).cast("long")
                      .alias("rank_dense"))
             .withColumn(
                 "rrf_ppb",
                 (F.when(F.col("rank_sparse") > 0,
                         F.expr(f"1000000000 DIV ({RRF_K} + rank_sparse)"))
                   .otherwise(F.lit(0))
                  + F.when(F.col("rank_dense") > 0,
                           F.expr(f"1000000000 DIV ({RRF_K} + rank_dense)"))
                     .otherwise(F.lit(0))).cast("long")))
    return (fused.withColumn("fused_rank", F.row_number().over(
                W.orderBy(F.desc("rrf_ppb"), "doc_id")))
            .filter(F.col("fused_rank") <= RRF_TOP_K)
            .select("doc_id", "rank_sparse", "rank_dense", "rrf_ppb",
                    F.col("fused_rank").cast("long").alias("fused_rank")))


def _rrf_oracle() -> str:
    from mapreduce_rust_spark.llm.textanalysis import bm25_scored_sql
    return f"""
WITH bm AS (
{bm25_scored_sql()}
),
sparse AS (
  SELECT doc_id, rank_sparse FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_sparse
    FROM bm WHERE doc_id <> {RRF_QVEC}
  ) WHERE rank_sparse <= {RRF_POOL}
),
q AS (
  SELECT vec_id, i AS dim,
         CAST(round_even(embedding[i + 1]::DOUBLE * {CENT_GRID}, 0)
              AS BIGINT) AS qv
  FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
),
dense AS (
  SELECT doc_id, rank_dense FROM (
    SELECT x.vec_id AS doc_id,
           ROW_NUMBER() OVER (
             ORDER BY SUM(x.qv * qq.qv) DESC, x.vec_id) AS rank_dense
    FROM q x JOIN q qq
      ON qq.vec_id = {RRF_QVEC} AND x.dim = qq.dim
    WHERE x.vec_id <> {RRF_QVEC}
    GROUP BY x.vec_id
  ) WHERE rank_dense <= {RRF_POOL}
),
fused AS (
  SELECT COALESCE(sparse.doc_id, dense.doc_id) AS doc_id,
         CAST(COALESCE(rank_sparse, 0) AS BIGINT) AS rank_sparse,
         CAST(COALESCE(rank_dense, 0) AS BIGINT) AS rank_dense,
         CAST(CASE WHEN COALESCE(rank_sparse, 0) > 0
                   THEN 1000000000 // ({RRF_K} + rank_sparse)
                   ELSE 0 END
              + CASE WHEN COALESCE(rank_dense, 0) > 0
                     THEN 1000000000 // ({RRF_K} + rank_dense)
                     ELSE 0 END AS BIGINT) AS rrf_ppb
  FROM sparse FULL OUTER JOIN dense ON sparse.doc_id = dense.doc_id
)
SELECT doc_id, rank_sparse, rank_dense, rrf_ppb,
       CAST(fused_rank AS BIGINT) AS fused_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_ppb DESC, doc_id)
              AS fused_rank
  FROM fused
) WHERE fused_rank <= {RRF_TOP_K}
"""


REGISTRATIONS.append(("rrf_hybrid_search", rrf_hybrid_search,
                      _rrf_oracle()))


DRIFT_SCALE = 1000   # per-dim mean-shift reported in milli-grid units


def embedding_drift_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift per SOURCE — the vector-space
    analogue of ``tv_drift_sources``/``ks_drift_sources``: how far is
    each source's embedding CENTROID from the global centroid? The
    readout a multi-source ingestion pipeline alarms on when one
    source's upstream encoder, scraper, or content mix silently
    changes (scalar drift screens can't see a direction-preserving
    shift in vector space; the centroid can).

    Exactness (the ``label_centroid_outliers`` clearing, two
    populations instead of point-vs-centroid): coordinates quantize
    to the CENT_GRID integer grid (HALF_EVEN both engines); the
    per-dim mean difference s_d/n − g_d/m clears to
    (s_d·m − g_d·n)·SCALE DIV (n·m) — exact integer milli-grid
    units, squared and summed to one drift number per source. No
    float anywhere; output magnitudes are n-independent, so no
    overflow at any corpus size (intermediates documented to
    DECIMAL(38) at ≤10⁹ vectors).

    Scale shape: one explode to (source, dim) cells (via the 1:1
    vec_id = doc_id documents join — broadcast the dim side), one
    per-source and one global sums table (both ≤ sources×dims
    rows), a dims-grid join, one per-source reduction. The corpus
    shuffles once.

    Output: ``(source, n_vecs, shift_mgrid2, drift_rank)``.
    """
    from mapreduce_rust_spark.tables import load_table as _lt
    docs = _lt(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source")
    q = (_emb(spark, sf_dir)
         .join(docs, "vec_id")
         .select("source", F.posexplode("e").alias("dim", "x"))
         .select("source", "dim",
                 F.bround(F.col("x") * CENT_GRID, 0)
                  .cast("long").alias("qv")))
    s = (q.groupBy("source", "dim")
          .agg(F.sum("qv").cast("decimal(38,0)").alias("sv"),
               F.count("*").cast("long").alias("n")))
    g = (q.groupBy("dim")
          .agg(F.sum("qv").cast("decimal(38,0)").alias("gv"),
               F.count("*").cast("long").alias("m")))
    dd = (s.join(F.broadcast(g), "dim")
           .select("source", "n",
                   F.expr(f"CAST((sv * m - gv * n) * {DRIFT_SCALE} "
                          "DIV (CAST(n AS DECIMAL(38,0)) * m) "
                          "AS BIGINT)").alias("dd")))
    agg = (dd.groupBy("source")
             .agg(F.max("n").alias("n_vecs"),
                  F.sum(F.col("dd") * F.col("dd")).cast("long")
                   .alias("shift_mgrid2")))
    w = W.orderBy(F.desc("shift_mgrid2"), "source")
    return (agg.withColumn("drift_rank",
                           F.row_number().over(w).cast("long"))
               .select("source", F.col("n_vecs").cast("long").alias("n_vecs"),
                       "shift_mgrid2", "drift_rank"))


EMBEDDING_DRIFT_ORACLE = f"""
WITH q AS (
  SELECT d.source, i AS dim,
         CAST(round_even(embedding[i + 1]::DOUBLE * {CENT_GRID}, 0)
              AS BIGINT) AS qv
  FROM embeddings e
  JOIN documents d ON d.doc_id = e.vec_id,
       UNNEST(range(0, len(embedding))) AS u(i)
),
s AS (
  SELECT source, dim, CAST(SUM(qv) AS HUGEINT) AS sv,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY source, dim
),
g AS (
  SELECT dim, CAST(SUM(qv) AS HUGEINT) AS gv,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM q GROUP BY dim
),
dd AS (
  SELECT source, n,
         CAST((sv * m - gv * n) * {DRIFT_SCALE}
              // (CAST(n AS HUGEINT) * m) AS BIGINT) AS dd
  FROM s JOIN g USING (dim)
),
agg AS (
  SELECT source, MAX(n) AS n_vecs,
         CAST(SUM(dd * dd) AS BIGINT) AS shift_mgrid2
  FROM dd GROUP BY source
)
SELECT source, CAST(n_vecs AS BIGINT) AS n_vecs, shift_mgrid2,
       CAST(ROW_NUMBER() OVER (ORDER BY shift_mgrid2 DESC, source)
            AS BIGINT) AS drift_rank
FROM agg
"""


REGISTRATIONS.append(("embedding_drift_sources", embedding_drift_sources,
                      EMBEDDING_DRIFT_ORACLE))


# --- pairwise label-centroid distance matrix (round 10) --------------------


def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distance matrix between LABEL centroids in embedding
    space — the confusion-structure audit (which classes sit on top
    of each other and are merge/relabel candidates; which are far
    apart so a classifier's confusion there signals data bugs).
    Completes the centroid family: ``label_centroid_outliers`` ranks
    points within a label, ``embedding_drift_sources`` tracks one
    population against the global mean — this compares populations
    pairwise.

    Exactness (the ``embedding_drift_sources`` clearing, pair form):
    per-dim mean difference s_Ad/n_A − s_Bd/n_B clears to
    (s_Ad·n_B − s_Bd·n_A)·SCALE DIV (n_A·n_B) — exact integer
    milli-grid units via truncating division on both engines, squared
    and summed per pair. n-independent magnitudes, no overflow at any
    corpus size (intermediates in DECIMAL(38)/HUGEINT).

    Scale: one explode to (label, dim) cells; the pair join is
    labels²·dims over the SUMS table (k²d rows for a k-cell
    quantizer — dims-sized, never corpus); corpus shuffles once.

    Output: ``(label_a, label_b, n_a, n_b, dist_mgrid2, near_rank)``
    — near_rank 1 = the closest (most confusable) pair.
    """
    q = (_emb(spark, sf_dir)
         .select("label", F.posexplode("e").alias("dim", "x"))
         .select("label", "dim",
                 F.bround(F.col("x") * CENT_GRID, 0)
                  .cast("long").alias("qv")))
    s = (q.groupBy("label", "dim")
          .agg(F.sum("qv").cast("decimal(38,0)").alias("sv"),
               F.count("*").cast("long").alias("n")))
    a = s.select(F.col("label").alias("label_a"), "dim",
                 F.col("sv").alias("sa"), F.col("n").alias("na"))
    b = s.select(F.col("label").alias("label_b"), "dim",
                 F.col("sv").alias("sb"), F.col("n").alias("nb"))
    dd = (a.join(b, "dim")
           .where(F.col("label_a") < F.col("label_b"))
           .select("label_a", "label_b", "na", "nb",
                   F.expr(f"CAST((sa * nb - sb * na) * {DRIFT_SCALE} "
                          "DIV (CAST(na AS DECIMAL(38,0)) * nb) "
                          "AS BIGINT)").alias("dd")))
    agg = (dd.groupBy("label_a", "label_b")
             .agg(F.max("na").cast("long").alias("n_a"),
                  F.max("nb").cast("long").alias("n_b"),
                  F.sum(F.col("dd") * F.col("dd")).cast("long")
                   .alias("dist_mgrid2")))
    w = W.orderBy("dist_mgrid2", "label_a", "label_b")
    return (agg.withColumn("near_rank",
                           F.row_number().over(w).cast("long")))


LABEL_CENTROID_DIST_ORACLE = f"""
WITH q AS (
  SELECT label, i AS dim,
         CAST(round_even(embedding[i + 1]::DOUBLE * {CENT_GRID}, 0)
              AS BIGINT) AS qv
  FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
),
s AS (
  SELECT label, dim, CAST(SUM(qv) AS HUGEINT) AS sv,
         CAST(COUNT(*) AS HUGEINT) AS n
  FROM q GROUP BY label, dim
),
dd AS (
  SELECT a.label AS label_a, b.label AS label_b,
         a.n AS na, b.n AS nb,
         CAST((a.sv * b.n - b.sv * a.n) * {DRIFT_SCALE}
              // (a.n * b.n) AS BIGINT) AS dd
  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
),
agg AS (
  SELECT label_a, label_b,
         CAST(MAX(na) AS BIGINT) AS n_a,
         CAST(MAX(nb) AS BIGINT) AS n_b,
         CAST(SUM(dd * dd) AS BIGINT) AS dist_mgrid2
  FROM dd GROUP BY 1, 2
)
SELECT label_a, label_b, n_a, n_b, dist_mgrid2,
       CAST(ROW_NUMBER() OVER (ORDER BY dist_mgrid2, label_a, label_b)
            AS BIGINT) AS near_rank
FROM agg
"""


REGISTRATIONS.append(("label_centroid_distances", label_centroid_distances,
                      LABEL_CENTROID_DIST_ORACLE))


# --- Matryoshka prefix-dimension recall (round 11) -------------------------


PREFIX_DIMS = 16   # truncated head length evaluated against full dims


def knn_prefix_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of PREFIX-TRUNCATED search against full-dimension
    search — the Matryoshka/MRL question (Kusupati et al. 2022):
    if the index stores only the first ``PREFIX_DIMS`` of each
    embedding (4× less memory and bandwidth again on top of int8),
    how much of the true top-k survives? The evaluation an
    embedding-serving team runs before committing to dimension
    truncation, beside ``knn_eval_recall``'s LSH audit.

    Exactness: BOTH rankings are exact integer dot products on the
    shared int8 grid (``_int8_arrays``), so both top-k sets are total
    orders (score DESC, neighbor_id) and the overlap count + recall
    ppm are pure integers — the whole evaluation is oracle-checkable,
    unlike float-cosine recall.

    Scale: one broadcast of the probe rows against the corpus scan
    (corpus never shuffles), two window top-ks over the per-query
    candidate sets, one join on (query, neighbor). The prefix score
    is a slice of the SAME pair rows — one cross join, not two.

    Output: ``(query_id, k, n_hits, recall_ppm)``.
    """
    arr = _int8_arrays(load_table(spark, sf_dir, "embeddings"))
    probes = arr.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("pa"))
    corpus = arr.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("qv").alias("na"))

    def iscore(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0).cast("long"), lambda acc, v: acc + v)

    cand = (F.broadcast(probes).crossJoin(corpus)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("s_full", iscore(F.col("pa"), F.col("na")))
            .withColumn("s_pre", iscore(
                F.slice("pa", 1, PREFIX_DIMS),
                F.slice("na", 1, PREFIX_DIMS)))
            .localCheckpoint(eager=True))   # two window branches
    wf = W.partitionBy("query_id").orderBy(F.col("s_full").desc(),
                                           F.col("neighbor_id"))
    wp = W.partitionBy("query_id").orderBy(F.col("s_pre").desc(),
                                           F.col("neighbor_id"))
    full = (cand.withColumn("r", F.row_number().over(wf))
            .filter(F.col("r") <= K).select("query_id", "neighbor_id"))
    pre = (cand.withColumn("r", F.row_number().over(wp))
           .filter(F.col("r") <= K).select("query_id", "neighbor_id"))
    hits = (full.join(pre, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count("*").cast("long").alias("n_hits")))
    return (full.groupBy("query_id")
            .agg(F.count("*").cast("long").alias("k"))
            .join(hits, "query_id", "left")
            .fillna(0, subset=["n_hits"])
            .select("query_id", "k", "n_hits",
                    F.expr("CAST(n_hits * 1000000 DIV k AS BIGINT)")
                     .alias("recall_ppm")))


KNN_PREFIX_ORACLE = f"""
WITH q8 AS ({EMB_QUANTIZE_ORACLE}),
arr AS (SELECT vec_id, list(q ORDER BY dim) AS qv FROM q8 GROUP BY vec_id),
cand AS (
  SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(list_dot_product(p.qv::DOUBLE[], n.qv::DOUBLE[]) AS BIGINT)
           AS s_full,
         CAST(list_dot_product(p.qv[1:{PREFIX_DIMS}]::DOUBLE[],
                               n.qv[1:{PREFIX_DIMS}]::DOUBLE[]) AS BIGINT)
           AS s_pre
  FROM arr p JOIN arr n ON p.vec_id <> n.vec_id
  WHERE p.vec_id < {N_QUERIES}
),
fullk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s_full DESC, neighbor_id) AS r
    FROM cand) WHERE r <= {K}
),
prek AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s_pre DESC, neighbor_id) AS r
    FROM cand) WHERE r <= {K}
),
hits AS (
  SELECT f.query_id, CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits
  FROM fullk f LEFT JOIN prek p
    ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
  GROUP BY f.query_id
),
kk AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k
  FROM fullk GROUP BY query_id
)
SELECT kk.query_id, kk.k, hits.n_hits,
       CAST(hits.n_hits * 1000000 // kk.k AS BIGINT) AS recall_ppm
FROM kk JOIN hits ON kk.query_id = hits.query_id
"""


REGISTRATIONS.append(("knn_prefix_dim_recall", knn_prefix_dim_recall,
                      KNN_PREFIX_ORACLE))


# --- product quantization (round 12) ---------------------------------------
# The fourth leg of the ANN family (brute force -> LSH -> IVF -> PQ):
# PQ stores the corpus as PQ_M sub-codes instead of d numbers, and
# ADC search scores a probe against a vector with PQ_M table lookups
# instead of d multiplies — the memory/IO design that makes
# billion-vector search fit a cluster (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011).

PQ_M = 16         # subspaces
PQ_DSUB = 4       # dims per subspace (64 = PQ_M * PQ_DSUB)
PQ_KC = 256       # codewords per subspace — sampled codebook
# Config chosen on the measured frontier (SCALE.md round 12): with
# sampled codebooks, (m=8,kc=16) reads recall@5 0.22 vs exact int8,
# (m=16,kc=64) 0.54, (m=16,kc=256) 0.76, (m=32,kc=256) 0.82. m=16 x
# 8-bit codes is the canonical PQ16x8: 16 B/vector vs 256 B float32
# (16x), recall 0.76 >= the 0.6 bar LSH/IVF are held to.


def _pq_subvectors(arr: DataFrame, spread: bool = False) -> DataFrame:
    """(vec_id, s, sv): the int8 grid vectors cut into PQ_M
    contiguous PQ_DSUB-dim subvectors — pure array expressions.
    ``spread=True`` repartitions the (tiny, pre-expansion) vector
    table first: a small parquet arrives as ONE split, and without
    the spread the PQ_M·PQ_KC-fold candidate expansion downstream
    would run on a single core (measured 2.2× end-to-end at sf0.1;
    the repartition itself moves only |corpus| 64-element arrays)."""
    if spread:
        arr = arr.repartition(32, "vec_id")
    return (arr.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("si"),
        "qv")
        .select("vec_id", F.col("si").cast("long").alias("s"),
                F.expr(f"slice(qv, si * {PQ_DSUB} + 1, {PQ_DSUB})")
                 .alias("sv")))


def _pq_codes(sub: DataFrame) -> DataFrame:
    """(vec_id, s, code, dist): per-subspace nearest-codeword
    assignment. The codebook is SAMPLED — codeword j of subspace s
    is vec_id j's subvector (the standard data-dependent seeding; a
    k-means-refined codebook drops in without changing this
    assignment operator, exactly as the IVF op's integer-grid cells
    stand in for k-means centroids). Distances are exact integer
    sums on the int8 grid (≤ 8·254² per subspace), so argmin with
    the (dist, code) tie-break is a total order — fully
    deterministic and SQL-mirrorable.

    EAGER-BUILD NOTE (ADVICE r12): composing this query runs the
    bounded codebook collect at DataFrame-CONSTRUCTION time (one
    small Spark job), so the codebook is a build-time snapshot —
    plan-shape inspection of the composed query triggers that job.
    Deferring it would need the collect inside the executor-side
    generator (impossible — no SparkContext there) or a per-row
    broadcast-join carry of the 256×4 codebook arrays (a ~256×
    Arrow-transfer blowup); both rejected, semantics documented
    instead.

    Round 12 (guide §4.2): the assignment runs in a numpy kernel
    against the driver-collected codebook (≤ PQ_M·PQ_KC rows of
    PQ_DSUB ints — constant-bounded, the bloom-bitmap collect class)
    instead of exploding |corpus|·PQ_M·PQ_KC candidate rows through an
    interpreted HOF fold. Integer-exact in int64; numpy argmin's
    first-hit rule over codes sorted ascending IS the (dist, code)
    total order the struct-min form used. Rows of a subspace with no
    codeword (possible only on planted sub-PQ_KC corpora) drop,
    matching the old inner join."""
    from mapreduce_rust_spark.core.runner import _ensure_self_shipping
    _ensure_self_shipping()
    import numpy as np
    by_s: dict[int, list] = {}
    for r in (sub.filter(F.col("vec_id") < PQ_KC)
              .select("s", F.col("vec_id").alias("code"), "sv").collect()):
        by_s.setdefault(int(r["s"]), []).append((int(r["code"]), r["sv"]))
    cb_codes = {s: np.array([c for c, _ in sorted(v)], dtype=np.int64)
                for s, v in by_s.items()}
    cb_mat = {s: np.array([sv for _, sv in sorted(v)], dtype=np.int64)
              for s, v in by_s.items()}

    def assign(batches):
        import numpy as _np
        for pdf in batches:
            if not len(pdf):
                continue
            S = pdf["s"].to_numpy()
            keep = _np.isin(S, list(cb_codes))
            if not keep.any():
                continue
            pdf = pdf[keep]
            S = S[keep]
            SV = _np.stack(pdf["sv"].to_numpy()).astype(_np.int64)
            code = _np.empty(len(pdf), _np.int64)
            dist = _np.empty(len(pdf), _np.int64)
            for s in _np.unique(S):
                m = S == s
                d = SV[m][:, None, :] - cb_mat[int(s)][None, :, :]
                D = (d * d).sum(axis=2)
                j = D.argmin(axis=1)
                code[m] = cb_codes[int(s)][j]
                dist[m] = D[_np.arange(D.shape[0]), j]
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "s": S, "code": code, "dist": dist})

    return sub.mapInPandas(assign, "vec_id long, s long, code long, "
                                   "dist long")


def pq_assign_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding of the corpus: every vector →
    PQ_M codes (+ per-subspace squared quantization error). Output
    is the long-format code table ``(vec_id, s, code, dist)``.

    Scale: the codebook (PQ_M·PQ_KC subvectors) broadcasts; encoding
    is map-side (each vector meets only its PQ_KC·PQ_M candidate
    codewords in-row after the broadcast join); the shuffle carries
    4-bit-sized codes, never vectors. At 100 TB the corpus's resident
    footprint drops d·4 bytes → PQ_M·log2(PQ_KC) bits per vector
    (64-dim float32: 256 B → 4 B).

    Exactness: int8-grid subvectors (``_int8_arrays``), integer
    squared distances, total-order argmin — the DuckDB oracle
    re-derives every code and distance.
    """
    arr = _int8_arrays(load_table(spark, sf_dir, "embeddings"))
    return _pq_codes(_pq_subvectors(arr, spread=True))


PQ_ASSIGN_ORACLE = f"""
WITH q8 AS ({EMB_QUANTIZE_ORACLE}),
sub AS (
  SELECT vec_id, dim // {PQ_DSUB} AS s, dim % {PQ_DSUB} AS d, q
  FROM q8
),
cb AS (
  SELECT vec_id AS code, s, d, q AS cq FROM sub WHERE vec_id < {PQ_KC}
),
dist AS (
  SELECT x.vec_id, x.s, c.code,
         CAST(SUM((x.q - c.cq) * (x.q - c.cq)) AS BIGINT) AS dist
  FROM sub x JOIN cb c ON x.s = c.s AND x.d = c.d
  GROUP BY 1, 2, 3
)
SELECT vec_id, CAST(s AS BIGINT) AS s, code, dist FROM (
  SELECT vec_id, s, code, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s
                            ORDER BY dist, code) AS rn
  FROM dist
) WHERE rn = 1
"""


REGISTRATIONS.append(("pq_assign_embeddings", pq_assign_embeddings,
                      PQ_ASSIGN_ORACLE))


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search by ASYMMETRIC DISTANCE COMPUTATION over the PQ
    codes: each probe precomputes a lookup table (subspace × codeword
    → integer dot product with the probe's exact subvector), and a
    corpus vector's score is the sum of PQ_M table lookups selected
    by its codes — the probe side stays exact, the corpus side is
    its PQ approximation (Jégou et al. 2011, Eq. 12 shape, inner-
    product form).

    Scale: the LUT is N_QUERIES·PQ_M·PQ_KC small integers —
    broadcast; the corpus contributes only its code table (already
    computed once by ``pq_assign_embeddings`` in a real pipeline), so
    the scoring join shuffles nothing row-sized and does PQ_M integer
    adds per (probe, vector) instead of d multiplies. Exact integer
    arithmetic end to end ⇒ the full score is oracle-checked, not
    just the ranking.

    Output: ``(query_id, neighbor_id, adc_score, rank)``, top-K per
    probe; recall vs exact quantized search measured in tests.
    """
    arr = _int8_arrays(load_table(spark, sf_dir, "embeddings"))
    sub = _pq_subvectors(arr, spread=True)
    codes = _pq_codes(sub)
    cb = (sub.filter(F.col("vec_id") < PQ_KC)
          .select(F.col("vec_id").alias("code"), "s",
                  F.col("sv").alias("cv")))
    ldot = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    lut = (sub.filter(F.col("vec_id") < N_QUERIES)
           .select(F.col("vec_id").alias("query_id"), "s", "sv")
           .join(F.broadcast(cb), "s")
           .withColumn("ldot", ldot)
           .select("query_id", "s", "code", "ldot"))
    cand = (codes.join(F.broadcast(lut), ["s", "code"])
            .filter(F.col("query_id") != F.col("vec_id"))
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(F.sum("ldot").cast("long").alias("adc_score")))
    w = W.partitionBy("query_id").orderBy(F.col("adc_score").desc(),
                                          F.col("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= K)
                .select("query_id", "neighbor_id", "adc_score",
                        F.col("rank").cast("long").alias("rank")))


KNN_PQ_ADC_ORACLE = f"""
WITH q8 AS ({EMB_QUANTIZE_ORACLE}),
sub AS (
  SELECT vec_id, dim // {PQ_DSUB} AS s, dim % {PQ_DSUB} AS d, q
  FROM q8
),
cb AS (
  SELECT vec_id AS code, s, d, q AS cq FROM sub WHERE vec_id < {PQ_KC}
),
dist AS (
  SELECT x.vec_id, x.s, c.code,
         CAST(SUM((x.q - c.cq) * (x.q - c.cq)) AS BIGINT) AS dist
  FROM sub x JOIN cb c ON x.s = c.s AND x.d = c.d
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY dist, code) AS rn
    FROM dist
  ) WHERE rn = 1
),
lut AS (
  SELECT x.vec_id AS query_id, x.s, c.code,
         CAST(SUM(x.q * c.cq) AS BIGINT) AS ldot
  FROM sub x JOIN cb c ON x.s = c.s AND x.d = c.d
  WHERE x.vec_id < {N_QUERIES}
  GROUP BY 1, 2, 3
),
scores AS (
  SELECT l.query_id, k.vec_id AS neighbor_id,
         CAST(SUM(l.ldot) AS BIGINT) AS adc_score
  FROM codes k JOIN lut l ON k.s = l.s AND k.code = l.code
  WHERE l.query_id <> k.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_score, rank FROM (
  SELECT query_id, neighbor_id, adc_score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_score DESC, neighbor_id) AS rank
  FROM scores
) WHERE rank <= {K}
"""


REGISTRATIONS.append(("knn_pq_adc", knn_pq_adc, KNN_PQ_ADC_ORACLE))
