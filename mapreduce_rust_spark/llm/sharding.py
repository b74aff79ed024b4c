"""Corpus sharding + duplicated-n-gram profiling + embedding
post-processing — the operators between "curated corpus" and
"training job": a deterministic global shuffle into fixed shards, the
RefinedWeb-style duplicated-n-gram fraction (how much of each doc is
boilerplate shared with other docs), and L2-normalize + int8
quantization of embedding vectors (the storage/serving format for ANN
indexes).

Scale notes per operator; everything is built-ins (JVM, codegen),
exact arithmetic only (the quantized-long-sum discipline from
label_centroids), so every op is fully DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.text import whitespace_tokens
from mapreduce_rust_spark.llm.quality import _grams
from mapreduce_rust_spark.tables import load_table

DUP_W = 5  # n-gram width for the duplicated-n-gram profile


def dup_ngram_fraction_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-n-gram fraction: of the doc's DISTINCT
    ``DUP_W``-grams, the fraction that also occur in at least one
    OTHER doc — the boilerplate signal RefinedWeb/Gopher threshold on
    (a doc whose 5-grams mostly exist elsewhere is template/mirror
    content even when no single near-dup pair fires).

    Scale shape: one inverted-index pass — distinct (doc, gram) →
    gram document-frequency (map-side-combined count) → join back on
    the gram key → per-doc ratio. Linear in corpus grams; never
    all-pairs (the gram df join is the SAME candidate-bounded shape
    as ngram_jaccard_pairs, but aggregated, so no df-cap is needed —
    a hot gram contributes one count row, not k² pairs). Docs shorter
    than ``DUP_W`` tokens keep a row with fraction 0 (left join)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (docs.select("doc_id", whitespace_tokens("text").alias("toks"))
                 .select("doc_id",
                         F.explode(_grams(F.col("toks"), DUP_W, True))
                          .alias("g")))
    gram_df = grams.groupBy("g").agg(F.count("*").alias("df"))
    per_doc = (grams.join(gram_df, "g")
                    .groupBy("doc_id")
                    .agg(F.count("*").alias("n_grams"),
                         F.sum((F.col("df") > 1).cast("long"))
                          .alias("n_dup")))
    return (docs.select("doc_id")
                .join(per_doc, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
                    F.when(F.col("n_grams").isNotNull(),
                           F.col("n_dup").cast("double") / F.col("n_grams"))
                     .otherwise(F.lit(0.0)).alias("dup_frac")))


DUP_NGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{DUP_W - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - {DUP_W - 2})) AS u(i)
  WHERE len(t) >= {DUP_W}
),
gram_df AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM grams JOIN gram_df USING (g)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.n_dup, 0) AS n_dup,
       CASE WHEN p.n_grams IS NOT NULL
            THEN CAST(p.n_dup AS DOUBLE) / p.n_grams
            ELSE 0.0 END AS dup_frac
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


N_SHARDS = 16  # sized so one shard ≈ one training-reader task


def shuffle_shard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle into ``N_SHARDS`` shards:
    shard = md5-bucket of (text, doc_id), position = rank of the md5
    key within the shard. The write side of every training pipeline —
    an order-destroying, seed-free permutation that is reproducible
    run-to-run (pure content hash, no rand()/shuffle(), so a lost
    task recomputes identical rows — the same determinism argument as
    salted_join).

    Scale shape: one shuffle on the shard key; the per-shard
    ``row_number`` window partitions by shard, and N_SHARDS is chosen
    so a shard ≈ one reader task's worth of docs (at 100 TB you set
    N_SHARDS = corpus/1M docs, keeping every window partition
    bounded — never a global ORDER BY window)."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("text"), F.col("doc_id").cast("string")))
    shard = (F.conv(F.substring(key, 1, 12), 16, 10).cast("long")
             % N_SHARDS)
    w = W.partitionBy("shard").orderBy("key", "doc_id")
    return (docs.select("doc_id", key.alias("key"), shard.alias("shard"))
                .select("doc_id", "shard",
                        F.row_number().over(w).cast("long").alias("pos"))
    )


SHUFFLE_SHARD_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         md5(text || CAST(doc_id AS VARCHAR)) AS key,
         CAST('0x' || substr(md5(text || CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) % {N_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id) AS pos
FROM keyed
"""


def embedding_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize each embedding and quantize to int8 — the
    compression step before building/serving an ANN index (4x smaller
    than float32, dot products in integer SIMD). Long format
    (vec_id, dim, q, norm): portable to the oracle and the
    shuffle-friendly shape for downstream per-dim aggregation.

    Exactness across engines: the squared-norm sum quantizes each
    v² onto a 1e-12 integer grid with HALF_EVEN (Spark ``bround`` ≡
    DuckDB ``round_even``) and sums longs — order-independent — via a
    whole-partition window (one shuffle, no join back). sqrt and the
    divisions are single IEEE operations (correctly rounded
    identically on both engines), and the final int8 value rounds on
    the same HALF_EVEN grid."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v"))
    vd = F.col("v").cast("double")
    sq_q = F.bround(vd * vd * F.lit(1e12), 0).cast("long")
    w = W.partitionBy("vec_id")
    norm = F.sqrt(F.sum(sq_q).over(w).cast("double") / F.lit(1e12))
    q = F.when(norm > 0,
               F.bround(F.lit(127.0) * vd / norm, 0).cast("long")) \
         .otherwise(F.lit(0))
    return exploded.select(
        "vec_id", F.col("dim").cast("long").alias("dim"),
        q.alias("q"), norm.alias("norm"))


EMB_QUANTIZE_ORACLE = """
WITH exploded AS (
  SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS dim,
         CAST(u.v AS DOUBLE) AS v
  FROM embeddings,
  LATERAL (SELECT embedding[i] AS v, i
           FROM UNNEST(generate_series(1, len(embedding))) AS g(i)) u(v, i)
),
normed AS (
  SELECT vec_id, dim, v,
         sqrt(CAST(SUM(CAST(round_even(v * v * 1e12, 0) AS BIGINT))
                   OVER (PARTITION BY vec_id) AS DOUBLE) / 1e12) AS norm
  FROM exploded
)
SELECT vec_id, dim,
       CASE WHEN norm > 0
            THEN CAST(round_even(127.0 * v / norm, 0) AS BIGINT)
            ELSE 0 END AS q,
       norm
FROM normed
"""


RESERVOIR_K = 10   # fixed sample size per group
RESERVOIR_SUBS = 64  # partial top-k fan-in


def reservoir_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic sample per group (k docs per lang) —
    the distributed equivalent of per-stratum reservoir sampling:
    rank docs by a uniform content hash, keep the k smallest. Unlike
    fraction-based sampling (stratified_sample_docs) this guarantees
    EXACTLY k per group, and the content-hash key makes it
    reproducible across runs and task retries (no rand()).

    Scale shape: two-phase top-k. A naive per-group rank window puts
    an entire group through one task (a 100 TB corpus may hold
    billions of docs per language); instead each (group, hash-subshard)
    takes a LOCAL top-k — partitions bounded at group/64 — and the
    survivors (≤ 64·k rows per group, constant) go through the final
    tiny rank window. Top-k of partial top-ks ≡ global top-k, so the
    oracle is the plain per-group rank."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("text"), F.col("doc_id").cast("string")))
    sub = (F.conv(F.substring(key, 29, 4), 16, 10).cast("long")
           % RESERVOIR_SUBS)
    keyed = docs.select("doc_id", "lang", key.alias("key"),
                        sub.alias("sub"))
    w1 = W.partitionBy("lang", "sub").orderBy("key", "doc_id")
    partial = (keyed.withColumn("rk", F.row_number().over(w1))
                    .filter(F.col("rk") <= RESERVOIR_K))
    w2 = W.partitionBy("lang").orderBy("key", "doc_id")
    return (partial.withColumn("rank", F.row_number().over(w2))
                   .filter(F.col("rank") <= RESERVOIR_K)
                   .select("doc_id", "lang",
                           F.col("rank").cast("long").alias("rank")))


RESERVOIR_ORACLE = f"""
SELECT doc_id, lang, rank FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(text || CAST(doc_id AS VARCHAR)), doc_id) AS rank
  FROM documents
)
WHERE rank <= {RESERVOIR_K}
"""


PAD_BUCKETS = (64, 128, 256, 512)   # allowed padded sequence lengths


def bucket_pad_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch-padding analysis: assign every document
    to the smallest ``PAD_BUCKETS`` length that fits (docs longer
    than the max bucket truncate to it — stated convention), and
    report per bucket the doc count, real-token total, padded-token
    total, and the exact waste fraction (padding ÷ padded slots) —
    the numbers that decide a serving/training batcher's bucket
    boundaries (uniform max-length padding wastes the difference;
    bucketing recovers most of it).

    Pure per-row arithmetic + one ≤|buckets|-group aggregate — a
    single scan at any corpus size. All integers until the final
    division of two exact longs."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(whitespace_tokens("text")).cast("long")
    bucket = F.lit(PAD_BUCKETS[-1])
    for b in reversed(PAD_BUCKETS):
        bucket = F.when(n_tok <= b, F.lit(b)).otherwise(bucket)
    real = F.least(n_tok, F.lit(PAD_BUCKETS[-1]))  # truncation rule
    d = docs.select(bucket.cast("long").alias("bucket"),
                    real.alias("real_toks"))
    return (d.groupBy("bucket")
             .agg(F.count("*").alias("n_docs"),
                  F.sum("real_toks").alias("real_tokens"),
                  (F.count("*") * F.first("bucket")).alias("padded_tokens"))
             .select("bucket", "n_docs", "real_tokens", "padded_tokens",
                     ((F.col("padded_tokens") - F.col("real_tokens"))
                      .cast("double") / F.col("padded_tokens"))
                     .alias("waste_frac")))


_BUCKET_CASE = " ".join(
    f"WHEN n <= {b} THEN {b}" for b in PAD_BUCKETS)

BUCKET_PAD_ORACLE = f"""
WITH d AS (
  SELECT CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS BIGINT) AS n
  FROM documents
),
b AS (
  SELECT CASE {_BUCKET_CASE} ELSE {PAD_BUCKETS[-1]} END AS bucket,
         LEAST(n, {PAD_BUCKETS[-1]}) AS real_toks
  FROM d
)
SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
       CAST(SUM(real_toks) AS BIGINT) AS real_tokens,
       CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
       CAST(COUNT(*) * bucket - SUM(real_toks) AS DOUBLE)
         / (COUNT(*) * bucket) AS waste_frac
FROM b GROUP BY bucket
"""


REGISTRATIONS = [
    ("dup_ngram_fraction_docs", dup_ngram_fraction_docs, DUP_NGRAM_ORACLE),
    ("bucket_pad_stats_docs", bucket_pad_stats_docs, BUCKET_PAD_ORACLE),
    ("reservoir_sample_docs", reservoir_sample_docs, RESERVOIR_ORACLE),
    ("shuffle_shard_docs", shuffle_shard_docs, SHUFFLE_SHARD_ORACLE),
    ("embedding_normalize_quantize", embedding_normalize_quantize,
     EMB_QUANTIZE_ORACLE),
]


def shuffle_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit of the deterministic corpus shuffle — the
    readout run AFTER ``shuffle_shard_docs`` before shipping shards
    to trainers: per shard, the document count, token mass, distinct
    source count, and the dominant source's share (a shard dominated
    by one source means the shuffle key is correlated with source —
    a broken permutation). Source share is one int÷int division;
    everything else is exact integer aggregation.

    Scale: one shuffle on (shard, source) — map-side combined to
    shards × sources rows — then a shards-sized argmax window over
    those dims rows. The corpus is scanned once; no window ever
    partitions by less than the shard key.

    Output: ``(shard, n_docs, n_tokens, n_sources, top_source,
    top_share)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    return shard_quality_closed_form(shard_quality_cells(docs))


def shard_quality_cells(docs: DataFrame) -> DataFrame:
    """Per-(shard, source) doc/token counts — the MERGEABLE
    sufficient statistic (plain sums over shards × sources rows),
    shared with ``streaming.windows.stream_shuffle_quality``."""
    key = F.md5(F.concat(F.col("text"), F.col("doc_id").cast("string")))
    shard = (F.conv(F.substring(key, 1, 12), 16, 10).cast("long")
             % N_SHARDS)
    toks = whitespace_tokens("text")
    return (docs.select(shard.alias("shard"), "source",
                        F.size(toks).cast("long").alias("nt"))
            .groupBy("shard", "source")
            .agg(F.count("*").alias("nd"), F.sum("nt").alias("ntok")))


def shard_quality_closed_form(per: DataFrame) -> DataFrame:
    """Finish the audit from the (shard, source, nd, ntok) cells.
    ``per`` must be materialized by the caller if its lineage is a
    MemorySink (it is consumed by two plan branches)."""
    w = W.partitionBy("shard").orderBy(F.col("nd").desc(), "source")
    top = (per.withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") == 1)
           .select("shard", F.col("source").alias("top_source"),
                   F.col("nd").alias("top_nd")))
    agg = (per.groupBy("shard")
           .agg(F.sum("nd").cast("long").alias("n_docs"),
                F.sum("ntok").cast("long").alias("n_tokens"),
                F.count("*").cast("long").alias("n_sources")))
    return (agg.join(F.broadcast(top), "shard")
            .select("shard", "n_docs", "n_tokens", "n_sources",
                    "top_source",
                    (F.col("top_nd").cast("double")
                     / F.col("n_docs").cast("double")).alias("top_share")))


SHUFFLE_QUALITY_ORACLE = rf"""
WITH per AS (
  SELECT CAST('0x' || substr(md5(text || CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) % {{n_shards}} AS shard,
         source,
         COUNT(*) AS nd,
         SUM(len(list_filter(regexp_split_to_array(text, '\s+'),
                             t -> t <> ''))) AS ntok
  FROM documents GROUP BY 1, 2
),
top AS (
  SELECT shard, source AS top_source, nd AS top_nd,
         ROW_NUMBER() OVER (PARTITION BY shard
                            ORDER BY nd DESC, source) AS rk
  FROM per
),
agg AS (
  SELECT shard, CAST(SUM(nd) AS BIGINT) AS n_docs,
         CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per GROUP BY shard
)
SELECT agg.shard, n_docs, n_tokens, n_sources, top.top_source,
       CAST(top.top_nd AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_share
FROM agg JOIN top ON agg.shard = top.shard AND top.rk = 1
""".replace("{n_shards}", str(N_SHARDS))


REGISTRATIONS.append(("shuffle_quality_stats", shuffle_quality_stats,
                      SHUFFLE_QUALITY_ORACLE))
