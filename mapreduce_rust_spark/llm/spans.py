"""Position-aware substring operators over ``documents`` — exact
duplicate-SPAN extraction (the "dedup at the substring level" pass of
Lee et al., *Deduplicating Training Data Makes Language Models
Better*) and fixed-size / fixed-stride overlapping chunking (the
context-window slicer that feeds a training tokenizer).

Both are pure built-ins (JVM HOFs + one inverted-index shuffle /
zero shuffles respectively) with exact DuckDB oracles. They differ
from the neighbouring operators on purpose:

- ``sharding.dup_ngram_fraction_docs`` asks "what fraction of a
  doc's DISTINCT n-grams exist elsewhere" (a scalar boilerplate
  score); ``dup_span_docs`` asks "WHERE are the duplicated
  substrings" — positional, multiplicity-aware, and returns maximal
  contiguous runs (the thing you'd actually cut out of the corpus).
- ``textanalysis.chunk_docs_udtf`` proves the UDTF extension point
  with non-overlapping chunks; ``chunk_stride_docs`` is the hot-path
  form — overlapping stride-S windows, entirely JVM-side.

Reference anchor: the reference engine's only text operator is
whitespace word-count (worker.rs map/reduce UDFs); this module is
part of the mandated LLM-pipeline extension surface, not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.text import whitespace_tokens
from mapreduce_rust_spark.llm.quality import _grams
from mapreduce_rust_spark.tables import load_table

SPAN_W = 8       # tokens per window for duplicate-span detection
CHUNK_C = 64     # tokens per training chunk
CHUNK_S = 48     # stride between chunk starts (overlap = C - S = 16)


def dup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated spans: every run of consecutive
    ``SPAN_W``-token windows whose text occurs more than once in the
    corpus (other docs OR a repeat inside the same doc — a
    self-plagiarising doc flags itself, matching the suffix-array
    semantics of Lee et al. §4, where any repeated substring is a
    removal candidate).

    Shape: positional windows per doc (HOF, one pass) → md5 the
    window text so the shuffle key is a fixed 32-byte digest rather
    than a ~50-char string → window-occurrence counts (map-side
    combined) → join the flags back on the digest → per-doc
    gap-and-islands (``pos - row_number``) over the flagged
    positions → one row per maximal run. Linear in corpus windows,
    never all-pairs; a hot window costs one count row plus its own
    occurrences, not k². The islands window partitions by doc_id —
    bounded by doc length, no skew. At 100 TB this is the same
    two-shuffle plan with more partitions.

    Output: ``(doc_id, span_start, n_windows, span_tokens)`` where
    ``span_start`` is the 0-based token index of the first window and
    ``span_tokens = n_windows + SPAN_W - 1`` is the token length of
    the maximal duplicated substring.
    """
    # round 12: the tokenize + window-HOF + per-window md5 pass is the
    # per-row compute hot spot and the fixture scan is one task
    # (single-row-group parquet) — spread it first (functions.spread)
    from mapreduce_rust_spark.functions import spread
    return dup_spans(spread(load_table(spark, sf_dir, "documents"),
                            "doc_id"))


def dup_spans(docs: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Core of :func:`dup_span_docs` over any ``(doc_id, text)``
    frame (see its docstring for semantics and scale shape)."""
    wins = (docs.select("doc_id", whitespace_tokens("text").alias("toks"))
                .select("doc_id",
                        F.posexplode(_grams(F.col("toks"), w, False))
                         .alias("pos", "g"))
                .select("doc_id", "pos", F.md5("g").alias("h")))
    occ = wins.groupBy("h").agg(F.count("*").alias("occ"))
    flagged = (wins.join(occ, "h")
                   .where(F.col("occ") > 1)
                   .select("doc_id", "pos"))
    isl = flagged.withColumn(
        "island",
        F.col("pos") - F.row_number().over(
            W.partitionBy("doc_id").orderBy("pos")))
    return (isl.groupBy("doc_id", "island")
               .agg(F.min("pos").alias("span_start"),
                    F.count("*").alias("n_windows"))
               .select("doc_id", "span_start", "n_windows",
                       (F.col("n_windows") + F.lit(w - 1))
                       .alias("span_tokens")))


DUP_SPAN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
wins AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{SPAN_W - 1}], ' ')) AS h
  FROM toks, UNNEST(range(1, len(t) - {SPAN_W - 2})) AS u(i)
  WHERE len(t) >= {SPAN_W}
),
occ AS (SELECT h, COUNT(*) AS occ FROM wins GROUP BY h),
flagged AS (
  SELECT doc_id, pos FROM wins JOIN occ USING (h) WHERE occ > 1
),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
           AS island
  FROM flagged
)
SELECT doc_id,
       MIN(pos) AS span_start,
       COUNT(*) AS n_windows,
       COUNT(*) + {SPAN_W - 1} AS span_tokens
FROM isl
GROUP BY doc_id, island
"""


def chunk_stride_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping training chunks: windows of ``CHUNK_C`` tokens
    every ``CHUNK_S`` tokens (16-token overlap preserves context
    across chunk boundaries — the standard pretraining slicer).
    ``n_chunks = 1 + ceil((n - C) / S)`` for ``n > C`` else 1; the
    last chunk is ragged (length ``n - i*S``), never empty.

    Zero shuffles: token split, chunk-index sequence, and slicing are
    all JVM HOFs inside one projection (the let-binding form from
    ``quality._grams`` so the token array evaluates once per row, not
    once per chunk); explode is pipelined. Integer arithmetic only
    (``DIV`` ceil-division), so the DuckDB oracle is exact. At 100 TB
    this is embarrassingly parallel — output scales ×(C/S) ≈ 1.33 of
    input tokens, each task independent.

    Output: ``(doc_id, chunk_id, chunk, n_tokens)`` — the same schema
    as ``chunk_docs_udtf`` so downstream packing accepts either.
    """
    return chunk_stride(load_table(spark, sf_dir, "documents"))


def chunk_stride(docs: DataFrame) -> DataFrame:
    """Core of :func:`chunk_stride_docs` over any ``(doc_id, text)``
    frame (see its docstring for semantics and scale shape)."""
    c, s = F.lit(CHUNK_C), F.lit(CHUNK_S)

    def per_row(a):
        n = F.size(a)
        # ceil((n - C)/S) on integers: floor((n - C + S - 1)/S); all
        # operands are small positive ints so floor ≡ exact DIV.
        n_chunks = F.when(
            n <= CHUNK_C, F.lit(1)
        ).otherwise(F.lit(1) + F.floor((n - c + s - F.lit(1)) / s)
                    .cast("long"))
        return F.transform(
            F.sequence(F.lit(0), n_chunks.cast("int") - F.lit(1)),
            lambda i: F.struct(
                i.cast("long").alias("chunk_id"),
                F.array_join(F.slice(a, i * s + F.lit(1), CHUNK_C), " ")
                 .alias("chunk"),
                F.least(c.cast("long"), (n - i * s).cast("long"))
                 .alias("n_tokens")))

    chunks = F.element_at(
        F.transform(F.array(whitespace_tokens("text")), per_row), 1)
    return (docs.where(F.size(whitespace_tokens("text")) > 0)
                .select("doc_id", F.explode(chunks).alias("ch"))
                .select("doc_id", "ch.chunk_id", "ch.chunk",
                        "ch.n_tokens"))


CHUNK_STRIDE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
sized AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= {CHUNK_C} THEN 1
              ELSE 1 + (len(t) - {CHUNK_C} + {CHUNK_S - 1}) // {CHUNK_S}
         END AS n_chunks
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, i AS chunk_id,
       array_to_string(t[i*{CHUNK_S}+1 : i*{CHUNK_S}+{CHUNK_C}], ' ')
         AS chunk,
       LEAST(CAST({CHUNK_C} AS BIGINT), CAST(n - i*{CHUNK_S} AS BIGINT))
         AS n_tokens
FROM sized, UNNEST(range(0, n_chunks)) AS u(i)
"""


REGISTRATIONS = [
    ("dup_span_docs", dup_span_docs, DUP_SPAN_ORACLE),
    ("chunk_stride_docs", chunk_stride_docs, CHUNK_STRIDE_ORACLE),
]
