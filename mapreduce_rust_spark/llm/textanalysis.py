"""Text-analysis operators over ``documents`` — the generalization of
the reference's one text transform (wc.rs tokenizer) into the
feature family a training-data pipeline needs: token statistics,
quality scoring, language ID, fingerprinting. Everything is built
from ``pyspark.sql.functions`` (codegen'd, no Python), and every
score is exact per-row arithmetic so the DuckDB oracles match
bit-for-bit. All linear scans — trivially 100 TB-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.text import (
    PUNCT_RE, WS_RE, fingerprint, whitespace_token_count, whitespace_tokens)
from mapreduce_rust_spark.tables import load_table

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately minimal & disjoint-ish; real pipelines plug fastText
# etc. behind the same operator shape.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "les", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "los", "las", "una", "por", "con", "para", "como"),
}


def _tok_table(spark, sf_dir) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        F.explode(F.split("text", WS_RE)).alias("tok"))
                .filter(F.col("tok") != ""))


def token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: total, distinct, type-token ratio, mean token
    length — the per-document shape statistics."""
    tok = _tok_table(spark, sf_dir)
    return (tok.groupBy("doc_id")
               .agg(F.count("*").alias("n_tokens"),
                    F.countDistinct("tok").alias("n_distinct"),
                    (F.countDistinct("tok").cast("double") / F.count("*"))
                    .alias("ttr"),
                    (F.sum(F.length("tok")).cast("double") / F.count("*"))
                    .alias("mean_tok_len")))


TOKEN_STATS_ORACLE = """
SELECT doc_id, COUNT(*) AS n_tokens,
       COUNT(DISTINCT tok) AS n_distinct,
       COUNT(DISTINCT tok) * 1.0 / COUNT(*) AS ttr,
       CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*) AS mean_tok_len
FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
      FROM documents)
WHERE tok <> ''
GROUP BY doc_id
"""


def quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length band + punctuation ratio +
    stopword ratio, combined with exact double arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    txt = F.col("text")
    n_chars = F.length(txt).cast("double")
    n_punct = (F.length(txt) - F.length(F.regexp_replace(txt, PUNCT_RE, ""))) \
        .cast("double")
    toks = whitespace_tokens(txt)
    n_tokens = F.size(toks).cast("double")
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    length_ok = ((n_tokens >= 10) & (n_tokens <= 100000)).cast("int").cast("double")
    score = 0.4 * length_ok + 0.4 * stop_ratio + 0.2 * (1.0 - punct_ratio)
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"))


_SW_EN_SQL = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

QUALITY_SCORE_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         CAST(LENGTH(text) AS DOUBLE) AS n_chars,
         CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g'))
              AS DOUBLE) AS n_punct,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id, n_chars, n_punct,
         CAST(len(toks) AS DOUBLE) AS n_tokens,
         CAST(len(list_filter(toks, t -> t IN ({_SW_EN_SQL}))) AS DOUBLE) AS n_stop
  FROM base
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
       CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stopword_ratio,
       0.4 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
       + 0.4 * (CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END)
       + 0.2 * (1.0 - CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)
         AS quality_score
FROM m
"""


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID: per-language stopword hit counts,
    argmax with a fixed precedence (en>de>fr>es), 'unknown' when no
    stopword hits at all."""
    tok = _tok_table(spark, sf_dir)
    aggs = [
        F.sum(F.col("tok").isin(*words).cast("int")).alias(f"n_{lang}")
        for lang, words in STOPWORDS.items()
    ]
    counts = tok.groupBy("doc_id").agg(*aggs)
    n = {lang: F.col(f"n_{lang}") for lang in STOPWORDS}
    pred = (
        F.when(n["en"] + n["de"] + n["fr"] + n["es"] == 0, "unknown")
         .when((n["en"] >= n["de"]) & (n["en"] >= n["fr"]) & (n["en"] >= n["es"]), "en")
         .when((n["de"] >= n["fr"]) & (n["de"] >= n["es"]), "de")
         .when(n["fr"] >= n["es"], "fr")
         .otherwise("es"))
    return counts.select("doc_id", pred.alias("pred_lang"),
                         *[F.col(f"n_{lang}").cast("long").alias(f"n_{lang}")
                           for lang in STOPWORDS])


def _sw_sql(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS[lang])


LANG_ID_ORACLE = f"""
WITH tk AS (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
            FROM documents),
c AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN tok IN ({_sw_sql('en')}) THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         CAST(SUM(CASE WHEN tok IN ({_sw_sql('de')}) THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
         CAST(SUM(CASE WHEN tok IN ({_sw_sql('fr')}) THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
         CAST(SUM(CASE WHEN tok IN ({_sw_sql('es')}) THEN 1 ELSE 0 END) AS BIGINT) AS n_es
  FROM tk WHERE tok <> '' GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN n_en + n_de + n_fr + n_es = 0 THEN 'unknown'
            WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es THEN 'en'
            WHEN n_de >= n_fr AND n_de >= n_es THEN 'de'
            WHEN n_fr >= n_es THEN 'fr'
            ELSE 'es' END AS pred_lang,
       n_en, n_de, n_fr, n_es
FROM c
"""


def token_count_bpe_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: GPT-2-style pretokenizer pattern
    (letters / digits / punctuation runs with optional leading space),
    simplified to the RE2∩Java-portable subset (no lookahead). The
    ratio vs whitespace tokens approximates tokens-per-word fertility.
    """
    docs = load_table(spark, sf_dir, "documents")
    pat = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"
    bpe = F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).cast("long")
    ws = whitespace_token_count("text").cast("long")
    return docs.select(
        "doc_id", bpe.alias("n_bpe_tokens"), ws.alias("n_ws_tokens"),
        (bpe.cast("double") / ws).alias("fertility"))


TOKEN_COUNT_BPE_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS DOUBLE)
         / len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS fertility
FROM documents
"""


def train_test_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, content-keyed train/val/test split: bucket =
    md5(text) mod 100 → 80/10/10. Content-keyed (not row-keyed) so
    exact duplicates always land in the same split — the property
    that prevents train/test leakage in dedup'd corpora. Portable
    hash, so fully oracle-checked."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("long") % 100
    split = (F.when(bucket < 80, "train")
              .when(bucket < 90, "val")
              .otherwise("test"))
    return docs.select("doc_id", split.alias("split")) \
               .groupBy("split").agg(F.count("*").alias("n_docs"))


TRAIN_TEST_SPLIT_ORACLE = """
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM (SELECT CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) % 100 AS b
      FROM documents)
GROUP BY 1
"""


def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic doc fingerprint over normalized text (md5) plus
    the raw-content sha256 — the join keys for cross-corpus dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp_norm"),
        F.sha2(F.col("text"), 256).alias("sha_raw"))


FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                               '\\s+', ' ', 'g'))) AS fp_norm,
       sha256(text) AS sha_raw
FROM documents
"""


VOCAB_K = 65536  # retained vocabulary size — every real tokenizer caps this


def build_vocab(spark: SparkSession, sf_dir: str, k: int = VOCAB_K) -> DataFrame:
    """Top-``k`` frequency-ranked vocabulary: token → (rank, count),
    deterministic tiebreak by token. The id-assignment step of any
    tokenizer-training pipeline.

    Scale shape: the count agg is map-side-combined; the top-k is a
    sort+limit, which Spark plans as TakeOrderedAndProject (per-
    partition heap of k, no global sort, no shuffle of the full
    vocab). Only the retained ≤k rows — a constant independent of
    corpus size — pass through the final rank window, so no executor
    ever sees the full 100M+-token vocabulary of a 100 TB corpus in
    one task (the unbounded-global-window trap this replaces)."""
    tok = _tok_table(spark, sf_dir)
    from pyspark.sql import Window as W
    counts = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("tok")).limit(k)
    w = W.orderBy(F.col("cnt").desc(), F.col("tok"))
    return top.select(
        "tok", "cnt",
        F.row_number().over(w).cast("long").alias("rank"))


BUILD_VOCAB_ORACLE = f"""
SELECT tok, cnt,
       ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
FROM (SELECT tok, COUNT(*) AS cnt
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY tok
      ORDER BY cnt DESC, tok LIMIT {VOCAB_K})
"""


def tf_df_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency / document-frequency table for a probe doc set:
    (doc, token, tf, df, weight = tf*N/df). The rational tf-idf
    variant — ln() is excluded from checked outputs (libm), and the
    N/df ratio carries the same ordering. df comes from a broadcast-
    able token→df aggregate; the big side never re-shuffles. The
    corpus size N enters the plan as a broadcast 1-row aggregate
    (cross-join), NOT a driver-side .count() — constructing this
    DataFrame fires zero Spark jobs, and at 100 TB the count is one
    map-side-combined scan inside the same declarative plan instead
    of an extra eager full scan + blocking driver round-trip."""
    tok_all = _tok_table(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n_docs_row = docs.agg(F.count("*").cast("double").alias("__n_docs"))
    df_tab = (tok_all.select("doc_id", "tok").distinct()
                     .groupBy("tok").agg(F.count("*").alias("df")))
    tf = (tok_all.filter(F.col("doc_id") < 10)
                 .groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    return (tf.join(F.broadcast(df_tab), "tok")
              .crossJoin(F.broadcast(n_docs_row))
              .select("doc_id", "tok", "tf", "df",
                      (F.col("tf").cast("double") * F.col("__n_docs")
                       / F.col("df")).alias("weight")))


TF_DF_ORACLE = """
WITH tk AS (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
            FROM documents),
tok_all AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
df_tab AS (SELECT tok, COUNT(*) AS df
           FROM (SELECT DISTINCT doc_id, tok FROM tok_all) GROUP BY tok),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok_all
       WHERE doc_id < 10 GROUP BY doc_id, tok)
SELECT doc_id, tok, tf, df,
       CAST(tf AS DOUBLE) * (SELECT COUNT(*) FROM documents) / df AS weight
FROM tf JOIN df_tab USING (tok)
"""


HH_MIN_DF_PCT = 20  # heavy hitter = present in > this % of docs


def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items mining: tokens whose DOCUMENT frequency exceeds
    ``HH_MIN_DF_PCT`` percent of the corpus — the stopword/boilerplate
    discovery pass that feeds df-caps and stopword lists. Exact
    two-phase shape (distinct → count → threshold); the corpus size
    enters as a broadcast 1-row aggregate, same pattern as
    ``tf_df_docs``. Output fraction is exact double division."""
    tok_all = _tok_table(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n_docs_row = docs.agg(F.count("*").alias("__n_docs"))
    df_tab = (tok_all.select("doc_id", "tok").distinct()
                     .groupBy("tok").agg(F.count("*").alias("df")))
    return (df_tab.crossJoin(F.broadcast(n_docs_row))
                  .filter(F.col("df") * 100 > F.col("__n_docs") * HH_MIN_DF_PCT)
                  .select("tok", "df",
                          (F.col("df").cast("double") / F.col("__n_docs"))
                          .alias("df_frac")))


HEAVY_HITTER_ORACLE = f"""
WITH tk AS (SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id,
                         UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
                  FROM documents)
            WHERE tok <> ''),
df_tab AS (SELECT tok, COUNT(*) AS df FROM tk GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tok, df, CAST(df AS DOUBLE) / n_docs AS df_frac
FROM df_tab, n
WHERE df * 100 > n_docs * {HH_MIN_DF_PCT}
"""


CHUNK_TOKENS = 64  # tokens per training/RAG chunk


def chunk_docs_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking via a real Python UDTF (Spark 4 table
    function, LATERAL-joined in SQL) — one input row → n chunk rows
    of ``CHUNK_TOKENS`` whitespace tokens each (last chunk ragged).
    This is the §2b UDTF surface exercised through the actual UDTF
    API rather than explode()-composition; the same split could (and
    in a hot path should) be pure built-ins — the operator exists to
    prove the extension point, like the reference's pluggable
    map/reduce closures (worker.rs:16-25) prove its. Oracle-checked
    against a DuckDB list-slicing CTE."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, chunk_id: bigint, chunk: string, "
                     "n_tokens: bigint")
    class ChunkUdtf:
        def eval(self, doc_id: int, text: str):
            toks = [t for t in (text or "").split() if t]
            for i in range(0, (len(toks) + CHUNK_TOKENS - 1) // CHUNK_TOKENS):
                part = toks[i * CHUNK_TOKENS:(i + 1) * CHUNK_TOKENS]
                yield doc_id, i, " ".join(part), len(part)

    spark.udtf.register("chunk_udtf", ChunkUdtf)
    load_table(spark, sf_dir, "documents") \
        .createOrReplaceTempView("__docs_for_chunking")
    return spark.sql("""
        SELECT c.doc_id, c.chunk_id, c.chunk, c.n_tokens
        FROM __docs_for_chunking d,
             LATERAL chunk_udtf(d.doc_id, d.text) c
    """)


CHUNK_DOCS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
)
SELECT doc_id, i AS chunk_id,
       array_to_string(t[i*{CHUNK_TOKENS}+1 : (i+1)*{CHUNK_TOKENS}], ' ')
         AS chunk,
       LEAST(CAST(len(t) - i*{CHUNK_TOKENS} AS BIGINT), {CHUNK_TOKENS})
         AS n_tokens
FROM toks,
     UNNEST(range(0, CAST(CEIL(len(t) / {CHUNK_TOKENS}.0) AS BIGINT))) AS u(i)
WHERE len(t) > 0
"""


CMS_DEPTH = 4     # independent hash rows
CMS_WIDTH = 1024  # counters per row


def countmin_token_counts(spark: SparkSession, sf_dir: str,
                          width: int = CMS_WIDTH) -> DataFrame:
    """Count-Min sketch over the token stream, composed entirely from
    DataFrame ops — the custom sketch the built-in library lacks
    (HLL counts distincts; CMS estimates per-item FREQUENCIES in
    O(depth×width) memory). Build: one pass, counters keyed by
    (row, md5-hash(token) mod width) — a map-side-combined aggregate
    whose 4×1024 cells merge across partitions/days by addition (the
    same incremental-rollup property as the HLL partials). Query:
    estimate = MIN over rows of the token's counter; CMS guarantees
    estimate ≥ true count (one-sided error) — asserted in tests and
    visible in the output. Probe set = top-20 exact tokens
    (deterministic tiebreak), so the driver hash-checks build + query
    + exact counts together; every value is an integer, so the oracle
    is exact."""
    tok = _tok_table(spark, sf_dir)
    exact = tok.groupBy("tok").agg(F.count("*").alias("exact_cnt"))

    def bucket(d: int):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{d}:"), F.col("tok"))), 1, 12), 16, 10)
            .cast("long") % width)

    cells = tok.select(
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"), bucket(d).alias("b"))
            for d in range(CMS_DEPTH)])).alias("db"))
    counters = (cells.select("db.d", "db.b")
                     .groupBy("d", "b").agg(F.count("*").alias("c")))

    probes = (exact.orderBy(F.col("exact_cnt").desc(), F.col("tok"))
                   .limit(20))
    probe_cells = probes.select(
        "tok", "exact_cnt",
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"), bucket(d).alias("b"))
            for d in range(CMS_DEPTH)])).alias("db"))
    return (probe_cells.select("tok", "exact_cnt", "db.d", "db.b")
            .join(F.broadcast(counters), ["d", "b"])
            .groupBy("tok", "exact_cnt")
            .agg(F.min("c").alias("cms_est")))


COUNTMIN_ORACLE = f"""
WITH tk AS (SELECT tok FROM (
       SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
       FROM documents) WHERE tok <> ''),
exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM tk GROUP BY tok),
cells AS (
  SELECT d, CAST('0x' || substr(md5(d || ':' || tok), 1, 12) AS BIGINT)
              % {CMS_WIDTH} AS b
  FROM tk, UNNEST(range(0, {CMS_DEPTH})) AS t(d)
),
counters AS (SELECT d, b, COUNT(*) AS c FROM cells GROUP BY d, b),
probes AS (SELECT tok, exact_cnt FROM exact
           ORDER BY exact_cnt DESC, tok LIMIT 20),
probe_cells AS (
  SELECT tok, exact_cnt, d,
         CAST('0x' || substr(md5(d || ':' || tok), 1, 12) AS BIGINT)
           % {CMS_WIDTH} AS b
  FROM probes, UNNEST(range(0, {CMS_DEPTH})) AS t(d)
)
SELECT tok, exact_cnt, MIN(c) AS cms_est
FROM probe_cells JOIN counters USING (d, b)
GROUP BY tok, exact_cnt
"""


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration's statistics: the corpus-wide count
    of adjacent character pairs, weighted by word frequency — the
    merge-candidate table a byte-pair-encoding trainer maximizes
    over. Top-50 pairs with deterministic tiebreak.

    Scale shape: the corpus first collapses to (word, freq) — the
    standard BPE compression; all further work is proportional to
    the VOCABULARY, not the corpus. Pair extraction is a JVM
    transform over substr (adjacent pair i = substr(word, i, 2) —
    no char-array materialization), and the pair count is one
    map-side-combined aggregation over vocab × word_len rows. At
    100 TB the word-freq table is ~100M rows; every later BPE
    iteration operates on that same compressed table, never the raw
    text again."""
    tok = _tok_table(spark, sf_dir)
    words = tok.groupBy(F.col("tok").alias("w")).agg(
        F.count("*").alias("freq"))
    # 1-char words have no pairs; the filter also guards Spark's
    # sequence(1, 0), which would count DOWN and emit bogus rows
    words = words.filter(F.length("w") >= 2)
    pairs = words.select(
        "freq",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"
        )).alias("pair"))
    return (pairs.groupBy("pair")
                 .agg(F.sum("freq").alias("pair_count"))
                 .orderBy(F.col("pair_count").desc(), F.col("pair"))
                 .limit(50))


BPE_PAIR_ORACLE = """
WITH tk AS (SELECT tok FROM (
       SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
       FROM documents) WHERE tok <> ''),
words AS (SELECT tok AS w, COUNT(*) AS freq FROM tk GROUP BY tok),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, freq
  FROM words, UNNEST(range(1, length(w))) AS t(i)
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 50
"""


def normalize_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style text normalization ahead of hashing/dedup:
    lowercase → ASCII punctuation → space → whitespace collapse →
    trim, plus the normalized content hash (what exact-dedup should
    key on so `"Hello, World!"` and `"hello world"` collide) and a
    ``changed`` flag. Pure per-row JVM expressions — zero shuffles,
    embarrassingly parallel at any scale.

    The punctuation class is the ASCII ``[:punct:]`` set in BOTH
    engines (Java ``\\p{Punct}`` ≡ RE2 ``[[:punct:]]``) — wider
    Unicode classes differ between regex engines and would break the
    oracle; non-ASCII letters (CJK, accents) pass through untouched
    on purpose.
    """
    return normalize_text(load_table(spark, sf_dir, "documents"))


def normalize_text(docs: DataFrame) -> DataFrame:
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"[\p{Punct}]+", " "),
        r"\s+", " "))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.sha2(norm, 256).alias("norm_sha"),
        (norm != F.col("text")).alias("changed"))


NORMALIZE_TEXT_ORACLE = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(
             regexp_replace(lower(text), '[[:punct:]]+', ' ', 'g'),
             '\\s+', ' ', 'g')) AS norm_text,
         text
  FROM documents
)
SELECT doc_id, norm_text, sha256(norm_text) AS norm_sha,
       norm_text <> text AS changed
FROM n
"""


def dedup_normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the NORMALIZED content hash — the actual CCNet
    step (``"Hello, World!"`` and ``"hello   world"`` are one
    document); composition of :func:`normalize_text` and the
    digest-groupBy from ``dedup.exact_dedup_docs``. Same scale shape:
    one shuffle keyed on a fixed-width digest."""
    norm = normalize_text(load_table(spark, sf_dir, "documents"))
    return (norm.groupBy("norm_sha")
                .agg(F.min("doc_id").alias("keep_doc_id"),
                     F.count("*").alias("n_copies")))


DEDUP_NORMALIZED_ORACLE = """
WITH n AS (
  SELECT doc_id,
         sha256(trim(regexp_replace(
             regexp_replace(lower(text), '[[:punct:]]+', ' ', 'g'),
             '\\s+', ' ', 'g'))) AS norm_sha
  FROM documents
)
SELECT norm_sha, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM n GROUP BY norm_sha
"""


SEARCH_TERMS = ("batch", "scan", "join")


def boolean_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) keyword search: documents containing ALL of
    ``SEARCH_TERMS``, with the total hit count per doc — the
    filter-by-keywords stage of corpus slicing (e.g. "pull every doc
    mentioning all three topics").

    Shape: ZERO shuffles — the match runs in-row (filter the token
    array against the literal term set, count distinct terms present),
    so the whole query is one codegen'd scan with the verdict as a
    residual filter. The posting-list form (build_vocab/tf_df's
    explode + groupBy index) is the right call when the SAME corpus
    serves many queries; for one ad-hoc conjunctive query, a scan
    touches each byte once and nothing moves between executors."""
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    terms = F.array(*[F.lit(t) for t in SEARCH_TERMS])
    matched = F.filter(toks, lambda t: F.array_contains(terms, t))
    return (docs.select("doc_id", "lang", "source",
                        F.size(matched).cast("long").alias("n_hits"),
                        F.size(F.array_distinct(matched)).alias("nt"))
                .filter(F.col("nt") == len(SEARCH_TERMS))
                .drop("nt"))


_TERMS_SQL = "[" + ", ".join(f"'{t}'" for t in SEARCH_TERMS) + "]"

BOOLEAN_SEARCH_ORACLE = f"""
WITH m AS (
  SELECT doc_id, lang, source,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     t -> list_contains({_TERMS_SQL}, t)) AS matched
  FROM documents
)
SELECT doc_id, lang, source, CAST(len(matched) AS BIGINT) AS n_hits
FROM m
WHERE len(list_distinct(matched)) = {len(SEARCH_TERMS)}
"""


PHRASE_TERMS = ("table", "hash")   # queried exact-adjacency phrase


def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search (consecutive-token match) via the
    POSITIONAL posting-list plan — the index-shaped sibling of
    ``boolean_search_docs``' conjunctive scan: postings are
    (doc_id, pos) lists per term, and a phrase hit is an equi-join of
    the per-term postings on (doc_id, pos offset) — the classic IR
    positional-index intersection, chained once per phrase term.

    Scale shape: the token stream explodes ONCE with positions, is
    filtered to the phrase's terms BEFORE anything shuffles (so join
    input is df(term)-bounded, not corpus-sized), and the
    (doc_id, pos)-keyed equi-joins are ordinary hash joins Catalyst
    can broadcast when a term is rare. One final per-doc aggregate.
    At 100 TB with a query workload, the posting table is built once
    and bucketed on term — this plan is the per-query probe.

    Output: ``(doc_id, n_hits, first_pos)`` (1-based), hit docs only.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    posts = (docs.select("doc_id", F.posexplode(toks)
                         .alias("pos", "tok"))
                 .filter(F.col("tok").isin(*PHRASE_TERMS)))
    hits = (posts.filter(F.col("tok") == PHRASE_TERMS[0])
                 .select("doc_id", F.col("pos").alias("p0")))
    for k, term in enumerate(PHRASE_TERMS[1:], start=1):
        nxt = (posts.filter(F.col("tok") == term)
                    .select(F.col("doc_id").alias("d"),
                            F.col("pos").alias("pk")))
        hits = (hits.join(nxt, (F.col("doc_id") == F.col("d"))
                          & (F.col("pk") == F.col("p0") + k))
                    .select("doc_id", "p0"))
    return (hits.groupBy("doc_id")
                .agg(F.count("*").cast("long").alias("n_hits"),
                     (F.min("p0") + 1).cast("long").alias("first_pos")))


def _phrase_oracle() -> str:
    conds = " AND ".join(
        f"ts[i + {k}] = '{t}'" for k, t in enumerate(PHRASE_TERMS))
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
           AS ts
  FROM documents
),
hit AS (
  SELECT doc_id, i
  FROM t, UNNEST(range(1, len(ts) - {len(PHRASE_TERMS) - 1} + 1)) AS u(i)
  WHERE {conds}
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(i) AS BIGINT) AS first_pos
FROM hit GROUP BY doc_id
"""


PHRASE_SEARCH_ORACLE = _phrase_oracle()


HEAPS_BUCKET = 1024   # doc_id bucket width for the scalable prefix


def heaps_curve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative token count vs
    cumulative DISTINCT vocabulary as the corpus is ingested in
    doc_id order — the saturation diagnostic that tells a curation
    pipeline whether more of the same source still buys new
    vocabulary (V ∝ Tᵝ, β ≈ 0.5–0.7 for natural text; a flattening
    curve means dedup/diversify before scaling up).

    Scalable form: cumulative distinct is the FIRST-SEEN
    decomposition (a type counts from the doc where its min doc_id
    occurs — the ``cumulative_distinct_users`` trick on tokens), and
    BOTH running sums use the two-phase bucket prefix (per-bucket
    totals + carry-in offsets from a window over ≤ |docs|/1024
    bucket rows, in-bucket prefix in (bucket) partitions — the
    scalable_rank discipline, no global doc-grain window). The naive
    single-window oracle doubles as the decomposition proof.

    Output: ``(doc_id, n_toks, new_types, cum_tokens, cum_vocab)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    per_doc = docs.select("doc_id", F.size(toks).cast("long")
                          .alias("n_toks"))
    first = (docs.select("doc_id", F.explode(toks).alias("tok"))
             .groupBy("tok").agg(F.min("doc_id").alias("fdoc"))
             .groupBy(F.col("fdoc").alias("doc_id"))
             .agg(F.count("*").alias("new_types")))
    base = (per_doc.join(first, "doc_id", "left")
            .withColumn("new_types",
                        F.coalesce(F.col("new_types"), F.lit(0))
                        .cast("long"))
            .withColumn("_b", F.expr(f"doc_id DIV {HEAPS_BUCKET}")))
    bt = (base.groupBy("_b")
          .agg(F.sum("n_toks").alias("_t"), F.sum("new_types").alias("_v")))
    wb = W.partitionBy().orderBy("_b")
    offs = bt.select("_b",
                     (F.sum("_t").over(wb) - F.col("_t")).alias("_ot"),
                     (F.sum("_v").over(wb) - F.col("_v")).alias("_ov"))
    wl = (W.partitionBy("_b").orderBy("doc_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (base.join(F.broadcast(offs), "_b")
            .select("doc_id", "n_toks", "new_types",
                    (F.sum("n_toks").over(wl) + F.col("_ot"))
                    .cast("long").alias("cum_tokens"),
                    (F.sum("new_types").over(wl) + F.col("_ov"))
                    .cast("long").alias("cum_vocab")))


HEAPS_CURVE_ORACLE = """
WITH per_doc AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS BIGINT) AS n_toks
  FROM documents
),
first AS (
  SELECT fdoc AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_types
  FROM (
    SELECT tok, MIN(doc_id) AS fdoc
    FROM (SELECT doc_id, UNNEST(list_filter(
              regexp_split_to_array(text, '\\s+'), t -> t <> ''))
              AS tok
          FROM documents)
    GROUP BY tok
  ) GROUP BY fdoc
)
SELECT p.doc_id, p.n_toks, COALESCE(f.new_types, 0) AS new_types,
       CAST(SUM(p.n_toks) OVER (ORDER BY p.doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(f.new_types, 0)) OVER (ORDER BY p.doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM per_doc p LEFT JOIN first f ON f.doc_id = p.doc_id
"""


def source_trigram_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stylometric source similarity: cosine between per-source CHAR
    trigram count vectors (lowercased, spaces kept — the classic
    character-level style fingerprint). Complements
    ``source_vocab_overlap``'s token Jaccard: trigram cosine sees
    morphology/orthography, so it groups sources by language/register
    even when vocabularies barely intersect — the signal used to
    cluster crawl sources before assigning mixture weights.

    Exactness: dot products and squared norms are exact DECIMAL(38,0)
    sums of integer count products; cosine =
    dot / (sqrt(na)·sqrt(nb)) is three correctly-rounded IEEE ops on
    exactly-converted (< 2⁵³) doubles — the same DAG in the oracle.

    Trigrams are packed into ONE BIGINT (three 21-bit codepoint
    lanes — Unicode max 0x10FFFF < 2²¹, so the packing is injective
    and the long key carries exactly the string gram's identity):
    the codepoint array is built once per doc (`split` + `ascii`,
    matching DuckDB `unicode`), after which gram construction is
    pure integer arithmetic — no per-gram string allocation — and
    the count aggregate groups on longs, not strings. Counts are
    additionally pre-reduced IN-ROW (sort the gram array, emit
    (gram, run-length) at run boundaries), so the exploded row count
    is per-doc DISTINCT grams, not per-occurrence — the round-6 ×20
    slope fix (VERDICT r6 item 6: the occurrence explode was 360M
    rows at ×20). The oracle keeps the straightforward
    string-occurrence form: identical counts, so identical output.

    Scale: the corpus scan is linear (unavoidable — every char is
    read once into the codepoint array); everything downstream of
    the in-row reduce is bounded by |charset|³ · S² (gram vocabulary
    is CLOSED — it cannot grow with corpus size), with S = #sources
    a dims count. Pairs sharing zero trigrams are omitted (inner
    join semantics, mirrored).

    Output: ``(src_a, src_b, dot, cosine)`` for src_a < src_b.
    """
    # round 12: spreading the scan was tried and REVERTED — measured
    # 2.9 s -> 3.6 s (the in-row RLE expression is cheaper than the
    # text exchange it buys; see OPTIMIZATION_r12.md)
    docs = load_table(spark, sf_dir, "documents")
    # (gram, count) structs per doc: pack → sort → run-length encode.
    # Lambda-bound lets (the measured 12× let-binding discipline) via
    # nested transforms over single-element arrays.
    gram_counts = F.expr("""
      CASE WHEN length(text) >= 3 THEN
        flatten(transform(
          array(transform(split(lower(text), ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
          cps -> flatten(transform(
            array(array_sort(transform(sequence(0, size(cps) - 3),
              i -> shiftleft(cps[i], 42) + shiftleft(cps[i+1], 21)
                   + cps[i+2]))),
            s -> flatten(transform(
              array(filter(sequence(0, size(s) - 1),
                           i -> i = 0 OR s[i] != s[i-1])),
              bs -> transform(sequence(0, size(bs) - 1),
                j -> struct(
                  s[bs[j]] AS g,
                  CAST((CASE WHEN j + 1 < size(bs) THEN bs[j+1]
                        ELSE size(s) END) - bs[j] AS BIGINT)
                  AS c))))))))
      ELSE CAST(array() AS array<struct<g: bigint, c: bigint>>) END""")
    dec = "decimal(38,0)"
    # Collapse exact-duplicate texts BEFORE gram generation (the
    # pair-op duplicate-collapse discipline, applied to the scan):
    # grams are computed once per distinct (source, text) and weighted
    # by multiplicity, so a replicated corpus costs its distinct-text
    # gram work plus a cheap linear count — measured ×20 slope
    # 0.77× → ~0.1× per 1× data. groupBy(text) is map-side-combining,
    # so duplicate texts collapse within each input partition before
    # the shuffle ever sees them.
    per_text = (docs.where(F.length("text") >= 3)
                .groupBy("source", "text")
                .agg(F.count("*").alias("m")))
    cnt = (per_text.select("source", "m",
                           F.explode(gram_counts).alias("gc"))
           .groupBy("source", F.col("gc.g").alias("g"))
           .agg(F.sum(F.col("gc.c") * F.col("m")).alias("c"))
           .localCheckpoint(eager=False))   # consumed by 2 branches
    norms = (cnt.groupBy("source")
             .agg(F.sum((F.col("c") * F.col("c")).cast(dec))
                  .cast("double").alias("n2")))
    a = cnt.select(F.col("source").alias("src_a"), "g",
                   F.col("c").alias("ca"))
    b = cnt.select(F.col("source").alias("src_b"), "g",
                   F.col("c").alias("cb"))
    dots = (a.join(b, "g")
            .where(F.col("src_a") < F.col("src_b"))
            .groupBy("src_a", "src_b")
            .agg(F.sum((F.col("ca") * F.col("cb")).cast(dec))
                 .alias("dot")))
    na = norms.select(F.col("source").alias("src_a"),
                      F.col("n2").alias("na"))
    nb = norms.select(F.col("source").alias("src_b"),
                      F.col("n2").alias("nb"))
    return (dots.join(F.broadcast(na), "src_a")
            .join(F.broadcast(nb), "src_b")
            .select("src_a", "src_b",
                    F.col("dot").cast("long").alias("dot"),
                    (F.col("dot").cast("double")
                     / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))))
                    .alias("cosine")))


TRIGRAM_COSINE_ORACLE = """
WITH g AS (
  SELECT source,
         UNNEST(list_transform(range(1, len(lower(text)) - 1),
                               i -> substring(lower(text), i, 3))) AS g
  FROM documents WHERE len(text) >= 3
),
cnt AS (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM g GROUP BY source, g),
norms AS (
  SELECT source,
         CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS n2
  FROM cnt GROUP BY source
),
dots AS (
  SELECT a.source AS src_a, b.source AS src_b,
         SUM(CAST(a.c * b.c AS DECIMAL(38,0))) AS dot
  FROM cnt a JOIN cnt b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT d.src_a, d.src_b, CAST(d.dot AS BIGINT) AS dot,
       CAST(d.dot AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
FROM dots d
JOIN norms na ON na.source = d.src_a
JOIN norms nb ON nb.source = d.src_b
"""


EDITDIST_MAX_POS = 32   # deletion positions per name (length cap)


def editdist1_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-free entity resolution at edit distance ≤ 1: every
    pair of customers whose names differ by at most one character,
    via the FastSS deletion neighborhood — each name indexes under
    itself plus its single-character deletions, and any dist-≤1 pair
    PROVABLY shares a variant (equal strings share themselves; a
    substitution shares the deletion at that position; an
    insertion/deletion shares the shorter string). Join on the
    variant, dedupe, VERIFY with exact levenshtein — lossless within
    the cap, the complement of ``fuzzy_match_parts``'
    block-then-verify (which trades recall across blocks for a
    cheaper index; FastSS never misses a dist-1 pair but only
    reaches distance 1).

    Deletion positions are capped at ``EDITDIST_MAX_POS`` (mirrored
    in the oracle — the basket-cap discipline): a pathological
    10⁵-char "name" indexes 33 variants, not 10⁵; edits beyond the
    cap position in over-cap names are the documented loss (TPC-H
    names are 18 chars, the cap never binds). Index size is
    Σ min(len, cap)+1 ≈ (len+1)·n — never n²; candidate volume is
    Σ per-variant collisions², which tracks TRUE near-matches
    (a shared variant implies distance ≤ 2).

    Scoped to one nation's register (nation 0): zero-padded
    sequential fixture names make nearly every consecutive id a true
    dist-1 pair, so a full-table run is output-bound (~260k true
    pairs at sf0.1) — the scope keeps the benchmark about the index,
    not the pair dump; the technique stays blocking-free within its
    input.

    Output: ``(cust_a, cust_b, dist)`` with cust_a < cust_b.
    """
    cust = (load_table(spark, sf_dir, "customer")
            .where(F.col("c_nationkey") == 0)
            .select("c_custkey", "c_name")
            .localCheckpoint(eager=False))   # consumed by 2 branches
    variants = F.expr(f"""
      flatten(transform(array(c_name), s ->
        transform(sequence(0, least(length(s), {EDITDIST_MAX_POS})),
                  i -> CASE WHEN i = 0 THEN s
                            ELSE concat(substring(s, 1, i - 1),
                                        substring(s, i + 1, length(s)))
                       END)))""")
    idx = cust.select("c_custkey", "c_name", F.explode(variants).alias("v"))
    a = idx.select(F.col("c_custkey").alias("cust_a"),
                   F.col("c_name").alias("name_a"), "v")
    b = idx.select(F.col("c_custkey").alias("cust_b"),
                   F.col("c_name").alias("name_b"), "v")
    cand = (a.join(b, "v")
            .where(F.col("cust_a") < F.col("cust_b"))
            .select("cust_a", "name_a", "cust_b", "name_b").distinct())
    # threshold-bounded verify: levenshtein(a, b, 1) is O(len) per
    # pair (banded DP), not O(len²) — on a planted 10k-char name the
    # unbounded verify costs ~50 s for ONE candidate; the band makes
    # it milliseconds. Returns -1 above the threshold.
    return (cand.withColumn("dist",
                            F.levenshtein("name_a", "name_b", 1)
                            .cast("long"))
            .where((F.col("dist") >= 0) & (F.col("dist") <= 1))
            .select("cust_a", "cust_b", "dist"))


EDITDIST1_ORACLE = f"""
WITH idx AS (
  SELECT c_custkey, c_name,
         UNNEST(list_transform(
           range(0, least(len(c_name), {EDITDIST_MAX_POS}) + 1),
           i -> CASE WHEN i = 0 THEN c_name
                     ELSE substring(c_name, 1, i - 1)
                          || substring(c_name, i + 1, len(c_name)) END))
           AS v
  FROM customer WHERE c_nationkey = 0
),
cand AS (
  SELECT DISTINCT a.c_custkey AS cust_a, a.c_name AS name_a,
                  b.c_custkey AS cust_b, b.c_name AS name_b
  FROM idx a JOIN idx b ON a.v = b.v AND a.c_custkey < b.c_custkey
)
SELECT cust_a, cust_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(name_a, name_b) <= 1
"""


KEYWORDS_TOP_K = 10
KEYWORDS_MIN_COUNT = 5   # min in-domain occurrences (hapax guard)


def domain_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive keywords per source: the ``KEYWORDS_TOP_K`` tokens
    with the highest lift — (in-domain frequency) / (corpus
    frequency) — per source, min-support filtered. The
    domain-characterization step of corpus analysis (what makes
    src7 different), and the exact-arithmetic stand-in for per-domain
    TF-IDF: lift uses only integer counts and two correctly-rounded
    double divisions, so unlike a log-idf it is bit-identical across
    engines and fully hash-checkable.

    Scale shape: one (source, tok) aggregate (the shuffle volume is
    the distinct pair count, with map-side combine), one tok-level
    aggregate derived FROM it (not from the raw stream), a broadcast
    per-source total, and a per-source top-k window whose input is
    already min-support-thinned — the window partition is bounded by
    a single domain's qualifying vocabulary, never the corpus."""
    tok = _tok_table(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "source")
    # materialize the (source, tok) counts ONCE: four plan branches
    # consume them (per-tok totals, per-source totals, the global
    # total, and the candidate set) and each would otherwise re-run
    # the token explode + join + aggregate — 8 FileScans collapsed to
    # 2 (measured: the whole query 1.6 s → 1.2 s at sf0.1)
    st = (tok.join(docs, "doc_id")
             .groupBy("source", "tok")
             .agg(F.count("*").alias("c_st"))
             .localCheckpoint(eager=False))
    per_tok = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    per_src = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    total = per_tok.agg(F.sum("c_t").alias("n"))
    lift = ((F.col("c_st").cast("double") / F.col("n_s"))
            / (F.col("c_t").cast("double") / F.col("n")))
    cand = (st.filter(F.col("c_st") >= KEYWORDS_MIN_COUNT)
              .join(per_tok, "tok")
              .join(F.broadcast(per_src), "source")
              .crossJoin(F.broadcast(total))
              .withColumn("lift", lift))
    w = W.partitionBy("source").orderBy(F.col("lift").desc(), "tok")
    return (cand.withColumn("rank", F.row_number().over(w).cast("long"))
                .filter(F.col("rank") <= KEYWORDS_TOP_K)
                .select("source", "rank", "tok",
                        F.col("c_st").cast("long").alias("c_st"), "lift"))


DOMAIN_KEYWORDS_ORACLE = f"""
WITH tok AS (
  SELECT d.source, t.tok
  FROM documents d,
       UNNEST(regexp_split_to_array(d.text, '\\s+')) AS t(tok)
  WHERE t.tok <> ''
),
st AS (SELECT source, tok, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
pt AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY 1),
ps AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY 1),
tot AS (SELECT SUM(c_t) AS n FROM pt),
cand AS (
  SELECT st.source, st.tok, st.c_st,
         (CAST(st.c_st AS DOUBLE) / ps.n_s)
           / (CAST(pt.c_t AS DOUBLE) / tot.n) AS lift
  FROM st JOIN pt USING (tok) JOIN ps USING (source), tot
  WHERE st.c_st >= {KEYWORDS_MIN_COUNT}
)
SELECT source, rank, tok, CAST(c_st AS BIGINT) AS c_st, lift
FROM (SELECT *, CAST(ROW_NUMBER() OVER (
          PARTITION BY source ORDER BY lift DESC, tok) AS BIGINT) AS rank
      FROM cand)
WHERE rank <= {KEYWORDS_TOP_K}
"""


def ttr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document — the lexical-diversity quality
    signal (near-1 TTR at length ⇒ word salad / boilerplate lists;
    very low TTR ⇒ repetition): distinct whitespace tokens over total
    tokens. Entirely in-row (split → array_distinct → size): zero
    shuffles, one codegen scan — the cheapest possible 100 TB shape.
    Empty docs emit 0.0 explicitly on both engines (the
    quality_score_from convention); the ratio is int÷int double
    division, correctly rounded identically everywhere."""
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    d = docs.select("doc_id", toks.alias("toks"))
    n = F.size("toks").cast("long")
    nd = F.size(F.array_distinct("toks")).cast("long")
    ttr = (F.when(n == 0, F.lit(0.0))
            .otherwise(nd.cast("double") / n.cast("double")))
    return d.select("doc_id", n.alias("n_tokens"),
                    nd.alias("n_distinct"), ttr.alias("ttr"))


TTR_ORACLE = """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(len(toks) AS BIGINT) END AS ttr
FROM d
"""


BIGRAM_TOP_PREFIXES = 20
BIGRAM_TOP_CONT = 3


def bigram_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language model, head view: for the 20 highest-
    frequency prefix tokens, the top-3 continuations with exact
    counts and the conditional probability P(w2|w1) — the
    next-token-distribution profile that backs autocomplete and the
    unigram_logprob/DSIR feature stack.

    Bigrams generate IN-ROW (sequence over token indices — guarded:
    ``F.sequence(1, 0)`` DESCENDS) so the only corpus-sized shuffle
    is the (w1, w2) count with map-side combine. The prefix top-20 is
    a TakeOrderedAndProject re-aggregate of the pair counts (no
    second corpus scan), broadcast back; the per-prefix top-3 window
    runs over ≤ |pairs of 20 prefixes| rows. cond_p is exact-int ÷
    exact-int."""
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    d = docs.select(toks.alias("toks"))
    nt = F.size("toks")
    idx = (F.when(nt >= 2, F.sequence(F.lit(1), nt - 1))
            .otherwise(F.expr("CAST(array() AS array<int>)")))
    pairs = F.transform(
        idx, lambda i: F.struct(
            F.element_at(F.col("toks"), i).alias("w1"),
            F.element_at(F.col("toks"), i + 1).alias("w2")))
    big = d.select(F.explode(pairs).alias("b")).select("b.w1", "b.w2")
    pc = big.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    pref = (pc.groupBy("w1").agg(F.sum("n").alias("wn"))
              .orderBy(F.desc("wn"), "w1").limit(BIGRAM_TOP_PREFIXES))
    j = pc.join(F.broadcast(pref), "w1")
    w = W.partitionBy("w1").orderBy(F.desc("n"), "w2")
    return (j.withColumn("rk", F.row_number().over(w).cast("long"))
             .where(F.col("rk") <= BIGRAM_TOP_CONT)
             .select("w1", "w2", "rk", "n",
                     (F.col("n").cast("double") / F.col("wn").cast("double"))
                     .alias("cond_p")))


BIGRAM_LM_ORACLE = f"""
WITH d AS (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents
),
bi AS (SELECT toks, UNNEST(range(1, len(toks))) AS i FROM d),
b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM bi),
pc AS (SELECT w1, w2, COUNT(*) AS n FROM b GROUP BY w1, w2),
pref AS (
  SELECT w1, CAST(SUM(n) AS BIGINT) AS wn FROM pc GROUP BY w1
  ORDER BY wn DESC, w1 LIMIT {BIGRAM_TOP_PREFIXES}
),
r AS (
  SELECT pc.w1, w2, n, wn,
         ROW_NUMBER() OVER (PARTITION BY pc.w1 ORDER BY n DESC, w2) AS rk
  FROM pc JOIN pref ON pc.w1 = pref.w1
)
SELECT w1, w2, CAST(rk AS BIGINT) AS rk, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE) / CAST(wn AS DOUBLE) AS cond_p
FROM r WHERE rk <= {BIGRAM_TOP_CONT}
"""


COLLOC_WINDOW = 2       # skip-gram co-occurrence radius (word2vec-style)
COLLOC_MIN_COUNT = 5    # min pair support (hapax-pair guard)
COLLOC_TOP_K = 20


def collocations_pmi_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram collocation mining: the ``COLLOC_TOP_K`` token pairs
    co-occurring within a ±``COLLOC_WINDOW`` window with the highest
    PMI lift — the statistic word2vec/GloVe implicitly factorize and
    the collocation detector ("new york") of corpus analysis. Lift is
    the exponential-free PMI: p(a,b) / (p(a)·p(b)) with p(a,b) =
    c_ab/P (P = total windowed pairs) and p(w) = c_w/N (N = total
    tokens) — written as the identical fixed-order chain of
    correctly-rounded double divisions on both engines (the
    domain_keywords discipline; no log, so no libm).

    Pairs generate IN-ROW (nested index transforms, ≤ W·len per doc,
    canonicalized least/greatest so (a,b) ≡ (b,a)), so the only
    corpus-sized shuffles are the pair count and the unigram count,
    both map-side combined; N, P broadcast as 1-row literals; the
    top-k is TakeOrderedAndProject."""
    # round 12: the in-row windowed pair HOF is the per-row hot spot
    # and the fixture scan is one task — spread first (functions.spread)
    from mapreduce_rust_spark.functions import spread
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = whitespace_tokens("text")
    d = docs.select(toks.alias("toks"))
    nt = F.size("toks")
    idx = (F.when(nt >= 2, F.sequence(F.lit(1), nt - 1))
            .otherwise(F.expr("CAST(array() AS array<int>)")))
    pairs = F.flatten(F.transform(idx, lambda i: F.transform(
        F.sequence(i + 1, F.least(i + COLLOC_WINDOW, nt)),
        lambda j: F.struct(
            F.least(F.element_at(F.col("toks"), i),
                    F.element_at(F.col("toks"), j)).alias("w1"),
            F.greatest(F.element_at(F.col("toks"), i),
                       F.element_at(F.col("toks"), j)).alias("w2")))))
    pc = (d.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
           .groupBy("w1", "w2").agg(F.count("*").alias("c_ab")))
    uni = (d.select(F.explode("toks").alias("w"))
            .groupBy("w").agg(F.count("*").alias("c_w")))
    totals = (pc.agg(F.sum("c_ab").alias("p_tot"))
                .crossJoin(uni.agg(F.sum("c_w").alias("n_tot")))
                .localCheckpoint(eager=False))
    cand = (pc.filter(F.col("c_ab") >= COLLOC_MIN_COUNT)
              .join(uni.withColumnRenamed("w", "w1")
                       .withColumnRenamed("c_w", "c_a"), "w1")
              .join(uni.withColumnRenamed("w", "w2")
                       .withColumnRenamed("c_w", "c_b"), "w2")
              .crossJoin(F.broadcast(totals)))
    lift = ((F.col("c_ab").cast("double") / F.col("p_tot"))
            / ((F.col("c_a").cast("double") / F.col("n_tot"))
               * (F.col("c_b").cast("double") / F.col("n_tot"))))
    return (cand.withColumn("lift", lift)
            .select("w1", "w2", "c_ab", "c_a", "c_b", "lift")
            .orderBy(F.desc("lift"), "w1", "w2")
            .limit(COLLOC_TOP_K))


COLLOC_PMI_ORACLE = f"""
WITH d AS (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents
),
ij AS (SELECT toks, UNNEST(range(1, len(toks))) AS i FROM d),
pj AS (SELECT toks, i,
              UNNEST(range(i + 1, least(i + {COLLOC_WINDOW}, len(toks)) + 1))
                AS j
       FROM ij),
pr AS (SELECT least(toks[i], toks[j]) AS w1,
              greatest(toks[i], toks[j]) AS w2
       FROM pj),
pc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM pr GROUP BY w1, w2),
uni AS (SELECT t.tok AS w, COUNT(*) AS c_w
        FROM d, UNNEST(toks) AS t(tok) GROUP BY 1),
tot AS (SELECT (SELECT SUM(c_ab) FROM pc) AS p_tot,
               (SELECT SUM(c_w) FROM uni) AS n_tot)
SELECT pc.w1, pc.w2, pc.c_ab, a.c_w AS c_a, b.c_w AS c_b,
       (CAST(pc.c_ab AS DOUBLE) / p_tot)
         / ((CAST(a.c_w AS DOUBLE) / n_tot)
            * (CAST(b.c_w AS DOUBLE) / n_tot)) AS lift
FROM pc
JOIN uni a ON a.w = pc.w1
JOIN uni b ON b.w = pc.w2, tot
WHERE pc.c_ab >= {COLLOC_MIN_COUNT}
ORDER BY lift DESC, pc.w1, pc.w2
LIMIT {COLLOC_TOP_K}
"""


def simpson_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary concentration per source: Simpson/Herfindahl index
    λ = Σ c_i² / n² over each source's token distribution — the
    log-free diversity measure (1/λ is the effective vocabulary
    size; λ→1 means one token dominates ⇒ boilerplate). The mixture
    designer's per-domain "how repetitive is this corpus" signal,
    complementing ``ttr_docs``' per-document view.

    Exactness: counts and Σc² accumulate as integer/DECIMAL(38,0)
    sufficient statistics (c² ≤ n² ≈ 1e24 at 100 TB — past int64,
    inside decimal), then ONE identical IEEE combination per source:
    double(Σc²) / (double(n)·double(n)). Scale: a (source, tok)
    aggregate with map-side combine, re-aggregated to ≤ |sources|
    rows — the domain_keywords shuffle shape."""
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    st = (docs.select("source", F.explode(toks).alias("tok"))
              .groupBy("source", "tok").agg(F.count("*").alias("c")))
    per_src = st.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("ssq"))
    return per_src.select(
        "source", "n_tokens", "vocab",
        (F.col("ssq").cast("double")
         / (F.col("n_tokens").cast("double")
            * F.col("n_tokens").cast("double"))).alias("simpson"))


SIMPSON_ORACLE = """
WITH tok AS (
  SELECT d.source, t.tok
  FROM documents d,
       UNNEST(regexp_split_to_array(d.text, '\\s+')) AS t(tok)
  WHERE t.tok <> ''
),
st AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE)
         / (CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
            * CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)) AS simpson
FROM st GROUP BY source
"""


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-
    similarity matrix mixture design reads before weighting domains
    (two near-identical crawls shouldn't both get full weight). For
    every source pair: each side's vocabulary size, the shared-type
    count, and Jaccard |A∩B| / |A∪B| as exact int ÷ int.

    Scale: the corpus collapses to DISTINCT (source, tok) first —
    the self-join runs on vocabularies, not token streams, and each
    tok join-group is bounded by |sources| (≤ |sources|² pairs per
    type), so there is no skew amplification; output is
    |sources|²/2 rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    vt = (docs.select("source", F.explode(toks).alias("tok")).distinct())
    sizes = vt.groupBy("source").agg(F.count("*").alias("v"))
    a, b = vt.alias("a"), vt.alias("b")
    inter = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                    & (F.col("a.source") < F.col("b.source")))
              .groupBy(F.col("a.source").alias("src_a"),
                       F.col("b.source").alias("src_b"))
              .agg(F.count("*").alias("n_common")))
    return (inter
            .join(F.broadcast(sizes.withColumnRenamed("source", "src_a")
                                   .withColumnRenamed("v", "v_a")), "src_a")
            .join(F.broadcast(sizes.withColumnRenamed("source", "src_b")
                                   .withColumnRenamed("v", "v_b")), "src_b")
            .select("src_a", "src_b", "v_a", "v_b", "n_common",
                    (F.col("n_common").cast("double")
                     / (F.col("v_a") + F.col("v_b") - F.col("n_common"))
                       .cast("double")).alias("jaccard")))


VOCAB_OVERLAP_ORACLE = """
WITH vt AS (
  SELECT DISTINCT d.source, t.tok
  FROM documents d,
       UNNEST(regexp_split_to_array(d.text, '\\s+')) AS t(tok)
  WHERE t.tok <> ''
),
sizes AS (SELECT source, COUNT(*) AS v FROM vt GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM vt a JOIN vt b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, sa.v AS v_a, sb.v AS v_b, n_common,
       CAST(n_common AS DOUBLE)
         / CAST(sa.v + sb.v - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
"""


KWIC_TERM = "batch"     # first SEARCH_TERMS entry
KWIC_RADIUS = 2


def kwic_snippets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context: for every doc containing ``KWIC_TERM``,
    the token position of its FIRST occurrence and a snippet of
    ±``KWIC_RADIUS`` tokens around it — the result-presentation step
    after boolean/BM25 retrieval (what the user actually sees), and
    the context-window extraction primitive behind concordance
    analysis. Entirely in-row (array_position → clamped slice →
    join): zero shuffles, one codegen scan; the scan's filter is the
    array_position > 0 predicate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    d = docs.select("doc_id", toks.alias("toks"))
    p = F.array_position("toks", KWIC_TERM)
    n = F.size("toks")
    start = F.greatest(F.lit(1), p - KWIC_RADIUS)
    end = F.least(n.cast("bigint"), p + KWIC_RADIUS)
    return (d.withColumn("pos", p)
             .filter(F.col("pos") > 0)
             .select("doc_id", F.col("pos").cast("long").alias("pos"),
                     F.array_join(
                         F.slice("toks", start.cast("int"),
                                 (end - start + 1).cast("int")),
                         " ").alias("snippet")))


KWIC_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents
),
p AS (
  SELECT doc_id, toks, list_position(toks, '{KWIC_TERM}') AS pos
  FROM d
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       array_to_string(
         toks[GREATEST(1, pos - {KWIC_RADIUS}):
              LEAST(len(toks), pos + {KWIC_RADIUS})], ' ') AS snippet
FROM p WHERE pos IS NOT NULL AND pos > 0
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10


def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style ranked retrieval for the ``SEARCH_TERMS`` query —
    the scoring step ``boolean_search_docs``' filter feeds: per-term
    saturated TF × inverse document frequency, summed over query
    terms, top-``BM25_TOP_K`` docs. IDF is the log-free lift N/df
    (monotone in Robertson's idf, so ranking-equivalent on any fixed
    query; no libm). tf_norm = tf·(k1+1) / (tf + k1·(1−b+b·len/avg)).

    Float discipline: every input (tf, df, len, N, Σlen) is an exact
    integer; the per-term score is a fixed chain of IEEE ops written
    identically in the oracle, and the cross-term SUM — the one
    order-sensitive float reduction — is pivoted into per-term
    columns and added LEFT-TO-RIGHT in query-literal order, so no
    engine is free to re-associate. Scale: one (doc, term) aggregate
    over a pre-filtered token stream (terms are a literal IN — the
    scan prunes everything else), df/N/avg are ≤|terms|-row
    broadcasts, top-k is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    return (bm25_scored(docs)
            .orderBy(F.desc("score"), "doc_id")
            .limit(BM25_TOP_K))


def bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, n_terms, score) for every document matching ≥1 query
    term — the pre-top-k BM25 table, shared by ``bm25_search_docs``
    and the hybrid RRF fusion (``similarity.rrf_hybrid_search``).
    See ``bm25_search_docs`` for the float discipline."""
    toks = whitespace_tokens("text")
    base = docs.select("doc_id", toks.alias("toks"))
    lens = base.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = lens.agg(F.count("*").cast("long").alias("n_docs"),
                     F.sum("dl").alias("sum_dl")).localCheckpoint(eager=False)
    tf = (base.select("doc_id", F.explode("toks").alias("term"))
              .filter(F.col("term").isin(*SEARCH_TERMS))
              .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(df_t), "term")
                .join(lens, "doc_id")
                .crossJoin(F.broadcast(stats)))
    avg_dl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    tf_d = F.col("tf").cast("double")
    norm = (tf_d * (BM25_K1 + 1.0)
            / (tf_d + BM25_K1 * (1.0 - BM25_B
                                 + BM25_B * (F.col("dl").cast("double")
                                             / avg_dl))))
    idf = F.col("n_docs").cast("double") / F.col("df").cast("double")
    per_term = scored.select(
        "doc_id", "term", (norm * idf).alias("s"))
    # fixed-order cross-term sum: one column per query-literal term,
    # added left-to-right — no order-sensitive SUM() over floats
    piv = per_term.groupBy("doc_id").agg(
        *[F.max(F.when(F.col("term") == t, F.col("s")))
          .alias(f"s_{i}") for i, t in enumerate(SEARCH_TERMS)])
    total = F.coalesce(F.col("s_0"), F.lit(0.0))
    for i in range(1, len(SEARCH_TERMS)):
        total = total + F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
    n_terms = sum(
        (F.when(F.col(f"s_{i}").isNotNull(), 1).otherwise(0)
         for i in range(len(SEARCH_TERMS))), F.lit(0))
    return piv.select("doc_id", n_terms.cast("long").alias("n_terms"),
                      total.alias("score"))


def _bm25_oracle() -> str:
    return (bm25_scored_sql()
            + f"\nORDER BY score DESC, doc_id\nLIMIT {BM25_TOP_K}")


def bm25_scored_sql() -> str:
    """Full ``WITH … SELECT (doc_id, n_terms, score)`` oracle body for
    the pre-top-k BM25 table — parenthesizable as a nested CTE (the
    ``dedup_eval_lsh`` composition trick), so the RRF-fusion oracle
    reuses the exact float chain without drift."""
    terms_in = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
    s_cols = ",\n         ".join(
        f"MAX(CASE WHEN term = '{t}' THEN s END) AS s_{i}"
        for i, t in enumerate(SEARCH_TERMS))
    total = " + ".join(f"COALESCE(s_{i}, 0.0)"
                       for i in range(len(SEARCH_TERMS)))
    n_terms = " + ".join(
        f"CASE WHEN s_{i} IS NOT NULL THEN 1 ELSE 0 END"
        for i in range(len(SEARCH_TERMS)))
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents
),
lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS sum_dl FROM lens),
tf AS (
  SELECT doc_id, t.tok AS term, COUNT(*) AS tf
  FROM base, UNNEST(toks) AS t(tok)
  WHERE t.tok IN ({terms_in})
  GROUP BY doc_id, t.tok
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         (CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1.0)
          / (CAST(tf.tf AS DOUBLE)
             + {BM25_K1} * (1.0 - {BM25_B}
                            + {BM25_B} * (CAST(lens.dl AS DOUBLE)
                                          / (CAST(sum_dl AS DOUBLE)
                                             / CAST(n_docs AS DOUBLE))))))
           * (CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS s
  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), stats
),
piv AS (
  SELECT doc_id,
         {s_cols}
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       CAST({n_terms} AS BIGINT) AS n_terms,
       {total} AS score
FROM piv
"""


BM25_ORACLE = _bm25_oracle()


REGISTRATIONS = [
    ("token_stats_docs", token_stats_docs, TOKEN_STATS_ORACLE),
    ("ttr_docs", ttr_docs, TTR_ORACLE),
    ("bigram_lm_docs", bigram_lm_docs, BIGRAM_LM_ORACLE),
    ("boolean_search_docs", boolean_search_docs, BOOLEAN_SEARCH_ORACLE),
    ("phrase_search_docs", phrase_search_docs, PHRASE_SEARCH_ORACLE),
    ("heaps_curve_docs", heaps_curve_docs, HEAPS_CURVE_ORACLE),
    ("source_trigram_cosine", source_trigram_cosine,
     TRIGRAM_COSINE_ORACLE),
    ("editdist1_name_pairs", editdist1_name_pairs, EDITDIST1_ORACLE),
    ("bm25_search_docs", bm25_search_docs, BM25_ORACLE),
    ("kwic_snippets_docs", kwic_snippets_docs, KWIC_ORACLE),
    ("collocations_pmi_docs", collocations_pmi_docs, COLLOC_PMI_ORACLE),
    ("simpson_diversity_sources", simpson_diversity_sources,
     SIMPSON_ORACLE),
    ("source_vocab_overlap", source_vocab_overlap, VOCAB_OVERLAP_ORACLE),
    ("domain_keywords_docs", domain_keywords_docs, DOMAIN_KEYWORDS_ORACLE),
    ("normalize_text_docs", normalize_text_docs, NORMALIZE_TEXT_ORACLE),
    ("dedup_normalized_docs", dedup_normalized_docs, DEDUP_NORMALIZED_ORACLE),
    ("bpe_pair_counts", bpe_pair_counts, BPE_PAIR_ORACLE),
    ("countmin_token_counts", countmin_token_counts, COUNTMIN_ORACLE),
    ("heavy_hitter_tokens", heavy_hitter_tokens, HEAVY_HITTER_ORACLE),
    ("chunk_docs_udtf", chunk_docs_udtf, CHUNK_DOCS_ORACLE),
    ("token_count_bpe_docs", token_count_bpe_docs, TOKEN_COUNT_BPE_ORACLE),
    ("train_test_split_docs", train_test_split_docs, TRAIN_TEST_SPLIT_ORACLE),
    ("build_vocab", build_vocab, BUILD_VOCAB_ORACLE),
    ("tf_df_docs", tf_df_docs, TF_DF_ORACLE),
    ("quality_score_docs", quality_score_docs, QUALITY_SCORE_ORACLE),
    ("lang_id_docs", lang_id_docs, LANG_ID_ORACLE),
    ("fingerprint_docs", fingerprint_docs, FINGERPRINT_ORACLE),
]


def ngram_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval n-gram novelty: the share of held-out word BIGRAMS
    never seen in the training split — the memorization/coverage
    probe run before trusting an eval set (an eval bigram set the
    train corpus already contains is measuring recall, not
    generalization). Split is the engine's content-keyed md5 split
    (``train_test_split_docs``): bucket < 80 trains, the 20% rest is
    held out, so exact duplicates can never leak a bigram across the
    boundary by construction.

    Scale: bigrams are built in-row (positional transform over the
    filtered token array — one pass per doc, no self-join); the train
    side collapses to its DISTINCT bigram set (vocabulary-bounded,
    partial-combined) before the single anti-join shape — a LEFT
    join + null test keyed on the bigram, the inverted-index
    discipline. No window touches corpus-sized data.

    Output: ``(source, n_eval_bigrams, n_novel, novelty_rate)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(r"filter(split(text, '\\s+'), t -> t != '')")
    bigrams = F.expr("""
      CASE WHEN size(toks) >= 2 THEN
        transform(sequence(0, size(toks) - 2),
                  i -> toks[i] || ' ' || toks[i+1])
      ELSE CAST(array() AS array<string>) END""")
    b = (docs
         .withColumn("toks", toks)
         .withColumn(
             "is_train",
             F.conv(F.substring(F.md5("text"), 1, 12), 16, 10)
              .cast("long") % 100 < 80)
         .select("source", "is_train", F.explode(bigrams).alias("g")))
    train_set = (b.where("is_train").select("g").distinct()
                 .withColumn("seen", F.lit(1)))
    ev = (b.where(~F.col("is_train"))
          .join(train_set, "g", "left"))
    return (ev.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_eval_bigrams"),
                 F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_novel"))
            .withColumn("novelty_rate",
                        F.col("n_novel").cast("double")
                        / F.col("n_eval_bigrams").cast("double")))


NGRAM_NOVELTY_ORACLE = r"""
WITH d AS (
  SELECT source,
         CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) % 100 < 80
           AS is_train,
         list_filter(regexp_split_to_array(text, '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
b AS (
  SELECT source, is_train, g
  FROM d, UNNEST(list_transform(
            range(1, GREATEST(len(toks), 1)),
            i -> toks[i] || ' ' || toks[i+1])) AS t(g)
),
train_set AS (SELECT DISTINCT g FROM b WHERE is_train),
ev AS (
  SELECT b.source, b.g, train_set.g IS NOT NULL AS seen
  FROM b LEFT JOIN train_set USING (g)
  WHERE NOT b.is_train
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_eval_bigrams,
       CAST(SUM(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN seen THEN 0 ELSE 1 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty_rate
FROM ev GROUP BY source
"""


REGISTRATIONS.append(("ngram_novelty_docs", ngram_novelty_docs,
                      NGRAM_NOVELTY_ORACLE))


LEN_PCTS = (25, 50, 90)   # per-source length profile percentiles


def len_quantiles_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source document-length percentiles — the corpus-
    profile drift readout a curation pipeline trends per ingest
    source (a source whose P50 halves started truncating; one whose
    P90 doubles started concatenating). Nearest-rank on the integer
    n_chars grid — never an approximate sketch, so week-over-week
    deltas are real, not sketch noise.

    Scale shape: the corpus collapses to (source, n_chars) counts in
    one map-side-combined aggregate; the cumsum window runs over the
    bounded value grid per source, never over docs (the
    ship_delay_percentiles shape on the corpus axis).

    Output: ``(source, n_docs, p25_chars, p50_chars, p90_chars)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    return len_quantiles_closed_form(len_cells(docs))


def len_cells(docs: DataFrame) -> DataFrame:
    """(source, len, c) — the MERGEABLE sufficient statistic (one
    count aggregate), shared by the batch op and
    ``streaming.windows.stream_len_quantiles``."""
    return (docs.groupBy("source", F.col("n_chars").alias("len"))
                .agg(F.count("*").alias("c")))


def len_quantiles_closed_form(cells: DataFrame) -> DataFrame:
    """Exact nearest-rank percentiles from the (source, len, c)
    cells — the ship_delay_closed_form shape on the corpus axis."""
    wcum = (W.partitionBy("source").orderBy("len")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    t = cells.withColumn("cum", F.sum("c").over(wcum))
    n = cells.groupBy("source").agg(F.sum("c").alias("n"))
    j = t.join(F.broadcast(n), "source")
    aggs = [F.max("n").alias("n_docs")]
    for p in LEN_PCTS:
        k = F.expr(f"({p} * n + 99) DIV 100")
        aggs.append(F.min(F.when(F.col("cum") >= k, F.col("len")))
                     .alias(f"p{p}_chars"))
    return (j.groupBy("source").agg(*aggs)
             .select("source", F.col("n_docs").cast("long"),
                     *[F.col(f"p{p}_chars") for p in LEN_PCTS]))


LEN_QUANTILES_ORACLE = f"""
WITH cells AS (
  SELECT source, n_chars AS len, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
),
t AS (
  SELECT source, len, c,
         SUM(c) OVER (PARTITION BY source ORDER BY len) AS cum
  FROM cells
),
n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1)
SELECT t.source, CAST(MAX(n.n) AS BIGINT) AS n_docs,
       {", ".join(f"MIN(CASE WHEN cum >= ({p} * n + 99) // 100 "
                  f"THEN len END) AS p{p}_chars" for p in LEN_PCTS)}
FROM t JOIN n ON t.source = n.source
GROUP BY t.source
"""


REGISTRATIONS.append(("len_quantiles_sources", len_quantiles_sources,
                      LEN_QUANTILES_ORACLE))


def char_class_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source — the cheapest corpus
    fingerprint there is (letters/digits/spaces/other shares): a
    source whose digit share spikes started emitting tables or
    minified junk; one whose 'other' share spikes changed encoding.
    Class counts via length-after-class-deletion (one codegen'd
    regexp per class, no explode, no tokenize); shares in integer
    basis points.

    Output: ``(source, n_docs, n_chars_total, n_letters, n_digits,
    n_spaces, n_other, letters_bp, digits_bp)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    def cls(pat: str) -> F.Column:
        return F.length(F.regexp_replace("text", pat, ""))
    per = docs.select(
        "source", F.length("text").alias("nc"),
        cls(r"[^A-Za-z]").alias("let"),
        cls(r"[^0-9]").alias("dig"),
        cls(r"[^ \t\n\r]").alias("sp"))
    agg = (per.groupBy("source")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("nc").cast("long").alias("n_chars_total"),
                F.sum("let").cast("long").alias("n_letters"),
                F.sum("dig").cast("long").alias("n_digits"),
                F.sum("sp").cast("long").alias("n_spaces")))
    return agg.select(
        "source", "n_docs", "n_chars_total", "n_letters", "n_digits",
        "n_spaces",
        (F.col("n_chars_total") - F.col("n_letters") - F.col("n_digits")
         - F.col("n_spaces")).alias("n_other"),
        # positivity guard: a source of only empty documents would hit
        # ÷0 — Spark's non-ANSI DIV yields NULL but DuckDB's // errors,
        # so the CASE (mirrored in the oracle) keeps the engines agreed
        F.expr("CASE WHEN n_chars_total > 0 THEN "
               "n_letters * 10000 DIV n_chars_total END")
        .alias("letters_bp"),
        F.expr("CASE WHEN n_chars_total > 0 THEN "
               "n_digits * 10000 DIV n_chars_total END")
        .alias("digits_bp"))


CHAR_CLASS_ORACLE = """
WITH per AS (
  SELECT source, LENGTH(text) AS nc,
         LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS let,
         LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS dig,
         LENGTH(regexp_replace(text, '[^ \t\n\r]', '', 'g')) AS sp
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(nc) AS BIGINT) AS n_chars_total,
       CAST(SUM(let) AS BIGINT) AS n_letters,
       CAST(SUM(dig) AS BIGINT) AS n_digits,
       CAST(SUM(sp) AS BIGINT) AS n_spaces,
       CAST(SUM(nc) - SUM(let) - SUM(dig) - SUM(sp) AS BIGINT) AS n_other,
       CASE WHEN CAST(SUM(nc) AS BIGINT) > 0 THEN
         CAST(SUM(let) AS BIGINT) * 10000 // CAST(SUM(nc) AS BIGINT)
       END AS letters_bp,
       CASE WHEN CAST(SUM(nc) AS BIGINT) > 0 THEN
         CAST(SUM(dig) AS BIGINT) * 10000 // CAST(SUM(nc) AS BIGINT)
       END AS digits_bp
FROM per GROUP BY source
"""


REGISTRATIONS.append(("char_class_profile_docs", char_class_profile_docs,
                      CHAR_CLASS_ORACLE))


GT_GRID = 10**6   # ppm grid for the smoothed-count ratios


def good_turing_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing frequency-of-frequencies table over the corpus
    vocabulary (Good 1953; the smoothing base of Katz backoff and the
    classic unseen-mass estimator LLM tokenizer/vocab audits use):
    for every observed frequency r, N_r = how many token TYPES occur
    exactly r times, the smoothed count r* = (r+1)·N_{r+1}/N_r, and
    the leave-one-out missing-mass estimate p₀ = N₁/N (the
    probability the NEXT token is a never-seen type — the number that
    says whether a corpus is big enough for its vocabulary).

    Exactness: N_r, N_{r+1}, N are exact counts; the ratios are
    emitted on the ppm integer grid via DIV, so the row hash is
    exact on both engines (the engine-wide no-float-ratio rule).
    r* is NULL where N_{r+1} = 0 (the standard place a production
    smoother switches to the unsmoothed count / a fitted tail).

    Scale: token counts are one map-side-combinable groupBy; the
    count-of-counts table is ≤ max-frequency rows (dims-sized), and
    the N_{r+1} lookup is a self-join on that dims table — never
    token-grain. Streaming note: the cells (tok, cnt) are NOT
    dims-sized, which is why this op has no kappa twin (the honest
    boundary the sketch family also sits behind).

    Output: ``(r, n_types, n_next, rstar_ppm, p0_ppm)``.
    """
    toks = _tok_table(spark, sf_dir)
    cnts = toks.groupBy("tok").agg(F.count("*").alias("r"))
    nr = (cnts.groupBy("r")
          .agg(F.count("*").cast("long").alias("n_types"))
          .localCheckpoint(eager=False))   # read by 3 plan branches
    tot = nr.agg(
        F.sum(F.col("r") * F.col("n_types")).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, F.col("n_types")).otherwise(0))
         .cast("long").alias("n1"))
    nxt = nr.select((F.col("r") - 1).alias("r"),
                    F.col("n_types").alias("n_next"))
    return (nr.join(nxt, "r", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                F.col("r").cast("long").alias("r"),
                "n_types",
                F.coalesce("n_next", F.lit(0)).cast("long").alias("n_next"),
                F.expr(f"CASE WHEN coalesce(n_next, 0) > 0 THEN "
                       f"(r + 1) * coalesce(n_next, 0) * {GT_GRID} "
                       f"DIV n_types END").cast("long").alias("rstar_ppm"),
                F.expr(f"n1 * {GT_GRID} DIV n_tokens").cast("long")
                 .alias("p0_ppm")))


GOOD_TURING_ORACLE = f"""
WITH cnts AS (
  SELECT tok, COUNT(*) AS r
  FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok
),
nr AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_types
       FROM cnts GROUP BY r),
tot AS (
  SELECT CAST(SUM(r * n_types) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN r = 1 THEN n_types ELSE 0 END) AS BIGINT)
           AS n1
  FROM nr
)
SELECT CAST(nr.r AS BIGINT) AS r, nr.n_types,
       CAST(COALESCE(nx.n_types, 0) AS BIGINT) AS n_next,
       CASE WHEN COALESCE(nx.n_types, 0) > 0 THEN
         CAST((nr.r + 1) * COALESCE(nx.n_types, 0) * {GT_GRID}
              AS BIGINT) // nr.n_types
       END AS rstar_ppm,
       CAST(tot.n1 * {GT_GRID} AS BIGINT) // tot.n_tokens AS p0_ppm
FROM nr LEFT JOIN nr nx ON nx.r = nr.r + 1, tot
"""


REGISTRATIONS.append(("good_turing_counts_docs", good_turing_counts_docs,
                      GOOD_TURING_ORACLE))


ZIPF_TOP_R = 50          # ranks fitted per source
ZIPF_W_SCALE = 1_000_000  # harmonic weight w_r = SCALE DIV r


def zipf_fit_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank–frequency goodness-of-fit per source — the corpus
    forensics screen: natural text follows Zipf's law closely over
    its head ranks, while templated, machine-generated, or spammy
    sources deviate hard (too-flat from boilerplate rotation,
    too-steep from keyword stuffing). A chi-square of the observed
    top-``ZIPF_TOP_R`` token counts against the Zipf expectation
    (share ∝ 1/r over the fitted head) gives each source one
    comparable deviation score — the readout that flags which
    source's text distribution stopped looking like language.

    Exactness: Zipf weights are the scaled integers
    w_r = SCALE DIV r (both engines floor identically; the fit is
    against this SHARED discretized law, so no float harmonic
    number), and with T = Σ top counts, W = Σ w_r the cleared
    chi-square is Σ_r 1000·(c_r·W − T·w_r)² DIV (T·w_r·W) —
    DECIMAL(38)/HUGEINT squares, one floor-DIV per rank, reported in
    milli units. Rank ties break on token text (deterministic both
    engines). int128 ceiling: (c_r·W)² — fits while head counts
    c_r ≲ 10¹⁰ (≈10¹² tokens/source), documented.

    Scale shape: one (source, token) count with map-side combine,
    per-source top-R via a window over the per-source VOCAB
    aggregate (the ``stratum_exemplar_docs`` shape — never a
    corpus-grain window), then a 50-cell-per-source reduction.

    Output: ``(source, top_r, t_mass, chi2_milli)``.
    """
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select("source",
                       F.explode(F.split("text", WS_RE)).alias("tok"))
               .filter(F.col("tok") != ""))
    cnt = (tok.groupBy("source", "tok")
              .agg(F.count("*").cast("long").alias("c")))
    # EXACT two-phase top-R (the build_vocab lesson — never a window
    # over a source's full vocab): per-(source, hash-bucket) top-R
    # first (each window partition sees vocab/B rows), then the final
    # top-R over ≤ B·R candidates per source. Any true top-R token is
    # top-R within its own bucket, so phase 1 loses nothing.
    cand = (cnt.withColumn("b", F.expr("pmod(xxhash64(tok), 16)"))
               .withColumn("r1", F.row_number().over(
                   W.partitionBy("source", "b")
                    .orderBy(F.desc("c"), "tok")))
               .filter(F.col("r1") <= ZIPF_TOP_R)
               .drop("b", "r1"))
    w = W.partitionBy("source").orderBy(F.desc("c"), "tok")
    top = (cand.withColumn("r", F.row_number().over(w))
               .filter(F.col("r") <= ZIPF_TOP_R)
               .withColumn("w_r", F.expr(f"{ZIPF_W_SCALE} DIV r")))
    tot = (top.groupBy("source")
              .agg(F.sum("c").cast("decimal(38,0)").alias("t_mass"),
                   F.sum("w_r").cast("decimal(38,0)").alias("w_sum"),
                   F.count("*").cast("long").alias("top_r")))
    cells = (top.join(F.broadcast(tot), "source")
             .select("source", "top_r", "t_mass",
                     F.expr("CAST(1000 * (c * w_sum - t_mass * w_r) "
                            "* (c * w_sum - t_mass * w_r) "
                            "DIV (t_mass * w_r * w_sum) "
                            "AS DECIMAL(38,0))").alias("cell")))
    return (cells.groupBy("source")
            .agg(F.max("top_r").alias("top_r"),
                 F.max("t_mass").cast("long").alias("t_mass"),
                 F.sum("cell").cast("long").alias("chi2_milli")))


ZIPF_FIT_ORACLE = f"""
WITH tok AS (
  SELECT source, t.tok AS tok
  FROM (SELECT source,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents) t
),
cnt AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY source, tok
),
top AS (
  SELECT source, c, r, {ZIPF_W_SCALE} // r AS w_r FROM (
    SELECT source, c,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY c DESC, tok) AS r
    FROM cnt
  ) WHERE r <= {ZIPF_TOP_R}
),
tot AS (
  SELECT source, CAST(SUM(c) AS HUGEINT) AS t_mass,
         CAST(SUM(w_r) AS HUGEINT) AS w_sum,
         CAST(COUNT(*) AS BIGINT) AS top_r
  FROM top GROUP BY source
),
cells AS (
  SELECT top.source, top_r, t_mass,
         CAST(1000 * (c * w_sum - t_mass * w_r)
                   * (c * w_sum - t_mass * w_r)
              // (t_mass * w_r * w_sum) AS HUGEINT) AS cell
  FROM top JOIN tot ON top.source = tot.source
)
SELECT source, MAX(top_r) AS top_r,
       CAST(MAX(t_mass) AS BIGINT) AS t_mass,
       CAST(SUM(cell) AS BIGINT) AS chi2_milli
FROM cells GROUP BY source
"""


REGISTRATIONS.append(("zipf_fit_sources", zipf_fit_sources,
                      ZIPF_FIT_ORACLE))


# --- lang-id agreement audit: Cohen's kappa (round 10) ----------------------


def lang_id_kappa_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stopword-vote language classifier
    (``lang_id_docs``) and the corpus's labeled ``lang`` column — the
    chance-corrected agreement readout (Cohen 1960) a curation
    pipeline publishes when it swaps in a new classifier: raw
    accuracy flatters any classifier on a skewed language mix; kappa
    subtracts the agreement the marginals alone would produce.

    Exactness: the confusion matrix is integer counts; with
    n = Σ cells, a = Σ diagonal, and pe_num = Σ_k row_k·col_k,
    kappa = (n·a − pe_num)/(n² − pe_num) — reported as signed ppm by
    truncating division, all in DECIMAL(38)/HUGEINT (n² passes int64
    at ~3·10⁹ docs). NULL when n² = pe_num (both sides constant —
    kappa undefined). po_ppm = a·10⁶ DIV n rides along.

    Scale: nests the lang-id scan; the confusion matrix is
    |langs|² ≤ 25 cells, marginal joins are dims-sized. One corpus
    scan, one doc-grain join.

    Output: ``(n_docs, n_agree, po_ppm, kappa_ppm)``.
    """
    pred = lang_id_docs(spark, sf_dir).select("doc_id", "pred_lang")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cells = (docs.join(pred, "doc_id")
             .groupBy("lang", "pred_lang")
             .agg(F.count("*").cast("long").alias("c")))
    r = cells.groupBy("lang").agg(F.sum("c").alias("rk"))
    col = cells.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("c").alias("ck"))
    pe = (r.join(col, "lang")
          .agg(F.sum(F.expr("CAST(rk AS DECIMAL(38,0)) * ck"))
               .alias("pe_num")))
    a = cells.agg(
        F.sum("c").cast("decimal(38,0)").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("c"))
              .otherwise(F.lit(0))).cast("decimal(38,0)").alias("agree"))
    return (a.crossJoin(pe)
            .select(F.col("n").cast("long").alias("n_docs"),
                    F.col("agree").cast("long").alias("n_agree"),
                    F.expr("CAST(agree * 1000000 DIV n AS BIGINT)")
                     .alias("po_ppm"),
                    F.expr("CAST(CASE WHEN n * n <> pe_num THEN "
                           "(n * agree - pe_num) * 1000000 "
                           "DIV (n * n - pe_num) END AS BIGINT)")
                     .alias("kappa_ppm")))


LANG_ID_KAPPA_ORACLE = f"""
WITH pred AS ({LANG_ID_ORACLE}),
cells AS (
  SELECT d.lang, p.pred_lang, CAST(COUNT(*) AS HUGEINT) AS c
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
  GROUP BY 1, 2
),
r AS (SELECT lang, SUM(c) AS rk FROM cells GROUP BY 1),
col AS (SELECT pred_lang AS lang, SUM(c) AS ck FROM cells GROUP BY 1),
pe AS (SELECT CAST(SUM(rk * ck) AS HUGEINT) AS pe_num
       FROM r JOIN col USING (lang)),
a AS (
  SELECT CAST(SUM(c) AS HUGEINT) AS n,
         CAST(SUM(CASE WHEN lang = pred_lang THEN c ELSE 0 END)
              AS HUGEINT) AS agree
  FROM cells
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(agree AS BIGINT) AS n_agree,
       CAST(agree * 1000000 // n AS BIGINT) AS po_ppm,
       CAST(CASE WHEN n * n <> pe_num THEN
            (n * agree - pe_num) * 1000000 // (n * n - pe_num)
       END AS BIGINT) AS kappa_ppm
FROM a, pe
"""


REGISTRATIONS.append(("lang_id_kappa_docs", lang_id_kappa_docs,
                      LANG_ID_KAPPA_ORACLE))


# --- token burstiness (round 11) -------------------------------------------


BURST_MIN_TF = 20   # score only tokens with corpus frequency >= this


def token_burstiness_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness via the variance-to-mean ratio of per-document
    counts (Church & Gale 1995's deviation-from-Poisson diagnostic):
    VMR = 1 for a Poisson-scattered token, ≫1 for a BURSTY one that
    piles into few documents (content words, boilerplate blocks —
    the words dedup and quality filters care about), ≈1−mean for
    near-uniform function words. The per-token companion of the
    corpus-level ``repetition_stats``.

    Exactness: over the FULL denominator of N docs (zero counts
    included — absorbed algebraically): population variance/mean
    clears to vmr_ppm = (N·Σc² − (Σc)²)·10⁶ DIV (N·Σc), pure
    wide-integer with one truncating division; df and tf are exact
    counts. Tokens below ``BURST_MIN_TF`` corpus occurrences are cut
    (mirrored in the oracle) — VMR of a 2-occurrence token is noise
    and the cut bounds the output to the heavy vocabulary.

    Scale: one token explode + (token, doc) aggregate with map-side
    combine, one token-grain aggregate. Never a driver loop.

    Output: ``(tok, df, tf, vmr_ppm)``.
    """
    tok = _tok_table(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n_docs_row = docs.agg(F.count("*").cast("long").alias("__n"))
    per = (tok.groupBy("doc_id", "tok")
           .agg(F.count("*").cast("long").alias("c")))
    agg = (per.groupBy("tok")
           .agg(F.count("*").cast("long").alias("df"),
                F.sum("c").cast("long").alias("tf"),
                # cast BEFORE the sum: a LongType Σc² overflows int64
                # at scale while the oracle accumulates in HUGEINT
                F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c"))
                 .cast("decimal(38,0)").alias("q")))
    return (agg.where(F.col("tf") >= BURST_MIN_TF)
            .crossJoin(F.broadcast(n_docs_row))
            .select("tok", "df", "tf",
                    F.expr("CAST((CAST(__n AS DECIMAL(38,0)) * q"
                           " - CAST(tf AS DECIMAL(38,0)) * tf) * 1000000"
                           " DIV (CAST(__n AS DECIMAL(38,0)) * tf)"
                           " AS BIGINT)").alias("vmr_ppm")))


TOKEN_BURSTINESS_ORACLE = f"""
WITH tk AS (SELECT doc_id,
                   UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
            FROM documents),
per AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM tk WHERE tok <> '' GROUP BY doc_id, tok
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
agg AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS tf,
         CAST(SUM(c * c) AS HUGEINT) AS q
  FROM per GROUP BY tok
)
SELECT tok, df, tf,
       CAST((CAST(nn AS HUGEINT) * q - CAST(tf AS HUGEINT) * tf)
            * 1000000 // (CAST(nn AS HUGEINT) * tf) AS BIGINT)
         AS vmr_ppm
FROM agg, n
WHERE tf >= {BURST_MIN_TF}
"""


REGISTRATIONS.append(("token_burstiness_docs", token_burstiness_docs,
                      TOKEN_BURSTINESS_ORACLE))


# --- encoding-quality profile (round 11) ------------------------------------


def encoding_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-health profile — the ingest screen a
    web-scale text pipeline runs before any language work: counts of
    U+FFFD replacement characters (decoder already gave up), C0
    control characters other than tab/newline/CR (binary bleed,
    terminal junk), and non-ASCII characters (the legitimate-unicode
    baseline the other two are judged against), with per-million-char
    rates. A source whose fffd_ppm climbs is shipping mojibake —
    cut it before it poisons dedup shingles and lang-id n-grams
    (the ``char_class_profile_docs`` sibling, aimed at decode health
    rather than script mix).

    Exactness: counts via length-difference after regexp_replace with
    explicit codepoint classes (identical regex semantics both
    engines); rates are integer ppm divisions. No float.

    Scale: one linear scan, per-source map-side-combinable aggregate.

    Output: ``(source, n_docs, n_chars, fffd, ctrl, non_ascii,
    fffd_ppm, ctrl_ppm, non_ascii_ppm)``.
    """
    docs = load_table(spark, sf_dir, "documents")

    def n_match(pat: str) -> F.Column:
        return (F.length("text")
                - F.length(F.regexp_replace("text", pat, ""))).cast("long")

    per = docs.select(
        "source", F.length("text").cast("long").alias("nc"),
        n_match("�").alias("f"),
        n_match("[\x00-\x08\x0B\x0C\x0E-\x1F]").alias("c"),
        n_match("[^\x00-\x7F]").alias("a"))
    agg = (per.groupBy("source")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("nc").cast("long").alias("n_chars"),
                F.sum("f").cast("long").alias("fffd"),
                F.sum("c").cast("long").alias("ctrl"),
                F.sum("a").cast("long").alias("non_ascii")))
    ppm = ("CAST(CASE WHEN n_chars > 0 THEN"
           " CAST({c} AS DECIMAL(38,0)) * 1000000 DIV n_chars"
           " END AS BIGINT)")
    return agg.select(
        "source", "n_docs", "n_chars", "fffd", "ctrl", "non_ascii",
        F.expr(ppm.format(c="fffd")).alias("fffd_ppm"),
        F.expr(ppm.format(c="ctrl")).alias("ctrl_ppm"),
        F.expr(ppm.format(c="non_ascii")).alias("non_ascii_ppm"))


ENCODING_QUALITY_ORACLE = """
WITH per AS (
  SELECT source, CAST(LENGTH(text) AS BIGINT) AS nc,
         CAST(LENGTH(text)
              - LENGTH(regexp_replace(text, '\\x{FFFD}', '', 'g'))
              AS BIGINT) AS f,
         CAST(LENGTH(text)
              - LENGTH(regexp_replace(text,
                  '[\\x{0}-\\x{8}\\x{B}\\x{C}\\x{E}-\\x{1F}]', '', 'g'))
              AS BIGINT) AS c,
         CAST(LENGTH(text)
              - LENGTH(regexp_replace(text, '[^\\x{0}-\\x{7F}]', '', 'g'))
              AS BIGINT) AS a
  FROM documents
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(nc) AS BIGINT) AS n_chars,
         CAST(SUM(f) AS BIGINT) AS fffd,
         CAST(SUM(c) AS BIGINT) AS ctrl,
         CAST(SUM(a) AS BIGINT) AS non_ascii
  FROM per GROUP BY source
)
SELECT source, n_docs, n_chars, fffd, ctrl, non_ascii,
       CAST(CASE WHEN n_chars > 0 THEN
         CAST(fffd AS HUGEINT) * 1000000 // n_chars END AS BIGINT)
         AS fffd_ppm,
       CAST(CASE WHEN n_chars > 0 THEN
         CAST(ctrl AS HUGEINT) * 1000000 // n_chars END AS BIGINT)
         AS ctrl_ppm,
       CAST(CASE WHEN n_chars > 0 THEN
         CAST(non_ascii AS HUGEINT) * 1000000 // n_chars END AS BIGINT)
         AS non_ascii_ppm
FROM agg
"""


REGISTRATIONS.append(("encoding_quality_docs", encoding_quality_docs,
                      ENCODING_QUALITY_ORACLE))


# --- higher-order-function surface (round 11) -------------------------------


HOF_MIN_TOKEN_LEN = 5   # "long token" threshold for the filter leg


def hof_funcs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM higher-order-function surface exercised end-to-end on
    real documents — transform / filter / aggregate (fold) / exists /
    array_sort / array_max in ONE zero-shuffle projection, each
    mirrored by its DuckDB list_* twin. This is the engine's
    "stay-JVM-side" claim as a driver-checkable query: every other
    operator COMPOSES these primitives; this one pins their
    semantics (empty-token filtering, left-fold order, lexicographic
    sort) directly.

    All outputs are integers/booleans/strings — the fold sums LONGs,
    so cross-engine float order is moot.

    Output: ``(doc_id, n_tokens, n_long, len_sum, max_len,
    first_token_sorted, has_the)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    lens = F.transform(toks, lambda x: F.length(x).cast("long"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x:
                        F.length(x) >= HOF_MIN_TOKEN_LEN))
         .cast("long").alias("n_long"),
        F.aggregate(lens, F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("len_sum"),
        F.array_max(lens).alias("max_len"),
        F.element_at(F.array_sort(toks), 1).alias("first_token_sorted"),
        F.exists(toks, lambda x: x == "the").alias("has_the"))


HOF_FUNCS_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(length(toks) AS BIGINT) AS n_tokens,
       CAST(length(list_filter(toks,
                               x -> length(x) >= {HOF_MIN_TOKEN_LEN}))
            AS BIGINT) AS n_long,
       CAST(list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(toks, x -> CAST(length(x) AS BIGINT))),
              (a, b) -> a + b) AS BIGINT) AS len_sum,
       CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT)
         AS max_len,
       list_sort(toks)[1] AS first_token_sorted,
       length(list_filter(toks, x -> x = 'the')) > 0 AS has_the
FROM t
"""


REGISTRATIONS.append(("hof_funcs_docs", hof_funcs_docs, HOF_FUNCS_ORACLE))
