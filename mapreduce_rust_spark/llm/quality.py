"""Training-data curation operators beyond dedup: repetition
statistics, Gopher-style rule filtering, benchmark-contamination
checks, deterministic stratified sampling, and sequence packing.

These generalize the reference's single text transform (wc.rs
tokenizer) to the filter/mix/pack stages of an LLM data pipeline.
Everything is built from ``pyspark.sql.functions`` with exact
integer/double arithmetic, so every operator has a bit-stable DuckDB
oracle. All are linear scans or bounded joins — 100 TB-safe shapes:

- repetition / rules: per-row expressions + one doc-keyed agg.
- contamination: corpus n-grams semi-joined against a BROADCAST
  benchmark n-gram set (the eval suite is always tiny next to the
  corpus; the corpus never shuffles).
- sampling: stateless content-hash thresholding — no shuffle at all
  until the reporting agg.
- packing: running token total per language stream (at 100 TB,
  sub-shard the stream key like the sessionization day-bucket and
  merge pack boundaries the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.text import (
    WS_RE, whitespace_token_count, whitespace_tokens)
from mapreduce_rust_spark.tables import load_table

CONTAM_W = 5        # contamination n-gram width
BENCH_MAX_ID = 20   # doc_id < 20 stands in for the benchmark/eval set
PACK_LEN = 256      # token budget per packed sequence
# per-language keep rates for the stratified sample (percent)
SAMPLE_PCT = {"en": 50, "de": 100, "fr": 25, "es": 75}
SAMPLE_DEFAULT_PCT = 100


def md5_bucket(col, mod: int) -> F.Column:
    """The file's hashing-trick convention, single-sourced: first 12
    md5 hex chars as an integer, folded mod ``mod``. Every DuckDB
    oracle mirrors it as
    ``CAST('0x' || substr(md5(x), 1, 12) AS BIGINT) % mod`` — the
    prefix width and modulus must change HERE and in every oracle
    together, never in one call site."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long") % mod


def quality_score_exprs() -> tuple[F.Column, F.Column]:
    """(n_toks, w_sum) expressions of the hashed-feature linear
    quality score — shared by quality_classifier_score (keep/drop)
    and curriculum_phase_docs (phase ordering) so the two can never
    silently rank by different scores."""
    toks = whitespace_tokens("text")
    w_sum = F.aggregate(F.transform(toks, lambda t: md5_bucket(t, 2001) - 1000),
                        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.size(toks).cast("long"), w_sum


def quality_score_from(n_toks_col, w_sum_col) -> F.Column:
    """Exact int÷int double score from the selected columns (0.0 for
    empty docs)."""
    return F.when(n_toks_col == 0, F.lit(0.0)) \
            .otherwise(w_sum_col.cast("double") / n_toks_col)


def _grams(toks_col, w: int, distinct: bool) -> F.Column:
    """Word n-grams of width ``w`` over a token array (with or
    without multiplicity).

    LET-BINDING TRICK: an outer expression referenced inside an HOF
    lambda is re-evaluated once PER ELEMENT (the regex-split-in-HOF
    trap dedup.py documents, here biting via ``slice(toks, i, w)``).
    Wrapping the token array in a single-element array and binding it
    as the OUTER transform's lambda variable makes every inner
    reference a cheap bound-variable read — the whole expression
    evaluates once per row. Measured on the ×20 corpus: 57 s (naive
    inline) → 4.6 s (this form); also beats per-width zip_with
    chains and is width-generic."""
    def per_row(a):
        n = F.size(a)
        return F.when(
            n >= w,
            F.transform(F.sequence(F.lit(1), n - (w - 1)),
                        lambda i: F.array_join(F.slice(a, i, w), " ")),
        ).otherwise(F.expr("CAST(array() AS array<string>)"))

    grams = F.element_at(F.transform(F.array(toks_col), per_row), 1)
    return F.array_distinct(grams) if distinct else grams


def repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (the Gopher repetition signals,
    count-exact form): per doc, the 2-gram total/distinct counts, the
    share of occurrences held by the most frequent 2-gram, and the
    duplicate-2-gram fraction. High values mark boilerplate/spam.

    SHUFFLE-FREE by design: repetition is a per-document statistic,
    so exploding grams into a corpus-wide two-level groupBy (the
    obvious formulation) shuffles 100× the corpus for nothing —
    measured 58 s at the ×20 corpus vs ~4 s for this form. Instead
    each row sorts its own gram array and a single JVM HOF pass
    computes distinct count and the longest equal-run (= max
    multiplicity) in O(n) after the O(n log n) in-row sort."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", whitespace_tokens("text").alias("toks")))
    grams = F.array_sort(_grams(F.col("toks"), 2, False))
    n = F.size(grams)
    # run-length scan over the sorted array: state = (prev, run,
    # best_run, n_distinct)
    zero = F.struct(F.lit(" ##init##").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"),
                    F.lit(0).alias("nd"))
    scan = F.aggregate(
        grams, zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
             .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)))
             .alias("best"),
            (acc["nd"] + F.when(x == acc["prev"], 0).otherwise(1))
            .alias("nd")))
    return (docs.select("doc_id", n.alias("n_raw"), scan.alias("s"))
                .filter(F.col("n_raw") >= 1)
                .select("doc_id",
                        F.col("n_raw").cast("long").alias("n_2grams"),
                        F.col("s.nd").cast("long").alias("n_distinct_2grams"),
                        (F.col("s.best").cast("double") / F.col("n_raw"))
                        .alias("top_2gram_frac"),
                        ((F.col("n_raw") - F.col("s.nd")).cast("double")
                         / F.col("n_raw")).alias("dup_2gram_frac")))


REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram, COUNT(*) AS c
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
  GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_2grams,
       COUNT(*) AS n_distinct_2grams,
       CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_2gram_frac,
       CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup_2gram_frac
FROM g GROUP BY doc_id
"""


def gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter: mean word length, symbol-to-char
    ratio, token-count band — each rule exact, plus the combined
    keep/drop verdict. (Thresholds adapted to the fixture's word-soup
    corpus; the rule SHAPES are the published ones.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    n_tokens = F.size(toks).cast("long")
    sum_len = F.aggregate(toks, F.lit(0).cast("long"),
                          lambda acc, t: acc + F.length(t))
    mean_word_len = sum_len.cast("double") / n_tokens
    n_chars = F.length("text").cast("double")
    n_symbol = (F.length("text")
                - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s]", ""))) \
        .cast("double")
    symbol_ratio = F.when(n_chars > 0, n_symbol / n_chars).otherwise(0.0)
    keep = ((n_tokens >= 20) & (n_tokens <= 100000)
            & (mean_word_len >= 2.0) & (mean_word_len <= 12.0)
            & (symbol_ratio <= 0.1))
    return docs.select("doc_id", n_tokens.alias("n_tokens"),
                       mean_word_len.alias("mean_word_len"),
                       symbol_ratio.alias("symbol_ratio"),
                       keep.alias("keep"))


GOPHER_RULES_ORACLE = """
WITH m AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t,
         CAST(LENGTH(text) AS DOUBLE) AS n_chars,
         CAST(LENGTH(text) -
              LENGTH(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
              AS DOUBLE) AS n_symbol
  FROM documents
),
s AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(t, x -> LENGTH(x))) AS DOUBLE)
           / len(t) AS mean_word_len,
         CASE WHEN n_chars > 0 THEN n_symbol / n_chars ELSE 0.0 END
           AS symbol_ratio
  FROM m
)
SELECT doc_id, n_tokens, mean_word_len, symbol_ratio,
       (n_tokens >= 20 AND n_tokens <= 100000
        AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
        AND symbol_ratio <= 0.1) AS keep
FROM s
"""


def contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: for every corpus doc, how many of its
    distinct ``CONTAM_W``-grams also occur in the benchmark set
    (stand-in: doc_id < BENCH_MAX_ID). The benchmark n-gram table is
    tiny and BROADCAST; the corpus side is one scan + one explode —
    never shuffled by the join. Docs with zero overlap are kept
    (left join) so the output is a full per-doc report."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", whitespace_tokens("text").alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(_grams(F.col("toks"), CONTAM_W, True)).alias("g"))
    bench = (grams.filter(F.col("doc_id") < BENCH_MAX_ID)
                  .select("g").distinct())
    corpus = grams.filter(F.col("doc_id") >= BENCH_MAX_ID)
    hits = (corpus.join(F.broadcast(bench), "g")
                  .groupBy("doc_id").agg(F.count("*").alias("n_overlap")))
    return (docs.filter(F.col("doc_id") >= BENCH_MAX_ID)
                .select("doc_id")
                .join(hits, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
                        (F.coalesce("n_overlap", F.lit(0)) > 0)
                        .alias("contaminated")))


CONTAMINATION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[i:i+{CONTAM_W - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - {CONTAM_W - 2})) AS u(i)
  WHERE len(t) >= {CONTAM_W}
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < {BENCH_MAX_ID}),
hits AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM grams JOIN bench USING (g)
  WHERE doc_id >= {BENCH_MAX_ID}
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(h.n_overlap, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id >= {BENCH_MAX_ID}
"""


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-language) sampling — the domain-
    mixing step of corpus assembly. Keep decision is a pure function
    of content (md5 bucket vs the language's rate), so the sample is
    reproducible, join-free, and shuffle-free until the reporting
    aggregate. Reports kept/total per language."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_bucket("text", 100)
    rate = F.lit(SAMPLE_DEFAULT_PCT)
    for lang, pct in SAMPLE_PCT.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    kept = (bucket < rate).cast("int")
    return (docs.select("lang", kept.alias("kept"))
                .groupBy("lang")
                .agg(F.sum("kept").cast("long").alias("n_kept"),
                     F.count("*").alias("n_total")))


_SAMPLE_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in SAMPLE_PCT.items())

STRATIFIED_SAMPLE_ORACLE = f"""
SELECT lang,
       CAST(SUM(CASE WHEN CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)
                          % 100 < (CASE {_SAMPLE_CASE}
                                   ELSE {SAMPLE_DEFAULT_PCT} END)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COUNT(*) AS n_total
FROM documents GROUP BY lang
"""


def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents (in doc_id order,
    per language stream) into training sequences of ``PACK_LEN``
    tokens; a doc belongs to the pack where its first token lands
    (docs may straddle pack boundaries — the packer's overflow
    convention, stated, deterministic). One running-total window per
    language; at 100 TB sub-shard the stream (day/file) and merge
    boundary packs exactly like ``sessionize_events_scalable``.
    Output: per (lang, pack_id) doc and token counts."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(whitespace_tokens("text")).cast("long")
    d = docs.select("lang", "doc_id", n_tokens.alias("n_tokens"))
    w = W.partitionBy("lang").orderBy("doc_id")
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens"))
    packed = d.withColumn("pack_id",
                          F.floor(start / F.lit(PACK_LEN)).cast("long"))
    return (packed.groupBy("lang", "pack_id")
                  .agg(F.count("*").alias("n_docs"),
                       F.sum("n_tokens").alias("n_tokens")))


PACK_SEQUENCES_ORACLE = f"""
WITH d AS (
  SELECT lang, doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
p AS (
  SELECT lang, n_tokens,
         CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                     - n_tokens) / {PACK_LEN}.0) AS BIGINT) AS pack_id
  FROM d
)
SELECT lang, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM p GROUP BY lang, pack_id
"""


# PII patterns — deliberately in the RE2 ∩ Java-regex portable subset
# (no lookarounds, no backrefs) so Spark and DuckDB agree byte-for-byte.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
    ("ssn_like", r"[0-9]{3}-[0-9]{2}-[0-9]{4}"),
]


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII spans in ``text_col`` → ``scrubbed`` plus a per-kind
    hit count. Order matters (ssn_like before phone would double-mask;
    patterns apply in list order on the progressively scrubbed text).
    Pure regexp_replace — linear, codegen'd, 100 TB-trivial."""
    scrubbed = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS:
        remaining = F.length(scrubbed) - F.length(
            F.regexp_replace(scrubbed, pat, ""))
        counts.append(
            F.when(remaining > 0, F.lit(1)).otherwise(F.lit(0))
             .alias(f"has_{kind}"))
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return docs.select("doc_id", scrubbed.alias("scrubbed"), *counts)


def scrub_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of ``scrub_pii`` over the documents fixture (the
    fixture plants no PII, so redaction is the identity there — the
    planted-fixture test in ``tests/test_quality_ops.py`` proves the
    masking; this entry proves cross-engine regex parity on real
    text)."""
    return scrub_pii(load_table(spark, sf_dir, "documents"))


def _pii_sql_chain() -> tuple[str, list[str]]:
    expr = "text"
    flags = []
    for kind, pat in PII_PATTERNS:
        flags.append(
            f"CASE WHEN LENGTH({expr}) - "
            f"LENGTH(regexp_replace({expr}, '{pat}', '', 'g')) > 0 "
            f"THEN 1 ELSE 0 END AS has_{kind}")
        expr = f"regexp_replace({expr}, '{pat}', '<{kind.upper()}>', 'g')"
    return expr, flags


_PII_EXPR, _PII_FLAGS = _pii_sql_chain()

SCRUB_PII_ORACLE = f"""
SELECT doc_id, {_PII_EXPR} AS scrubbed, {", ".join(_PII_FLAGS)}
FROM documents
"""


def cross_corpus_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicate detection: pairs of docs from DIFFERENT
    sources sharing a normalized fingerprint — the dedup-against-
    prior-crawls join. Shuffle is keyed on the 128-bit fingerprint
    (uniform, skew-free); the self-join only meets rows within a
    fingerprint bucket, so cost tracks true duplicates, not n²."""
    from mapreduce_rust_spark.functions.text import fingerprint
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", "source",
                     fingerprint(F.col("text")).alias("fp"))
    a, b = fp.alias("a"), fp.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (F.col("a.source") != F.col("b.source")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.source").alias("source_a"),
                     F.col("b.source").alias("source_b")))


CROSS_CORPUS_ORACLE = """
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                                 '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.source AS source_a, b.source AS source_b
FROM fp a JOIN fp b
  ON a.fp = b.fp AND a.doc_id < b.doc_id AND a.source <> b.source
"""


def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprisal per document — mean
    -log2 p(token) under the corpus's own add-one-smoothed unigram
    distribution. The model-free stand-in for perplexity filtering
    (a real pipeline scores against a trained LM; the plumbing —
    token join against a frequency table, per-doc aggregation — is
    identical, and this self-scored form already separates natural
    text from gibberish/boilerplate).

    Scale shape: one aggregation builds the unigram table (at 100 TB
    ~10⁸ rows — a shuffle join against the token stream, hot tokens
    handled by AQE skew splitting); the (N, V) normalizer is a 1-row
    broadcast (the tf_df pattern — never a driver .count()). Each
    token's surprisal quantizes to a 1e-9 integer grid before the
    per-doc sum, so results are bit-stable under any partitioning
    even though log2 itself is a libm call — which is also why this
    operator registers NO SQL oracle (cross-engine libm low bits
    differ; the driver records rows-only and the distribution is
    pinned against a pure-Python reference in tests)."""
    from mapreduce_rust_spark.llm.textanalysis import _tok_table
    tok = _tok_table(spark, sf_dir)
    counts = tok.groupBy("tok").agg(F.count("*").alias("c"))
    norm = counts.agg(F.sum("c").alias("n_total"),
                      F.count("*").alias("vocab"))
    p = (F.col("c") + 1) / (F.col("n_total") + F.col("vocab"))
    scored = (tok.join(counts, "tok")
                 .crossJoin(F.broadcast(norm))
                 .withColumn("q", F.bround(-F.log2(p) * F.lit(1e9), 0)
                                   .cast("long")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 (F.sum("q").cast("double") / F.count("*") / F.lit(1e9))
                 .alias("mean_neg_log2p")))


PPS_TARGET_CHARS = 2000  # docs >= this length are always kept
PPS_GRID = 1_000_000


def pps_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS (probability-proportional-to-size) Bernoulli sampling:
    each document kept with p = min(1, n_chars / PPS_TARGET_CHARS) —
    the length-weighted corpus thinning that keeps token mass while
    shedding short-doc count (the dual of a uniform sample, which
    over-represents short docs in document count but loses long-tail
    token coverage). The keep decision is a pure integer function of
    content (md5 bucket on a 10⁶ grid vs n_chars·grid/target — no
    floats anywhere), so the sample is reproducible across runs,
    engines, and partitionings, and the whole operator is
    shuffle-free until the reporting aggregate. Reports per-language
    kept/total doc counts and exact kept/total char sums, making the
    length bias itself hash-verifiable."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_bucket("text", PPS_GRID)
    # integer division on BOTH engines (`DIV` / `//`): a double divide
    # + cast would diverge (DuckDB's double->int cast rounds, Spark's
    # truncates)
    thresh = F.least(F.lit(PPS_GRID).cast("long"),
                     F.expr(f"n_chars * {PPS_GRID} DIV {PPS_TARGET_CHARS}"))
    kept = (bucket < thresh).cast("long")
    return (docs.select("lang", kept.alias("kept"), "n_chars")
                .groupBy("lang")
                .agg(F.sum("kept").alias("n_kept"),
                     F.count("*").alias("n_total"),
                     F.sum(F.col("kept") * F.col("n_chars"))
                      .alias("kept_chars"),
                     F.sum("n_chars").alias("total_chars")))


PPS_SAMPLE_ORACLE = f"""
SELECT lang,
       CAST(SUM(CASE WHEN CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)
                          % {PPS_GRID}
                     < LEAST({PPS_GRID},
                             n_chars * {PPS_GRID} // {PPS_TARGET_CHARS})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)
                          % {PPS_GRID}
                     < LEAST({PPS_GRID},
                             n_chars * {PPS_GRID} // {PPS_TARGET_CHARS})
                     THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


# Target corpus mixture (ppm of output docs per language) for
# domain_mix_sample — what a pretraining recipe's mixture table holds.
TARGET_MIX_PPM = {"en": 350000, "de": 150000, "fr": 150000,
                  "es": 150000, "zh": 200000}
MIX_GRID = 1_000_000

# Per-language repetition factors ("epochs") for domain_upsample_docs.
UPSAMPLE_EPOCHS = {"zh": 3, "fr": 2, "de": 2}


def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-matching domain sampler: downsample each language
    so the OUTPUT corpus matches ``TARGET_MIX_PPM`` as closely as an
    integer-exact Bernoulli thinning can — the mixture-reweighting
    step every pretraining recipe runs over its domain table.

    Feasible output size is maximized subject to never upsampling:
    M = min over languages of n_l·GRID/w_l (the binding language keeps
    100%); each language then keeps w_l·M/(GRID·n_l) of its docs via
    the content-hash threshold. ALL arithmetic is integer division
    (`DIV` ≡ DuckDB `//`) on a 10⁶ grid — no floats, so the sample is
    reproducible across runs, engines, and partitionings. Languages
    absent from the target table are dropped (keep_ppm 0).

    Scale shape: one tiny per-language count aggregate, a 1-row global
    min, and a broadcast join of the ≤|languages|-row rate table back
    onto the corpus — the corpus itself never shuffles until the
    reporting aggregate. Reports per-language kept/total and the
    applied keep_ppm, making the mixture itself hash-verifiable."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.lit(0)
    for lang, ppm in TARGET_MIX_PPM.items():
        w = F.when(F.col("lang") == lang, F.lit(ppm)).otherwise(w)
    counts = (docs.groupBy("lang").agg(F.count("*").alias("n_l"))
                  .withColumn("w_l", w.cast("long")))
    m = (counts.filter(F.col("w_l") > 0)
               .agg(F.min(F.expr(f"n_l * {MIX_GRID} DIV w_l")).alias("m")))
    rates = (counts.crossJoin(F.broadcast(m))  # 1-row global scalar
             .withColumn(
                 "keep_ppm",
                 F.when(F.col("w_l") > 0,
                        F.least(F.lit(MIX_GRID).cast("long"),
                                F.expr("w_l * m DIV n_l")))
                  .otherwise(F.lit(0).cast("long")))
             .select("lang", "keep_ppm"))
    bucket = md5_bucket("text", MIX_GRID)
    kept = (bucket < F.col("keep_ppm")).cast("long")
    return (docs.join(F.broadcast(rates), "lang")
                .select("lang", "keep_ppm", kept.alias("kept"))
                .groupBy("lang")
                .agg(F.sum("kept").alias("n_kept"),
                     F.count("*").alias("n_total"),
                     F.first("keep_ppm").alias("keep_ppm")))


_MIX_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {ppm}" for lang, ppm in TARGET_MIX_PPM.items())

DOMAIN_MIX_ORACLE = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_l,
         CAST(CASE {_MIX_CASE} ELSE 0 END AS BIGINT) AS w_l
  FROM documents GROUP BY lang
),
m AS (
  SELECT MIN(n_l * {MIX_GRID} // w_l) AS m FROM counts WHERE w_l > 0
),
rates AS (
  SELECT lang, CASE WHEN w_l > 0
                    THEN LEAST({MIX_GRID}, w_l * m.m // n_l)
                    ELSE 0 END AS keep_ppm
  FROM counts, m
)
SELECT d.lang,
       CAST(SUM(CASE WHEN CAST('0x' || substr(md5(d.text), 1, 12) AS BIGINT)
                          % {MIX_GRID} < r.keep_ppm
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COUNT(*) AS n_total,
       CAST(ANY_VALUE(r.keep_ppm) AS BIGINT) AS keep_ppm
FROM documents d JOIN rates r ON d.lang = r.lang
GROUP BY d.lang
"""


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, hashed-feature linear form: each
    token maps to a weight via the hashing trick (md5 → [-1000, 1000]
    here; a trained fastText/logistic model would broadcast its real
    weight table instead — the plumbing is identical), a document's
    score is the mean token weight, keep = score > 0.

    Zero-shuffle by construction: the bag-of-words sum runs INSIDE the
    row via JVM higher-order functions (``aggregate`` over
    ``transform``) — no explode, no per-token shuffle, no Python. At
    100 TB this is a pure linear scan whose cost is the md5 throughput;
    integer weight sums (|w|≤1000·n_toks ≪ 2^53) divide to
    bit-identical doubles on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks, w_sum = quality_score_exprs()
    d = docs.select("doc_id",
                    n_toks.alias("n_toks"), w_sum.alias("w_sum"))
    score = quality_score_from(F.col("n_toks"), F.col("w_sum"))
    return d.select("doc_id", "n_toks", "w_sum", score.alias("score"),
                    (score > 0).alias("keep"))


QUALITY_CLASSIFIER_ORACLE = """
WITH d AS (
  SELECT doc_id,
         list_transform(
           list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''),
           t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 2001 - 1000
         ) AS ws
  FROM documents
),
s AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
         CAST(COALESCE(list_sum(ws), 0) AS BIGINT) AS w_sum
  FROM d
)
SELECT doc_id, n_toks, w_sum,
       CASE WHEN n_toks = 0 THEN 0.0
            ELSE CAST(w_sum AS DOUBLE) / n_toks END AS score,
       (CASE WHEN n_toks = 0 THEN 0.0
             ELSE CAST(w_sum AS DOUBLE) / n_toks END) > 0 AS keep
FROM s
"""


def domain_upsample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epochs-per-domain upsampling: repeat every document of an
    underrepresented language ``UPSAMPLE_EPOCHS[lang]`` times (default
    1) — the corpus-repetition half of mixture balancing (the sampler
    above is the downsampling half). Implemented as an explode over
    ``sequence(1, factor)``: row fan-out happens executor-side inside
    the scan stage, so the operator is shuffle-free until the
    reporting aggregate and the blow-up is bounded by the factor
    table. Reports per (lang, epoch) doc and token-sum counts — the
    shape a shard writer consumes (epoch k of lang l is its own
    deterministic slice)."""
    docs = load_table(spark, sf_dir, "documents")
    factor = F.lit(1)
    for lang, k in UPSAMPLE_EPOCHS.items():
        factor = F.when(F.col("lang") == lang, F.lit(k)).otherwise(factor)
    n_tokens = F.size(whitespace_tokens("text")).cast("long")
    d = docs.select("lang", n_tokens.alias("n_tokens"),
                    F.explode(F.sequence(F.lit(1), factor)).alias("epoch"))
    return (d.groupBy("lang", F.col("epoch").cast("long").alias("epoch"))
             .agg(F.count("*").alias("n_docs"),
                  F.sum("n_tokens").alias("n_tokens")))


_UPSAMPLE_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {k}" for lang, k in UPSAMPLE_EPOCHS.items())

DOMAIN_UPSAMPLE_ORACLE = f"""
SELECT lang, CAST(e.epoch AS BIGINT) AS epoch, COUNT(*) AS n_docs,
       CAST(SUM(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                     t -> t <> '')) AS BIGINT))
            AS BIGINT) AS n_tokens
FROM documents,
     UNNEST(generate_series(1, CASE {_UPSAMPLE_CASE} ELSE 1 END))
       AS e(epoch)
GROUP BY lang, e.epoch
"""


CURRICULUM_PHASES = 4


def curriculum_phase_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: within each language, rank documents by
    the hashed-feature quality score and split into
    ``CURRICULUM_PHASES`` equal NTILE phases (easy→hard training
    schedule). Reports per (lang, phase) doc/token counts and the
    score range — the manifest a curriculum-aware shard writer
    consumes.

    Determinism: the score is an exact integer÷integer double divide
    (correctly rounded identically on both engines — the
    quality_classifier_score discipline) and the ordering carries a
    doc_id tiebreak, so every phase assignment is bit-reproducible.

    Scale shape — NO per-lang global window (few langs ⇒ few
    partitions at 100 TB): ``operators/ranking.scalable_rank`` with
    (lang, floor(score·16)) order-preserving sub-shards, then
    ``ntile_expr``'s closed-form integer tile on (rank, per-lang n).
    The oracle below stays the naive single-window NTILE — the hash
    match IS the decomposition proof."""
    from mapreduce_rust_spark.operators.ranking import ntile_expr, scalable_rank
    docs = load_table(spark, sf_dir, "documents")
    n_toks, w_sum = quality_score_exprs()   # SAME score as the classifier
    d = docs.select("lang", "doc_id",
                    n_toks.alias("n_toks"), w_sum.alias("w_sum"))
    score = quality_score_from(F.col("n_toks"), F.col("w_sum"))
    # three consumers (bucket counts, totals, rank join) — materialize
    # the md5-heavy score projection once or every branch recomputes
    # it (the domain_keywords / bloom_crawl_dedup lesson)
    scored = d.withColumn("score", score).localCheckpoint(eager=True)
    totals = scored.groupBy("lang").agg(F.count("*").alias("n"))
    ranked = (scalable_rank(scored,
                            F.floor(F.col("score") * 16).cast("long"),
                            ["score", "doc_id"], part_cols=["lang"])
              .join(F.broadcast(totals), "lang"))
    phased = ranked.withColumn("phase", ntile_expr(CURRICULUM_PHASES))
    return (phased.groupBy("lang", "phase")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_toks").alias("n_tokens"),
                 F.min("score").alias("min_score"),
                 F.max("score").alias("max_score")))


CURRICULUM_ORACLE = f"""
WITH d AS (
  SELECT lang, doc_id,
         list_transform(
           list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''),
           t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 2001 - 1000
         ) AS ws
  FROM documents
),
s AS (
  SELECT lang, doc_id, CAST(len(ws) AS BIGINT) AS n_toks,
         CASE WHEN len(ws) = 0 THEN 0.0
              ELSE CAST(list_sum(ws) AS DOUBLE) / len(ws) END AS score
  FROM d
),
p AS (
  SELECT lang, n_toks, score,
         CAST(NTILE({CURRICULUM_PHASES}) OVER (
              PARTITION BY lang ORDER BY score, doc_id) AS BIGINT) AS phase
  FROM s
)
SELECT lang, phase, COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       MIN(score) AS min_score, MAX(score) AS max_score
FROM p GROUP BY lang, phase
"""


# DSIR (Data Selection via Importance Resampling, Xie et al. 2023)
# hashed n-gram importance weights: score every raw document by the
# log-likelihood ratio of a target-domain unigram model vs the raw
# model, both over hashed feature buckets.
DSIR_BUCKETS = 4096
DSIR_TARGET_SOURCES = ("src0", "src1")  # stand-in curated target set
DSIR_GRID = 1e9


def dsir_importance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights, hashed-unigram form: features are
    md5-hashed token buckets (the hashing trick, ``DSIR_BUCKETS``
    wide); the per-bucket weight is the add-one-smoothed log-ratio
    λ(f) = log2 p_target(f) − log2 p_raw(f); a raw document's
    importance is Σ λ over its tokens (with multiplicity). High logw
    = looks like the target domain — the sampling key for
    importance resampling.

    Scale shape: two scans of the token stream. The first aggregates
    per-bucket target/raw counts — at most ``DSIR_BUCKETS`` groups,
    so the shuffle is constant-size regardless of corpus scale; the
    λ table (≤4096 rows) then BROADCAST-joins back onto the raw token
    stream and one per-doc aggregate finishes — the corpus itself
    shuffles only on doc_id. Each λ quantizes onto a 1e-9 integer
    grid before the per-doc long sum, so results are partitioning-
    independent; log2 itself is libm, hence NO SQL oracle (the
    unigram_logprob precedent) — pinned against a pure-Python
    reference in tests/test_quality_ops.py instead."""
    docs = load_table(spark, sf_dir, "documents")
    is_target = F.col("source").isin(*DSIR_TARGET_SOURCES)
    tok = (docs.select("doc_id", is_target.alias("is_target"),
                       F.explode(whitespace_tokens("text")).alias("t"))
               .withColumn("f", md5_bucket("t", DSIR_BUCKETS)))
    buckets = (tok.groupBy("f")
               .agg(F.sum(F.col("is_target").cast("long")).alias("c_t"),
                    F.sum((~F.col("is_target")).cast("long")).alias("c_r")))
    norm = buckets.agg(F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r"))
    lam = (F.log2((F.col("c_t") + 1).cast("double")
                  / (F.col("n_t") + DSIR_BUCKETS))
           - F.log2((F.col("c_r") + 1).cast("double")
                    / (F.col("n_r") + DSIR_BUCKETS)))
    lam_table = (buckets.crossJoin(F.broadcast(norm))
                 .select("f", F.bround(lam * DSIR_GRID, 0).cast("long")
                               .alias("lam_q")))
    raw = tok.filter(~F.col("is_target"))
    return (raw.join(F.broadcast(lam_table), "f")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_toks"),
                    (F.sum("lam_q").cast("double") / F.lit(DSIR_GRID))
                    .alias("logw")))


def temperature_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain sampler at α = 1/2 (the
    multilingual-pretraining recipe: sample domain d with probability
    ∝ n_d^α, flattening the natural distribution so small domains
    aren't drowned): the target weight per SOURCE is isqrt(n_d), and
    the kept corpus matches that composition via the same
    integer-exact hash-Bernoulli machinery as ``domain_mix_sample``
    (feasible size maximized subject to never upsampling; all rate
    arithmetic integer DIV on the ppm grid).

    α = 1/2 is the one non-trivial temperature that stays EXACT:
    IEEE sqrt is correctly rounded (a required operation, unlike
    libm's ln/pow which the oracle discipline bans), and the
    floor(sqrt(n)) is hardened to true isqrt with an integer
    correction (s·s > n ⟹ s−1) written identically on both engines —
    so the weights, rates, and sample are bit-reproducible
    everywhere. Scale: per-source count agg, 1-row min, broadcast
    rate join; the corpus never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_d"))
    s = F.floor(F.sqrt(F.col("n_d").cast("double"))).cast("long")
    w = F.when(s * s > F.col("n_d"), s - 1).otherwise(s)
    counts = counts.withColumn("w_d", w)
    m = counts.agg(F.min(F.expr(f"n_d * {MIX_GRID} DIV w_d")).alias("m"))
    rates = (counts.crossJoin(F.broadcast(m))
             .withColumn("keep_ppm",
                         F.least(F.lit(MIX_GRID).cast("long"),
                                 F.expr("w_d * m DIV n_d")))
             .select("source", "keep_ppm"))
    bucket = md5_bucket("text", MIX_GRID)
    kept = (bucket < F.col("keep_ppm")).cast("long")
    return (docs.join(F.broadcast(rates), "source")
                .select("source", "keep_ppm", kept.alias("kept"))
                .groupBy("source")
                .agg(F.sum("kept").alias("n_kept"),
                     F.count("*").alias("n_total"),
                     F.first("keep_ppm").alias("keep_ppm")))


def _temperature_mix_oracle() -> str:
    return f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_d FROM documents GROUP BY source
),
wt AS (
  SELECT source, n_d,
         CASE WHEN CAST(FLOOR(SQRT(CAST(n_d AS DOUBLE))) AS BIGINT)
                   * CAST(FLOOR(SQRT(CAST(n_d AS DOUBLE))) AS BIGINT)
                   > n_d
              THEN CAST(FLOOR(SQRT(CAST(n_d AS DOUBLE))) AS BIGINT) - 1
              ELSE CAST(FLOOR(SQRT(CAST(n_d AS DOUBLE))) AS BIGINT)
         END AS w_d
  FROM counts
),
m AS (SELECT MIN(n_d * {MIX_GRID} // w_d) AS m FROM wt),
rates AS (
  SELECT source,
         LEAST({MIX_GRID}, w_d * m.m // n_d) AS keep_ppm
  FROM wt, m
),
k AS (
  SELECT d.source, r.keep_ppm,
         CASE WHEN CAST('0x' || substr(md5(d.text), 1, 12) AS BIGINT)
                   % {MIX_GRID} < r.keep_ppm
              THEN 1 ELSE 0 END AS kept
  FROM documents d JOIN rates r USING (source)
)
SELECT source, CAST(SUM(kept) AS BIGINT) AS n_kept,
       COUNT(*) AS n_total,
       CAST(ANY_VALUE(keep_ppm) AS BIGINT) AS keep_ppm
FROM k GROUP BY source
"""


def quantile_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization: each document's length
    statistic is replaced by the GLOBAL value at its within-source
    quantile — the score-calibration step that makes per-domain
    quality/length scores comparable before a single corpus-wide
    threshold or curriculum is applied (a p90 doc of a short-doc
    crawl maps to the corpus p90, not to its raw length). The
    genomics quantile-normalization recipe, applied to corpus
    curation.

    All-integer: within-source rank r (ties broken by doc_id), its
    target global rank ⌈r·N/n_s⌉ by integer DIV, and a join to the
    global rank table — no percentile interpolation floats anywhere.
    BOTH rankings use ``ranking.scalable_rank`` (order-preserving
    length-bucket sub-shards), so neither the per-source nor the
    global order ever funnels through a single window partition —
    this operator IS the 100 TB form, not the naive one. The rank
    join shuffles on an integer rank, uniform by construction."""
    from mapreduce_rust_spark.operators.ranking import scalable_rank
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars")
            .localCheckpoint(eager=True))   # 4 consumers below
    bucket = F.floor(F.col("n_chars") / 64).cast("long")
    n_s = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    n_tot = docs.agg(F.count("*").alias("n")).localCheckpoint()
    s = scalable_rank(docs, bucket, ["n_chars", "doc_id"],
                      part_cols=["source"], rank_col="r_src")
    g = (scalable_rank(docs, bucket, ["n_chars", "doc_id"],
                       rank_col="r_glob")
         .select("r_glob", F.col("n_chars").alias("norm_chars")))
    j = (s.join(F.broadcast(n_s), "source")
          .crossJoin(F.broadcast(n_tot))
          .withColumn("r_tgt", F.expr("(r_src * n + n_s - 1) DIV n_s")))
    return (j.join(g, j.r_tgt == g.r_glob)
             .select("doc_id", "source", "n_chars", "norm_chars"))


QUANTILE_NORM_ORACLE = """
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
s AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r_src,
         COUNT(*) OVER (PARTITION BY source) AS n_s
  FROM d
),
g AS (
  SELECT n_chars AS norm_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r_glob
  FROM d
),
t AS (SELECT COUNT(*) AS n FROM d)
SELECT s.doc_id, s.source, s.n_chars, g.norm_chars
FROM s, t
JOIN g ON g.r_glob = (s.r_src * t.n + s.n_s - 1) // s.n_s
"""


def readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease readability per document — the classic
    linear readability feature quality pipelines add next to the
    Gopher rules (too-hard or too-degenerate text scores outside the
    useful band). FRE = 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), with the standard cheap proxies:
    sentences = runs of [.!?] (min 1), syllables = vowel-group runs
    [aeiouyAEIOUY]+ — both via ``regexp_count`` on patterns simple
    enough that Java regex and RE2 agree symbol-for-symbol.

    Zero shuffle: three in-row counters per doc inside the scan
    stage; at 100 TB this is a pure linear pass like the quality
    classifier. Exactness: all three counters are integers; the FRE
    chain is a fixed IEEE DAG (two int÷int divisions, two literal
    multiplies, two subtractions left-to-right) written identically
    in the oracle; empty docs emit NULL on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.size(whitespace_tokens("text")).cast("long")
    s = F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("long")
    syl = F.regexp_count(F.col("text"), F.lit("[aeiouyAEIOUY]+")) \
           .cast("long")
    s_eff = F.greatest(s, F.lit(1).cast("long"))
    fre = (F.lit(206.835)
           - F.lit(1.015) * (w.cast("double") / s_eff.cast("double"))
           - F.lit(84.6) * (syl.cast("double") / w.cast("double")))
    return docs.select(
        "doc_id", w.alias("n_words"), s.alias("n_sentences"),
        syl.alias("n_syllables"),
        F.when(w > 0, fre).alias("flesch"))


READABILITY_ORACLE = r"""
WITH c AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                              t -> t <> '')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         206.835
         - 1.015 * (CAST(n_words AS DOUBLE)
                    / CAST(GREATEST(n_sentences, 1) AS DOUBLE))
         - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       END AS flesch
FROM c
"""


def longest_run_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degeneration screen: the longest run of consecutive IDENTICAL
    tokens per document — the signature of model-generated loop
    collapse ("the the the …") and of broken scrapers emitting
    repeated markup; the run-length companion of
    ``repetition_stats_docs``' duplicate-n-gram fractions (a 50-token
    run barely moves a dup-bigram FRACTION on a long doc but is an
    instant reject here).

    Islands trick, no sequential fold: positional explode, island id
    = pos − row_number within (doc, token) ordered by pos (equal
    consecutive tokens share an island), one count per island, one
    argmax per doc (earliest-start tie-break via max on
    (len, −start)). Exact integers throughout. Scale: explode is
    linear; both windows partition at (doc, token) / doc grain —
    bounded by document length, never corpus-wide. Docs with zero
    tokens are omitted (no runs exist).

    Output: ``(doc_id, run_len, run_tok, run_start)`` — run_start is
    the 0-based position in the whitespace-split token sequence.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.split(F.col("text"), WS_RE)
    tp = (docs.select("doc_id", F.posexplode(raw).alias("pos", "tok"))
          .where(F.col("tok") != ""))
    w = W.partitionBy("doc_id", "tok").orderBy("pos")
    runs = (tp.withColumn("isl", F.col("pos") - F.row_number().over(w))
            .groupBy("doc_id", "tok", "isl")
            .agg(F.count("*").cast("long").alias("run_len"),
                 F.min("pos").cast("long").alias("start")))
    best = (runs.groupBy("doc_id")
            .agg(F.max(F.struct(F.col("run_len"),
                                (-F.col("start")).alias("neg_start"),
                                F.col("tok"))).alias("b")))
    return best.select("doc_id",
                       F.col("b.run_len").alias("run_len"),
                       F.col("b.tok").alias("run_tok"),
                       (-F.col("b.neg_start")).cast("long")
                       .alias("run_start"))


LONGEST_RUN_ORACLE = """
WITH tp AS (
  SELECT doc_id, u.tok, u.pos
  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS l
        FROM documents),
  LATERAL (SELECT l[i] AS tok, i - 1 AS pos
           FROM UNNEST(generate_series(1, len(l))) AS g(i)) u
  WHERE u.tok <> ''
),
runs AS (
  SELECT doc_id, tok,
         CAST(COUNT(*) AS BIGINT) AS run_len,
         CAST(MIN(pos) AS BIGINT) AS start
  FROM (SELECT doc_id, tok, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id, tok
                                        ORDER BY pos) AS isl
        FROM tp)
  GROUP BY doc_id, tok, isl
),
best AS (
  SELECT doc_id, run_len, tok, start,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY run_len DESC, start) AS rk
  FROM runs
)
SELECT doc_id, run_len, tok AS run_tok, start AS run_start
FROM best WHERE rk = 1
"""


# Token-budget planning: the total training-token budget and the
# target mixture (ppm of budget per source). Named weights for the
# high-value sources; every other source splits the remainder evenly.
# The ppm table MUST sum to exactly 1_000_000 — asserted in tests.
TOKEN_BUDGET = 10_000_000
BUDGET_PPM = {"src0": 200_000, "src1": 150_000,
              "src2": 100_000, "src3": 50_000}
BUDGET_DEFAULT_PPM = 31_250   # (1e6 - 500k) / 16 remaining sources


def token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-budget planning: given a total training-token budget and
    a target mixture (``BUDGET_PPM`` per source), how many EPOCHS of
    each source does its allocation imply? epochs > 1 means the
    source must repeat to fill its share (the Muennighoff-style
    repeated-data regime); epochs ≪ 1 means the source is barely
    sampled and its weight could fund dedup/quality work instead.
    The planning readout every mixture decision (domain_mix,
    temperature_mix) feeds from.

    Exactness: per-source token counts are one integer aggregate;
    alloc = budget·ppm DIV 10⁶ is integer arithmetic;
    epochs = alloc ÷ n_tokens is ONE int÷int double division
    (correctly rounded identically on both engines). Scale: one
    map-side-combined count aggregate over the corpus, then
    dims-sized arithmetic — the λ table is never joined back.

    Output: ``(source, n_tokens, ppm, alloc_tokens, epochs,
    repeats)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = (docs.select("source", F.size(whitespace_tokens("text"))
                           .cast("long").alias("nt"))
               .groupBy("source")
               .agg(F.sum("nt").alias("n_tokens")))
    ppm = F.lit(BUDGET_DEFAULT_PPM)
    for src, p in BUDGET_PPM.items():
        ppm = F.when(F.col("source") == src, F.lit(p)).otherwise(ppm)
    return (per_src
            .withColumn("ppm", ppm.cast("long"))
            .withColumn("alloc_tokens",
                        F.expr(f"{TOKEN_BUDGET} * ppm DIV 1000000")
                        .cast("long"))
            .withColumn("epochs",
                        F.col("alloc_tokens").cast("double")
                        / F.col("n_tokens").cast("double"))
            .withColumn("repeats", (F.col("alloc_tokens")
                                    > F.col("n_tokens")).alias("repeats"))
            .select("source", "n_tokens", "ppm", "alloc_tokens",
                    "epochs", "repeats"))


_BUDGET_CASE = " ".join(
    f"WHEN source = '{s}' THEN {p}" for s, p in BUDGET_PPM.items())

TOKEN_BUDGET_ORACLE = f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_tokens,
         CAST(CASE {_BUDGET_CASE} ELSE {BUDGET_DEFAULT_PPM} END
              AS BIGINT) AS ppm
  FROM per_src
)
SELECT source, n_tokens, ppm,
       CAST({TOKEN_BUDGET} * ppm // 1000000 AS BIGINT) AS alloc_tokens,
       CAST(CAST({TOKEN_BUDGET} * ppm // 1000000 AS BIGINT) AS DOUBLE)
         / CAST(n_tokens AS DOUBLE) AS epochs,
       CAST({TOKEN_BUDGET} * ppm // 1000000 AS BIGINT) > n_tokens
         AS repeats
FROM w
"""


REGISTRATIONS = [
    ("readability_docs", readability_docs, READABILITY_ORACLE),
    ("unigram_logprob_docs", unigram_logprob_docs, None),
    ("quantile_normalize_docs", quantile_normalize_docs,
     QUANTILE_NORM_ORACLE),
    ("temperature_mix_docs", temperature_mix_docs,
     _temperature_mix_oracle()),
    ("curriculum_phase_docs", curriculum_phase_docs, CURRICULUM_ORACLE),
    ("dsir_importance_docs", dsir_importance_docs, None),
    ("domain_mix_sample", domain_mix_sample, DOMAIN_MIX_ORACLE),
    ("quality_classifier_score", quality_classifier_score,
     QUALITY_CLASSIFIER_ORACLE),
    ("domain_upsample_docs", domain_upsample_docs, DOMAIN_UPSAMPLE_ORACLE),
    ("pps_sample_docs", pps_sample_docs, PPS_SAMPLE_ORACLE),
    ("repetition_stats_docs", repetition_stats_docs, REPETITION_ORACLE),
    ("scrub_pii_docs", scrub_pii_docs, SCRUB_PII_ORACLE),
    ("cross_corpus_dups", cross_corpus_dups, CROSS_CORPUS_ORACLE),
    ("gopher_rules_docs", gopher_rules_docs, GOPHER_RULES_ORACLE),
    ("contamination_docs", contamination_docs, CONTAMINATION_ORACLE),
    ("stratified_sample_docs", stratified_sample_docs,
     STRATIFIED_SAMPLE_ORACLE),
    ("pack_sequences_docs", pack_sequences_docs, PACK_SEQUENCES_ORACLE),
    ("token_budget_epochs", token_budget_epochs, TOKEN_BUDGET_ORACLE),
    ("longest_run_docs", longest_run_docs, LONGEST_RUN_ORACLE),
]


DUPFREE_EPOCHS = 4   # plan horizon: epoch 1 = raw pass, 2..4 dedup'd


def dupfree_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware epoch token planning — the composition of the
    dedup multiplicity report with the token budgeter: epoch 1 trains
    on the corpus AS CRAWLED (every copy), epochs 2+ on one canonical
    copy per exact-duplicate cluster (the "dedup after the first
    pass" regime), so the per-epoch served-token count DROPS by the
    duplicate excess. Reports, per source and epoch, the tokens
    served and the cumulative total — what a budget of repeated
    epochs actually buys once duplicates stop repeating.

    Exactness: all integers — per-cluster token counts weight the
    canonical copy by 1 (epochs ≥ 2) or by its multiplicity
    (epoch 1); the cumulative column is epoch-indexed closed-form
    arithmetic (raw + (e−1)·dedup), not a float scan.

    Scale: one sha256 digest aggregate (bytes shuffle once as
    digests), one per-(source, cluster) token sum, one source rollup,
    then a dims-sized epoch explode. The corpus is scanned once.

    Output: ``(source, epoch, tokens_served, cum_tokens)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    cl = (docs.select("source",
                      F.sha2(F.col("text"), 256).alias("sha"),
                      F.size(whitespace_tokens("text")).cast("long")
                       .alias("nt"))
          .groupBy("source", "sha")
          .agg(F.count("*").alias("k"), F.min("nt").alias("nt")))
    per_src = cl.groupBy("source").agg(
        F.sum(F.col("k") * F.col("nt")).cast("long").alias("raw_tokens"),
        F.sum("nt").cast("long").alias("dedup_tokens"))
    e = (per_src.select(
            "source", "raw_tokens", "dedup_tokens",
            F.explode(F.sequence(F.lit(1), F.lit(DUPFREE_EPOCHS)))
             .alias("epoch"))
         .withColumn("epoch", F.col("epoch").cast("long")))
    served = F.when(F.col("epoch") == 1, F.col("raw_tokens")) \
              .otherwise(F.col("dedup_tokens"))
    cum = (F.col("raw_tokens")
           + (F.col("epoch") - 1) * F.col("dedup_tokens"))
    return e.select("source", "epoch",
                    served.cast("long").alias("tokens_served"),
                    cum.cast("long").alias("cum_tokens"))


DUPFREE_EPOCH_ORACLE = rf"""
WITH cl AS (
  SELECT source, sha256(text) AS sha, COUNT(*) AS k,
         MIN(len(list_filter(regexp_split_to_array(text, '\s+'),
                             t -> t <> ''))) AS nt
  FROM documents GROUP BY 1, 2
),
per_src AS (
  SELECT source,
         CAST(SUM(k * nt) AS BIGINT) AS raw_tokens,
         CAST(SUM(nt) AS BIGINT) AS dedup_tokens
  FROM cl GROUP BY source
)
SELECT source, CAST(e AS BIGINT) AS epoch,
       CAST(CASE WHEN e = 1 THEN raw_tokens ELSE dedup_tokens END
            AS BIGINT) AS tokens_served,
       CAST(raw_tokens + (e - 1) * dedup_tokens AS BIGINT) AS cum_tokens
FROM per_src, UNNEST(range(1, {DUPFREE_EPOCHS} + 1)) AS t(e)
"""


REGISTRATIONS.append(("dupfree_epoch_plan", dupfree_epoch_plan,
                      DUPFREE_EPOCH_ORACLE))


PPS_FIXED_K = 100   # fixed-size weighted sample


def pps_fixed_k_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-SIZE probability-proportional-to-size sampling via
    sequential Poisson / Ohlsson priorities — the without-replacement
    companion of ``pps_sample_docs`` (whose Bernoulli design has
    binomial size noise; a dataset card wants exactly k exemplars):
    priority = u / w with u a content-keyed md5 draw on the
    ``PPS_GRID`` grid and w = n_chars; the k SMALLEST priorities win,
    so long docs win disproportionately, in expectation ∝ w.

    Exactness: priority is ONE int÷int double division (correctly
    rounded identically on both engines) and the selection is a
    total order on (priority, doc_id) — deterministic, content-keyed,
    retry-safe, no floats compared across engines that were not
    computed by the identical DAG.

    Scale: one scan + TakeOrderedAndProject (never a global sort) —
    the same plan shape as topk_orders_global.

    Output: ``(doc_id, n_chars, priority)`` — the k winners.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = md5_bucket("text", PPS_GRID) + 1   # 1..GRID: never 0 priority
    pr = (docs.where(F.col("n_chars") > 0)
          .select("doc_id", "n_chars",
                  (u.cast("double") / F.col("n_chars").cast("double"))
                  .alias("priority")))
    return pr.orderBy("priority", "doc_id").limit(PPS_FIXED_K)


PPS_FIXED_K_ORACLE = f"""
SELECT doc_id, n_chars,
       CAST(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)
            % {PPS_GRID} + 1 AS DOUBLE)
         / CAST(n_chars AS DOUBLE) AS priority
FROM documents
WHERE n_chars > 0
ORDER BY priority, doc_id
LIMIT {PPS_FIXED_K}
"""


REGISTRATIONS.append(("pps_fixed_k_sample_docs", pps_fixed_k_sample_docs,
                      PPS_FIXED_K_ORACLE))


STRAT_K = 8   # exemplars kept per source stratum


def stratum_exemplar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k per-stratum EXEMPLAR sample — exactly ``STRAT_K`` docs
    per source stratum, selected by a content-keyed md5 priority: the
    per-domain spot-check sample every corpus audit starts from.
    Complements the existing sampling wing: ``stratified_sample_docs``
    is per-language Bernoulli RATE sampling (binomial size noise),
    ``pps_fixed_k_sample_docs`` is a size-weighted global fixed-k —
    this is uniform-within-stratum with a fixed QUOTA per stratum.
    Deterministic, retry-safe, and
    ownership-stable: a doc's priority depends only on its text, so
    re-running after an append only swaps exemplars where new docs
    genuinely out-prioritize old ones.

    Scale: one scan + a per-stratum top-k window keyed on source.
    Strata counts are bounded (domains, not docs), and within-stratum
    skew is irrelevant — the window keeps k rows per group with a
    rank cutoff, which AQE handles at any stratum size; if strata
    ever became pathological, ``operators/ranking.scalable_rank``'s
    sub-sharded decomposition applies unchanged.

    Output: ``(source, doc_id, pick_rank)``, pick_rank ∈ 1..STRAT_K.
    """
    docs = load_table(spark, sf_dir, "documents")
    pr = md5_bucket("text", 1 << 40)
    w = W.partitionBy("source").orderBy(pr.asc(), F.col("doc_id").asc())
    return (docs.select("source", "doc_id",
                        F.row_number().over(w).alias("pick_rank"))
                .filter(F.col("pick_rank") <= STRAT_K)
                .select("source", "doc_id",
                        F.col("pick_rank").cast("long").alias("pick_rank")))


STRATUM_EXEMPLAR_ORACLE = f"""
SELECT source, doc_id, pick_rank FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)
                      % {1 << 40}, doc_id) AS pick_rank
  FROM documents
)
WHERE pick_rank <= {STRAT_K}
"""


REGISTRATIONS.append(("stratum_exemplar_docs", stratum_exemplar_docs,
                      STRATUM_EXEMPLAR_ORACLE))


# --- Kish effective sample size per source (round 10) -----------------------


def kish_ess_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of each source under LENGTH
    weighting (Kish 1965): sampling documents proportional to token
    count — the natural token-budget mixture weight — a source
    contributes ESS = (Σw)²/Σw² "effective" documents, not n. A
    source whose mass sits in a few giant documents has ESS ≪ n; the
    mixture planner reading ``domain_mix_sample`` quotas needs THIS
    number, not the raw document count, to judge diversity.

    Exactness: w = exact whitespace token count (the
    quality-classifier tokenization); (Σw)² and Σw² stay in
    DECIMAL(38)/HUGEINT ((Σw)² passes int64 at ~3·10⁹ total tokens
    per source); readouts are truncating divisions — ess_x1000
    (ESS in milli-docs) and ess_ratio_ppm = ESS/n on the ppm grid.
    Zero-token documents carry weight 0 and drop from both n and the
    sums (mirrored in the oracle).

    Scale: one zero-shuffle in-row token count, one per-source
    aggregate. Output: ``(source, n_docs, sum_w, ess_x1000,
    ess_ratio_ppm)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = whitespace_token_count("text")
    d = (docs.select("source", w.cast("long").alias("w"))
         .where(F.col("w") > 0))
    a = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").cast("decimal(38,0)").alias("sw"),
        F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * w")).alias("sw2"))
    return a.select(
        "source", "n_docs",
        F.col("sw").cast("long").alias("sum_w"),
        F.expr("CAST(sw * sw * 1000 DIV sw2 AS BIGINT)")
         .alias("ess_x1000"),
        F.expr("CAST(sw * sw * 1000000 DIV (sw2 * n_docs) AS BIGINT)")
         .alias("ess_ratio_ppm"))


KISH_ESS_ORACLE = """
WITH d AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS BIGINT) AS w
  FROM documents
),
a AS (
  SELECT source, CAST(COUNT(*) AS HUGEINT) AS n_docs,
         CAST(SUM(w) AS HUGEINT) AS sw,
         CAST(SUM(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sw2
  FROM d WHERE w > 0 GROUP BY 1
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sw AS BIGINT) AS sum_w,
       CAST(sw * sw * 1000 // sw2 AS BIGINT) AS ess_x1000,
       CAST(sw * sw * 1000000 // (sw2 * n_docs) AS BIGINT)
         AS ess_ratio_ppm
FROM a
"""


REGISTRATIONS.append(("kish_ess_sources", kish_ess_sources,
                      KISH_ESS_ORACLE))
