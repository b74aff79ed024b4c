"""Classifier / retrieval evaluation metrics — the readout side of
model-based data curation. A quality filter (fastText-style classifier,
`quality.quality_classifier_score` here) is only trustworthy with an
evaluation harness next to it: ranking power (AUC) and probability
calibration (reliability bins) against a reference label. These run at
corpus scale on the SAME engine as the filter, so the eval is one more
DataFrame plan, not an offline notebook.

Reference scope: the reference (Freebirdgo/MapReduce_Rust, src/mr/*.rs)
has no evaluation surface; these extend the mandated LLM-pipeline
operator family (quality classifier, mixture balancing) with the
metrics that gate deploying such a filter.

Exactness discipline (house rules, see stats_agg_lineitem): every
metric is computed from integer sufficient statistics — rank/tie
counts for AUC, bin counts for calibration — with ONE fixed IEEE
division at the end, so DuckDB oracle hashes match bit-for-bit.

The reference label is ``lang = 'en'`` — deterministic, independent of
the score's token hashing, and the shape a real pipeline has (labels
from a held-out human-rated or LM-judged set, broadcast-joined on
doc_id; swapping the label source does not change any plan below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.text import whitespace_tokens
from mapreduce_rust_spark.llm.quality import (
    quality_score_exprs,
    quality_score_from,
)
from mapreduce_rust_spark.tables import load_table


def scored_from_docs(docs: DataFrame) -> DataFrame:
    """doc_id, score (exact int÷int double), pos (reference label) —
    pure per-row expressions, so it applies to a docs STREAM too
    (stream_isotonic_calibration)."""
    n_toks, w_sum = quality_score_exprs()
    d = docs.select("doc_id", (F.col("lang") == "en").alias("pos"),
                    n_toks.alias("n_toks"), w_sum.alias("w_sum"))
    return d.select("doc_id", "pos",
                    quality_score_from(F.col("n_toks"),
                                       F.col("w_sum")).alias("score"))


def _scored_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scored_from_docs(load_table(spark, sf_dir, "documents"))


def auc_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney AUC of the quality-classifier score against
    the ``lang='en'`` reference label, in scalable two-phase form.

    AUC = P(score_pos > score_neg) + ½·P(=) over all pos×neg pairs.
    Never the O(n²) pair join: collapse to the DISTINCT-SCORE relation
    (score → n_pos, n_neg — the sufficient statistic), then
    AUC·2·N_pos·N_neg = Σ_s n_pos(s)·(2·cumneg_before(s) + n_neg(s)),
    all integers; ONE double division at the end.

    The prefix sum cumneg_before is where a naive plan dies at 100 TB:
    ``SUM() OVER (ORDER BY score)`` is a single-partition window. Here
    it is the proven two-phase decomposition (ranking.scalable_rank,
    cusum_changepoint_events): scores sub-shard on the order-preserving
    integer bucket floor(score) ∈ [-1000, 1000] (the classifier's own
    weight range), per-bucket negative totals (≤2001 rows) carry the
    cross-bucket offset through a broadcast window, and the in-bucket
    prefix runs in (bucket) partitions. The DuckDB oracle uses the
    naive single window — hash equality IS the decomposition proof.

    Scale bounds: the distinct-score relation is ≤ |docs| rows but
    typically far smaller (scores live on the w_sum/n_toks grid); the
    pair-count 2·N_pos·N_neg overflows int64 past ~2.1e9 docs per
    class — swap the num2/denominator sums to DECIMAL(38,0) there
    (stats_agg_lineitem discipline); the division is unchanged."""
    return auc_from_scores(_scored_labeled(spark, sf_dir))


def auc_from_scores(d: DataFrame) -> DataFrame:
    """Core AUC over any (score double, pos boolean) relation — see
    auc_quality_docs for the derivation; split out so tests can prove
    the prefix decomposition equals the brute-force pair count on
    arbitrary inputs, and so a different scorer/label pair reuses the
    plan unchanged."""
    g = (d.groupBy("score")
          .agg(F.sum(F.when(F.col("pos"), 1).otherwise(0))
                .cast("long").alias("np"),
               F.sum(F.when(F.col("pos"), 0).otherwise(1))
                .cast("long").alias("nn")))
    g = g.withColumn("_b", F.floor("score").cast("long"))
    # phase 1: per-bucket negative totals; cross-bucket carry-in from a
    # window over BUCKET TOTALS only (≤2001 rows, broadcast back)
    bt = g.groupBy("_b").agg(F.sum("nn").alias("_bn"))
    wb = W.partitionBy().orderBy("_b")
    offs = bt.select("_b",
                     (F.sum("_bn").over(wb) - F.col("_bn")).alias("_off"))
    # phase 2: in-bucket prefix of nn over distinct scores
    wl = (W.partitionBy("_b").orderBy("score")
           .rowsBetween(W.unboundedPreceding, -1))
    scored = (g.join(F.broadcast(offs), "_b")
               .withColumn(
                   "cumneg",
                   F.coalesce(F.sum("nn").over(wl), F.lit(0))
                   + F.col("_off")))
    tot = scored.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("cumneg") + F.col("nn")))
         .alias("auc_num2"))
    return tot.select(
        "n_pos", "n_neg", "auc_num2",
        (F.col("auc_num2").cast("double")
         / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"))
        .alias("auc"))


# naive single-window form — hash equality proves the decomposition
AUC_QUALITY_ORACLE = """
WITH d AS (
  SELECT doc_id, lang = 'en' AS pos,
         list_transform(
           list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''),
           t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 2001 - 1000
         ) AS ws
  FROM documents
),
s AS (
  SELECT doc_id, pos,
         CASE WHEN len(ws) = 0 THEN 0.0
              ELSE CAST(COALESCE(list_sum(ws), 0) AS DOUBLE) / len(ws)
         END AS score
  FROM d
),
g AS (
  SELECT score,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
  FROM s GROUP BY score
),
c AS (
  SELECT np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
  FROM g
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       CAST(SUM(np * (2 * cumneg + nn)) AS BIGINT) AS auc_num2,
       CAST(SUM(np * (2 * cumneg + nn)) AS DOUBLE)
         / CAST(2 * SUM(np) * SUM(nn) AS DOUBLE) AS auc
FROM c
"""


CALIBRATION_BIN_W = 100  # score units per bin; score ∈ [-1000, 1000]


def calibration_bins_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality classifier: fixed-width
    score bins × (count, positives, positive rate) — the calibration
    readout paired with the AUC above (AUC says the ranking separates;
    this says what a score of x actually MEANS as a probability).

    Pure partial+final aggregate to ≤21 rows — zero windows, zero
    joins; at 100 TB it is one map-side-combined pass, the cheapest
    shape the engine has. Bin id floor(score/w) is computed from the
    identical exact double on both engines, so binning is portable;
    counts are integers and pos_rate is ONE int÷int division.

    Fixed-WIDTH bins (not equi-depth quantile bins) are deliberate at
    scale: no global rank needed, bins are stable release-to-release,
    and empty bins are visible (a calibration hole, not a resized
    bin). For equi-depth instead, compose scalable_rank + ntile_expr
    (equidepth_hist_totalprice is that operator)."""
    d = _scored_labeled(spark, sf_dir)
    b = F.floor(F.col("score") / CALIBRATION_BIN_W).cast("long")
    out = (d.groupBy(b.alias("bin"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("pos"), 1).otherwise(0))
                  .cast("long").alias("n_pos")))
    return out.select(
        "bin", (F.col("bin") * CALIBRATION_BIN_W).alias("score_lo"),
        "n", "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double"))
        .alias("pos_rate")).orderBy("bin")


CALIBRATION_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang = 'en' AS pos,
         list_transform(
           list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''),
           t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 2001 - 1000
         ) AS ws
  FROM documents
),
s AS (
  SELECT doc_id, pos,
         CASE WHEN len(ws) = 0 THEN 0.0
              ELSE CAST(COALESCE(list_sum(ws), 0) AS DOUBLE) / len(ws)
         END AS score
  FROM d
)
SELECT CAST(FLOOR(score / {CALIBRATION_BIN_W}) AS BIGINT) AS bin,
       CAST(FLOOR(score / {CALIBRATION_BIN_W}) AS BIGINT)
         * {CALIBRATION_BIN_W} AS score_lo,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS pos_rate
FROM s
GROUP BY 1
ORDER BY bin
"""


REL_TF = 2      # graded relevance: a doc is relevant to a term iff tf >= 2
EVAL_K = 10     # cutoff for P@k / recall@k


def retrieval_eval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-retrieval evaluation of the BM25 scorer: per query term,
    precision@k, recall@k and reciprocal rank against a graded
    relevance set (``tf >= REL_TF`` — docs that mention the term
    repeatedly; the single-mention tail is retrievable but not
    "relevant", so the metrics are non-degenerate and fully exact).
    A real pipeline swaps in a judged qrels table broadcast-joined on
    (term, doc_id); every plan shape below survives that unchanged.

    Per term, candidates are docs containing the term (the inverted
    tf relation BM25 already builds — the IN-literal scan prunes all
    other tokens), ranked by the SAME score chain
    ``bm25_search_docs`` hash-proved, tie-broken by doc_id. The rank
    window partitions by term; if one term matched billions of docs
    at 100 TB, sub-shard its rank on the order-preserving score
    bucket exactly as ranking.scalable_rank does (the AUC above is
    that pattern in production). Metrics are integer counts plus
    int÷int divisions; div-by-zero explicitly guarded to NULL on BOTH
    engines — DuckDB double division by zero also yields NULL (not
    IEEE inf), so the guard isn't a workaround, it just pins the
    identical NULL semantics explicitly instead of relying on each
    engine's default."""
    from mapreduce_rust_spark.llm.textanalysis import (
        BM25_B, BM25_K1, SEARCH_TERMS)
    docs = load_table(spark, sf_dir, "documents")
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
    w = W.partitionBy("term").orderBy(F.desc("s"), "doc_id")
    ranked = (scored.select("term", "doc_id", "tf", (norm * idf).alias("s"))
                    .withColumn("rnk", F.row_number().over(w)))
    rel = F.col("tf") >= REL_TF
    agg = (ranked.groupBy("term").agg(
        F.count("*").alias("n_cand"),
        F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("n_rel"),
        F.sum(F.when(rel & (F.col("rnk") <= EVAL_K), 1).otherwise(0))
         .cast("long").alias("n_ret_rel"),
        F.min(F.when(rel, F.col("rnk"))).alias("first_rel_rank")))
    return agg.select(
        "term", "n_cand", "n_rel", "n_ret_rel", "first_rel_rank",
        (F.col("n_ret_rel").cast("double") / float(EVAL_K)).alias("p_at_k"),
        F.when(F.col("n_rel") > 0,
               F.col("n_ret_rel").cast("double")
               / F.col("n_rel").cast("double")).alias("recall_at_k"),
        F.when(F.col("first_rel_rank").isNotNull(),
               F.lit(1.0) / F.col("first_rel_rank").cast("double"))
         .alias("rr")).orderBy("term")


def _retrieval_eval_oracle() -> str:
    from mapreduce_rust_spark.llm.textanalysis import (
        BM25_B, BM25_K1, SEARCH_TERMS)
    terms_in = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
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
  SELECT doc_id, t.tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM base, UNNEST(toks) AS t(tok)
  WHERE t.tok IN ({terms_in})
  GROUP BY doc_id, t.tok
),
df_t AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
ranked AS (
  SELECT tf.term, tf.doc_id, tf.tf,
         ROW_NUMBER() OVER (
           PARTITION BY tf.term
           ORDER BY (CAST(tf AS DOUBLE) * ({BM25_K1} + 1.0)
                     / (CAST(tf AS DOUBLE)
                        + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * (CAST(dl AS DOUBLE)
                          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
                    * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) DESC,
                    tf.doc_id) AS rnk
  FROM tf JOIN df_t USING (term) JOIN lens USING (doc_id), stats
),
agg AS (
  SELECT term, COUNT(*) AS n_cand,
         CAST(SUM(CASE WHEN tf >= {REL_TF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel,
         CAST(SUM(CASE WHEN tf >= {REL_TF} AND rnk <= {EVAL_K}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ret_rel,
         MIN(CASE WHEN tf >= {REL_TF} THEN rnk END) AS first_rel_rank
  FROM ranked GROUP BY term
)
SELECT term, n_cand, n_rel, n_ret_rel, first_rel_rank,
       CAST(n_ret_rel AS DOUBLE) / {EVAL_K}.0 AS p_at_k,
       CASE WHEN n_rel > 0
            THEN CAST(n_ret_rel AS DOUBLE) / CAST(n_rel AS DOUBLE) END
         AS recall_at_k,
       CASE WHEN first_rel_rank IS NOT NULL
            THEN 1.0 / CAST(first_rel_rank AS DOUBLE) END AS rr
FROM agg
ORDER BY term
"""


LIFT_TILES = 10


def lift_table_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table for the quality
    classifier against the ``lang='en'`` reference label — the
    business-facing readout next to AUC (which summarizes ranking
    power in one number; the lift table says "the top 10% of the
    ranking contains X× its share of positives", the form in which a
    curation budget is actually allocated).

    Deciles come from the SCALABLE rank decomposition
    (``ranking.scalable_rank`` on the order-preserving −floor(score)
    bucket, ties broken by doc_id) + closed-form ``ntile_expr`` —
    never a global NTILE window; the DuckDB oracle uses the naive
    ``NTILE(10) OVER (ORDER BY score DESC, doc_id)``, so hash
    equality is one more decomposition proof. Per decile: exact
    integer counts, then response rate, lift
    (= share of positives ÷ share of rows), and cumulative gain as
    single int÷int IEEE divisions.

    Output: ``(decile, n, n_pos, resp_rate, lift, cum_gain)``.
    """
    from mapreduce_rust_spark.operators.ranking import (
        ntile_expr, scalable_rank)
    d = _scored_labeled(spark, sf_dir).localCheckpoint(eager=False)
    ranked = scalable_rank(
        d, (-F.floor("score")).cast("long"),
        [F.col("score").desc(), "doc_id"])
    tot = ranked.agg(F.count("*").alias("n"),
                     F.sum(F.when(F.col("pos"), 1).otherwise(0))
                     .cast("long").alias("n_pos_all"))
    t = (ranked.crossJoin(F.broadcast(tot))
         .withColumn("decile", ntile_expr(LIFT_TILES)))
    g = (t.groupBy("decile")
         .agg(F.count("*").cast("long").alias("n"),
              F.sum(F.when(F.col("pos"), 1).otherwise(0))
              .cast("long").alias("n_pos"),
              F.max("n_pos_all").alias("n_pos_all"),
              F.max(F.col("n").cast("long")).alias("n_all")))
    wc = W.partitionBy().orderBy("decile")
    g = g.withColumn("cum_pos", F.sum("n_pos").over(wc))
    return g.select(
        "decile", "n", "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double"))
        .alias("resp_rate"),
        ((F.col("n_pos") * F.col("n_all")).cast("double")
         / (F.col("n") * F.col("n_pos_all")).cast("double")).alias("lift"),
        (F.col("cum_pos").cast("double")
         / F.col("n_pos_all").cast("double")).alias("cum_gain"))


LIFT_TABLE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang = 'en' AS pos,
         list_transform(
           list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''),
           t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 2001 - 1000
         ) AS ws
  FROM documents
),
s AS (
  SELECT doc_id, pos,
         CASE WHEN len(ws) = 0 THEN 0.0
              ELSE CAST(COALESCE(list_sum(ws), 0) AS DOUBLE) / len(ws)
         END AS score
  FROM d
),
t AS (
  SELECT pos, NTILE({LIFT_TILES}) OVER (ORDER BY score DESC, doc_id)
              AS decile
  FROM s
),
g AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM t GROUP BY decile
),
x AS (
  SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
         SUM(n_pos) OVER (ORDER BY decile) AS cum_pos,
         SUM(n) OVER () AS n_all, SUM(n_pos) OVER () AS n_pos_all
  FROM g
)
SELECT decile, n, n_pos,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS resp_rate,
       CAST(n_pos * n_all AS DOUBLE)
         / CAST(n * n_pos_all AS DOUBLE) AS lift,
       CAST(cum_pos AS DOUBLE) / CAST(n_pos_all AS DOUBLE) AS cum_gain
FROM x
"""


REGISTRATIONS = [
    ("auc_quality_docs", auc_quality_docs, AUC_QUALITY_ORACLE),
    ("calibration_bins_docs", calibration_bins_docs, CALIBRATION_ORACLE),
    ("retrieval_eval_bm25", retrieval_eval_bm25, _retrieval_eval_oracle()),
    ("lift_table_docs", lift_table_docs, LIFT_TABLE_ORACLE),
]


def isotonic_calibration_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the quality classifier —
    the PAV fit over the fixed-width score bins: the best
    non-decreasing positive-rate curve in weighted least squares,
    the standard post-hoc calibrator when the raw reliability
    diagram (``calibration_bins_docs``) is non-monotone.

    NOT the sequential pool-adjacent-violators loop: the engine uses
    the minimax characterization (Robertson–Wright–Dykstra),
    fit(i) = max_{j≤i} min_{k≥i} wmean(j..k), which is pure
    dims-sized relational algebra — bin prefix sums, a bins² pair
    table of weighted means (exact int÷int doubles), one running
    min per start bin (descending k), and the observation that the
    rows with k = i are exactly the (j ≤ i) candidates, so the outer
    max is a plain GROUP BY k. Identical IEEE values both engines:
    each wmean is one correctly-rounded division; min/max are exact
    comparisons.

    Scale: the corpus collapses to ≤21 bin rows in one
    map-side-combined pass (the calibration_bins shape); everything
    after runs on bins² ≤ 441 rows. The monotone fit is
    release-stable because the bins are fixed-width.

    Output: ``(bin, score_lo, n, n_pos, raw_rate, fit_rate)``.
    """
    return isotonic_closed_form(
        calibration_bin_counts(_scored_labeled(spark, sf_dir))
        .localCheckpoint(eager=False))   # dims; consumed twice


def calibration_bin_counts(scored: DataFrame) -> DataFrame:
    """Per-bin (count, positives) from a (score, pos) relation — the
    MERGEABLE sufficient statistic of the calibration family (plain
    sums over ≤21 fixed-width bins), shared by the batch isotonic fit
    and ``streaming.windows.stream_isotonic_calibration``."""
    b = F.floor(F.col("score") / CALIBRATION_BIN_W).cast("long")
    return (scored.groupBy(b.alias("bin"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("pos"), 1).otherwise(0))
                  .cast("long").alias("n_pos")))


def isotonic_closed_form(bins: DataFrame) -> DataFrame:
    """Finish the minimax isotonic fit from the bin counts (see
    isotonic_calibration_docs). ``bins`` must be materialized by the
    caller (it is consumed twice)."""
    from pyspark.sql import Window as W
    wp = W.orderBy("bin")
    pre = bins.select(
        "bin",
        F.sum("n").over(wp).alias("cn"),
        F.sum("n_pos").over(wp).alias("cp"))
    # prefix BEFORE j: shift by one bin (lag over dims rows)
    lagn = F.lag("cn", 1, 0).over(wp)
    lagp = F.lag("cp", 1, 0).over(wp)
    starts = pre.select(F.col("bin").alias("j"),
                        lagn.alias("cn_before"), lagp.alias("cp_before"))
    ends = pre.select(F.col("bin").alias("k"),
                      F.col("cn").alias("cn_k"), F.col("cp").alias("cp_k"))
    pairs = (starts.crossJoin(ends)
             .where(F.col("k") >= F.col("j"))
             .select("j", "k",
                     ((F.col("cp_k") - F.col("cp_before")).cast("double")
                      / (F.col("cn_k") - F.col("cn_before"))
                      .cast("double")).alias("wmean")))
    wk = (W.partitionBy("j").orderBy(F.col("k").desc())
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    rm = pairs.withColumn("rmin", F.min("wmean").over(wk))
    fit = (rm.groupBy(F.col("k").alias("bin"))
           .agg(F.max("rmin").alias("fit_rate")))
    return (bins.join(fit, "bin")
            .select("bin",
                    (F.col("bin") * CALIBRATION_BIN_W).alias("score_lo"),
                    "n", "n_pos",
                    (F.col("n_pos").cast("double")
                     / F.col("n").cast("double")).alias("raw_rate"),
                    "fit_rate"))


ISOTONIC_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang = 'en' AS pos,
         list_transform(
           list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''),
           t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 2001 - 1000
         ) AS ws
  FROM documents
),
s AS (
  SELECT doc_id, pos,
         CASE WHEN len(ws) = 0 THEN 0.0
              ELSE CAST(COALESCE(list_sum(ws), 0) AS DOUBLE) / len(ws)
         END AS score
  FROM d
),
bins AS (
  SELECT CAST(FLOOR(score / {CALIBRATION_BIN_W}) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM s GROUP BY 1
),
pre AS (
  SELECT bin, SUM(n) OVER (ORDER BY bin) AS cn,
         SUM(n_pos) OVER (ORDER BY bin) AS cp
  FROM bins
),
starts AS (
  SELECT bin AS j,
         COALESCE(LAG(cn) OVER (ORDER BY bin), 0) AS cn_before,
         COALESCE(LAG(cp) OVER (ORDER BY bin), 0) AS cp_before
  FROM pre
),
pairs AS (
  SELECT j, e.bin AS k,
         CAST(e.cp - cp_before AS DOUBLE)
           / CAST(e.cn - cn_before AS DOUBLE) AS wmean
  FROM starts, pre e WHERE e.bin >= j
),
rm AS (
  SELECT j, k,
         MIN(wmean) OVER (PARTITION BY j ORDER BY k DESC
                          ROWS UNBOUNDED PRECEDING) AS rmin
  FROM pairs
),
fit AS (SELECT k AS bin, MAX(rmin) AS fit_rate FROM rm GROUP BY k)
SELECT bins.bin, bins.bin * {CALIBRATION_BIN_W} AS score_lo, n, n_pos,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate, fit_rate
FROM bins JOIN fit USING (bin)
"""


REGISTRATIONS.append(("isotonic_calibration_docs",
                      isotonic_calibration_docs, ISOTONIC_ORACLE))
