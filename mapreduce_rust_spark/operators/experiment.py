"""Experimentation (A/B-test) analytics — the readout operators an
online-experiment platform runs at scale: difference-in-differences
estimation and CUPED variance reduction. Both follow the engine's
exact-sufficient-statistics discipline (integer cents, DECIMAL(38,0)
power sums, one fixed IEEE combination at the end — the stats_agg /
trend_ols recipe), so their float outputs hash-match the DuckDB
oracle bit-for-bit.

Treatment assignment is a deterministic hash of the unit id (even /
odd user_id here — the fixture has no experiment column; a real
platform swaps in its assignment table via the same broadcast-join
shape), and the pre/post split is the fixture midpoint. Both are
plan literals, so the whole readout is reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.tables import load_table

# fixture spans 2024-01-01 .. 2024-01-30; midpoint split
EXP_SPLIT = "2024-01-16"


def _cells(spark, sf_dir) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        (F.col("user_id") % 2 == 1).alias("treat"),
        (F.to_date("ts") >= F.lit(EXP_SPLIT).cast("date")).alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("vc"))


def did_estimate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: ΔΔ = (ȳ_treat,post − ȳ_treat,pre)
    − (ȳ_ctrl,post − ȳ_ctrl,pre) — the experiment readout that nets
    out both the group baseline and the common time trend. One
    partial+final aggregate to FOUR cells; each cell mean is one
    int÷int double division and the estimate is three subtractions
    in a fixed written order — nothing for an engine to re-associate.
    Output keeps the four cell means so the estimate is auditable."""
    cells = (_cells(spark, sf_dir)
             .groupBy("treat", "post")
             .agg(F.count("*").alias("n"), F.sum("vc").alias("s")))
    m = (cells.select("treat", "post",
                      (F.col("s").cast("double") / F.col("n").cast("double")
                       / 100.0).alias("mean"))
         .groupBy()
         .pivot("treat", [True, False])
         .agg(F.max(F.when(F.col("post"), F.col("mean"))).alias("post"),
              F.max(F.when(~F.col("post"), F.col("mean"))).alias("pre")))
    did = ((F.col("true_post") - F.col("true_pre"))
           - (F.col("false_post") - F.col("false_pre")))
    return m.select(
        F.col("true_pre").alias("treat_pre"),
        F.col("true_post").alias("treat_post"),
        F.col("false_pre").alias("ctrl_pre"),
        F.col("false_post").alias("ctrl_post"),
        did.alias("did"))


DID_ORACLE = f"""
WITH c AS (
  SELECT (user_id % 2 = 1) AS treat,
         (CAST(ts AS DATE) >= DATE '{EXP_SPLIT}') AS post,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
g AS (
  SELECT treat, post,
         CAST(SUM(vc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
           AS mean
  FROM c GROUP BY treat, post
),
p AS (
  SELECT
    MAX(CASE WHEN treat AND NOT post THEN mean END) AS treat_pre,
    MAX(CASE WHEN treat AND post THEN mean END) AS treat_post,
    MAX(CASE WHEN NOT treat AND NOT post THEN mean END) AS ctrl_pre,
    MAX(CASE WHEN NOT treat AND post THEN mean END) AS ctrl_post
  FROM g
)
SELECT treat_pre, treat_post, ctrl_pre, ctrl_post,
       (treat_post - treat_pre) - (ctrl_post - ctrl_pre) AS did
FROM p
"""


def cuped_adjusted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13): adjust each
    user's experiment-period metric by their PRE-period covariate,
    y' = y − θ(x − x̄) with θ = cov(x, y)/var(x), and report the
    variance-reduction ratio var(y′)/var(y) = 1 − ρ² per treatment
    arm — the sensitivity win every mature experiment platform takes
    before reading a result.

    Shapes: one per-user two-period aggregate (users with activity
    in BOTH periods enter — the standard CUPED population), then one
    per-arm power-sum aggregate (n, Σx, Σy, Σxy, Σx², Σy²) in
    DECIMAL(38,0), then θ, ρ², and the ratio as one fixed IEEE
    expression per arm (the stats_agg covar/var forms — no sqrt even,
    since 1 − ρ² needs only ratios of the already-portable
    subexpressions). Per-user means are exact int sums divided once."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.to_date("ts") >= F.lit(EXP_SPLIT).cast("date")).alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("vc"))
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(~F.col("post"), F.col("vc"))).alias("sx"),
                     F.sum(F.when(F.col("post"), F.col("vc"))).alias("sy"))
                .filter(F.col("sx").isNotNull() & F.col("sy").isNotNull())
                .select("user_id",
                        (F.col("user_id") % 2 == 1).alias("treat"),
                        F.col("sx").alias("x"), F.col("sy").alias("y")))
    dec = "decimal(38,0)"
    agg = (per_user.groupBy("treat")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("x").cast(dec)).alias("sx"),
                F.sum(F.col("y").cast(dec)).alias("sy"),
                F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
                F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sx2"),
                F.sum((F.col("y") * F.col("y")).cast(dec)).alias("sy2")))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2, sy2 = F.col("sx2").cast("double"), F.col("sy2").cast("double")
    var_x = (sx2 - sx * sx / n) / (n - 1)
    var_y = (sy2 - sy * sy / n) / (n - 1)
    covar = (sxy - sx * sy / n) / (n - 1)
    theta = covar / var_x
    rho2 = (covar / var_x) * (covar / var_y)
    return agg.select(
        "treat", "n",
        theta.alias("theta"),
        rho2.alias("rho2"),
        (F.lit(1.0) - rho2).alias("var_ratio"))


CUPED_ORACLE = f"""
WITH ev AS (
  SELECT user_id,
         (CAST(ts AS DATE) >= DATE '{EXP_SPLIT}') AS post,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
per_user AS (
  SELECT user_id, (user_id % 2 = 1) AS treat,
         SUM(CASE WHEN NOT post THEN vc END) AS x,
         SUM(CASE WHEN post THEN vc END) AS y
  FROM ev GROUP BY user_id
  HAVING SUM(CASE WHEN NOT post THEN vc END) IS NOT NULL
     AND SUM(CASE WHEN post THEN vc END) IS NOT NULL
),
agg AS (
  SELECT treat, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(38,0))) AS sx2,
         SUM(CAST(y * y AS DECIMAL(38,0))) AS sy2
  FROM per_user GROUP BY treat
)
SELECT treat, n,
       ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
           / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
         / ((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
               / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS theta,
       (((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
          / ((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)))
         * (((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
              / ((CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE)
                    * CAST(sy AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)))
         AS rho2,
       1.0 - (((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
                / ((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)
                      * CAST(sx AS DOUBLE)
                      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)))
             * (((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sy AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
                  / ((CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE)
                        * CAST(sy AS DOUBLE)
                        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)))
         AS var_ratio
FROM agg
"""


def mannwhitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between the treatment and
    control arms' event values — the nonparametric effect readout an
    experiment platform runs next to the mean-based DiD/CUPED pair
    (robust to the heavy-tailed metrics means choke on). Also reports
    the common-language effect size U/(n_t·n_c), which IS the ROC-AUC
    of "treatment value > control value".

    Exactness: midranks for a tied value group are half-integers, so
    everything is carried DOUBLED — for a group of c tied values with
    p values strictly below, 2·midrank = 2p + c + 1, and
    2·U = Σ c_t·(2p + c + 1) − n_t·(n_t + 1) is a pure BIGINT both
    engines compute identically; ``u`` and ``auc`` are one exact
    halving and one int÷int double division. int64 ceiling: r2t grows
    ~2N² and 2·n_t·n_c ~N²/2, so past ~2·10⁹ events move the sums to
    DECIMAL(38,0) (the χ²/CUPED pattern) — same documented bound as
    ``ks_drift_sources``.

    Scale shape: one partial+final aggregate collapses the corpus to
    per-distinct-value arm counts (cents grid ⇒ bounded dims table),
    one ordered cumsum over that dims table (single-partition window
    over dims rows, never the corpus — the KS/TV pattern), one final
    1-row aggregate. The corpus shuffles once.

    Output: ``(n_treat, n_ctrl, u2, u, auc)``.
    """
    return mw_closed_form(mw_value_counts(_cells(spark, sf_dir)))


def mw_value_counts(cells: DataFrame) -> DataFrame:
    """Per-distinct-value arm counts — the MERGEABLE sufficient
    statistic (plain sums, so the streaming twin maintains it as one
    complete-mode aggregate)."""
    return (cells.groupBy("vc")
            .agg(F.sum(F.when(F.col("treat"), 1).otherwise(0))
                 .cast("long").alias("ct"),
                 F.sum(F.when(~F.col("treat"), 1).otherwise(0))
                 .cast("long").alias("cc")))


def mw_closed_form(cnt: DataFrame) -> DataFrame:
    """Finish U/AUC from the (vc, ct, cc) counts table — shared by
    the batch op and ``streaming.windows.stream_mannwhitney``."""
    from pyspark.sql import Window as W
    t = (cnt.withColumn("c", F.col("ct") + F.col("cc"))
            .withColumn("cum", F.sum("c").over(W.orderBy("vc")))
            .withColumn("p", F.col("cum") - F.col("c")))
    agg = t.agg(
        F.sum(F.col("ct") * (2 * F.col("p") + F.col("c") + 1))
         .cast("long").alias("r2t"),
        F.sum("ct").cast("long").alias("n_treat"),
        F.sum("cc").cast("long").alias("n_ctrl"))
    u2 = F.col("r2t") - F.col("n_treat") * (F.col("n_treat") + 1)
    return agg.select(
        "n_treat", "n_ctrl", u2.cast("long").alias("u2"),
        (u2.cast("double") / F.lit(2.0)).alias("u"),
        (u2.cast("double")
         / (2 * F.col("n_treat") * F.col("n_ctrl")).cast("double"))
        .alias("auc"))


MANNWHITNEY_ORACLE = f"""
WITH c AS (
  SELECT (user_id % 2 = 1) AS treat,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
cnt AS (
  SELECT vc,
         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS cc
  FROM c GROUP BY vc
),
t AS (
  SELECT vc, ct, cc, ct + cc AS cgrp,
         SUM(ct + cc) OVER (ORDER BY vc) - (ct + cc) AS p
  FROM cnt
),
agg AS (
  SELECT CAST(SUM(ct * (2 * p + cgrp + 1)) AS BIGINT) AS r2t,
         CAST(SUM(ct) AS BIGINT) AS n_treat,
         CAST(SUM(cc) AS BIGINT) AS n_ctrl
  FROM t
)
SELECT n_treat, n_ctrl,
       CAST(r2t - n_treat * (n_treat + 1) AS BIGINT) AS u2,
       CAST(r2t - n_treat * (n_treat + 1) AS DOUBLE) / 2.0 AS u,
       CAST(r2t - n_treat * (n_treat + 1) AS DOUBLE)
         / CAST(2 * n_treat * n_ctrl AS DOUBLE) AS auc
FROM agg
"""


def strat_effect_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified treatment effects: per-stratum (ISO weekday)
    arm counts, arm means, effect, and stratum weight — the
    stratified readout that removes day-of-week composition bias from
    a raw arm comparison (the classic post-stratification estimator;
    the overall ATE is Σ weight·effect, left to the reader because a
    cross-stratum FLOAT sum is exactly the order-sensitive reduction
    this engine refuses to hash-check — every number emitted here is
    one int÷int division or one subtraction of two such).

    Scale: one partial+final aggregate to 7×2 cells, then dims
    arithmetic with a 1-row broadcast total. An empty arm in a
    stratum yields honest NULL mean/effect (guarded identically in
    the oracle).

    Output: ``(dow, n_treat, n_ctrl, mean_treat, mean_ctrl, effect,
    weight)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return strat_effect_closed_form(strat_effect_cells(ev))


def strat_effect_cells(ev: DataFrame) -> DataFrame:
    """The 7×2 mergeable cell sums of the post-stratified readout —
    shared by the batch op and its complete-mode streaming twin."""
    return (ev.select((F.weekday("ts") + 1).cast("long").alias("dow"),
                      (F.col("user_id") % 2 == 1).alias("treat"),
                      F.round(F.col("value") * 100).cast("long")
                      .alias("vc"))
            .groupBy("dow")
            .agg(F.sum(F.when(F.col("treat"), 1).otherwise(0))
                 .cast("long").alias("n_treat"),
                 F.sum(F.when(~F.col("treat"), 1).otherwise(0))
                 .cast("long").alias("n_ctrl"),
                 F.sum(F.when(F.col("treat"), F.col("vc"))
                       .otherwise(0)).alias("st"),
                 F.sum(F.when(~F.col("treat"), F.col("vc"))
                       .otherwise(0)).alias("sc")))


def strat_effect_closed_form(cells: DataFrame) -> DataFrame:
    """Effects/weights from the (dow, n_treat, n_ctrl, st, sc) cell
    table — see ``strat_effect_events`` for exactness notes."""
    tot = cells.agg(F.sum(F.col("n_treat") + F.col("n_ctrl"))
                    .cast("long").alias("n_all"))
    mt = F.when(F.col("n_treat") > 0,
                F.col("st").cast("double")
                / F.col("n_treat").cast("double") / 100.0)
    mc = F.when(F.col("n_ctrl") > 0,
                F.col("sc").cast("double")
                / F.col("n_ctrl").cast("double") / 100.0)
    return (cells.crossJoin(F.broadcast(tot))
            .select("dow", "n_treat", "n_ctrl",
                    mt.alias("mean_treat"), mc.alias("mean_ctrl"),
                    (mt - mc).alias("effect"),
                    ((F.col("n_treat") + F.col("n_ctrl")).cast("double")
                     / F.col("n_all").cast("double")).alias("weight")))


STRAT_EFFECT_ORACLE = """
WITH c AS (
  SELECT CAST(isodow(ts) AS BIGINT) AS dow,
         (user_id % 2 = 1) AS treat,
         CAST(round(value * 100, 0) AS BIGINT) AS vc
  FROM events
),
cells AS (
  SELECT dow,
         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT)
           AS n_ctrl,
         CAST(SUM(CASE WHEN treat THEN vc ELSE 0 END) AS BIGINT) AS st,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE vc END) AS BIGINT) AS sc
  FROM c GROUP BY dow
),
tot AS (SELECT CAST(SUM(n_treat + n_ctrl) AS BIGINT) AS n_all
        FROM cells)
SELECT dow, n_treat, n_ctrl,
       CASE WHEN n_treat > 0
            THEN CAST(st AS DOUBLE) / CAST(n_treat AS DOUBLE) / 100.0
       END AS mean_treat,
       CASE WHEN n_ctrl > 0
            THEN CAST(sc AS DOUBLE) / CAST(n_ctrl AS DOUBLE) / 100.0
       END AS mean_ctrl,
       (CASE WHEN n_treat > 0
             THEN CAST(st AS DOUBLE) / CAST(n_treat AS DOUBLE) / 100.0
        END)
       - (CASE WHEN n_ctrl > 0
               THEN CAST(sc AS DOUBLE) / CAST(n_ctrl AS DOUBLE) / 100.0
          END) AS effect,
       CAST(n_treat + n_ctrl AS DOUBLE) / CAST(tot.n_all AS DOUBLE)
         AS weight
FROM cells, tot
"""


def two_proportion_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user-level conversion (did the user
    ever 'purchase') between experiment arms — the readout for BINARY
    outcomes, completing the wing's continuous (Mann–Whitney, DiD,
    CUPED) and stratified (strat_effect) views. Pooled-variance form:
    z = (p₁ − p₂) / √(p̂(1−p̂)(1/n₁ + 1/n₂)).

    Exactness: the inputs are four exact integers (arm sizes,
    converters — one distinct-user aggregate); every float is then a
    correctly-rounded single op in one FIXED expression tree written
    identically in the oracle, so z hash-matches bit-for-bit. A
    degenerate pool (p̂ ∈ {0, 1} → se = 0) yields an honest NULL
    pinned in both engines. Scale: one user-grain aggregate (distinct
    users + converters fold to per-user rows first), then 1-row
    arithmetic.

    Output: one row ``(n_treat, n_ctrl, conv_treat, conv_ctrl,
    p_treat, p_ctrl, z)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return two_prop_closed_form(two_prop_user_conv(ev))


def two_prop_user_conv(ev: DataFrame) -> DataFrame:
    """Per-user conversion flags — the mergeable (max is idempotent)
    state shared by the batch op and its complete-mode streaming
    twin. State is user-dims-sized (one bit per user), the
    stream_dedup_users shape."""
    return (ev.groupBy("user_id")
            .agg(F.max((F.col("event_type") == "purchase").cast("int"))
                 .alias("conv")))


def two_prop_closed_form(user_conv: DataFrame) -> DataFrame:
    """z-test arithmetic from the (user_id, conv) table — see
    ``two_proportion_test_events`` for the exactness argument."""
    users = user_conv.select((F.col("user_id") % 2 == 1).alias("treat"),
                             "conv")
    g = users.agg(
        F.sum(F.when(F.col("treat"), 1).otherwise(0)).cast("long")
         .alias("n_treat"),
        F.sum(F.when(~F.col("treat"), 1).otherwise(0)).cast("long")
         .alias("n_ctrl"),
        F.sum(F.when(F.col("treat"), F.col("conv")).otherwise(0))
         .cast("long").alias("conv_treat"),
        F.sum(F.when(~F.col("treat"), F.col("conv")).otherwise(0))
         .cast("long").alias("conv_ctrl"))
    n1 = F.col("n_treat").cast("double")
    n2 = F.col("n_ctrl").cast("double")
    p1 = F.col("conv_treat").cast("double") / n1
    p2 = F.col("conv_ctrl").cast("double") / n2
    phat = ((F.col("conv_treat") + F.col("conv_ctrl")).cast("double")
            / (F.col("n_treat") + F.col("n_ctrl")).cast("double"))
    se = F.sqrt(phat * (F.lit(1.0) - phat) * (F.lit(1.0) / n1
                                              + F.lit(1.0) / n2))
    return g.select("n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
                    p1.alias("p_treat"), p2.alias("p_ctrl"),
                    F.when(se > 0, (p1 - p2) / se).alias("z"))


TWO_PROP_ORACLE = """
WITH users AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS conv,
         (user_id % 2 = 1) AS treat
  FROM events GROUP BY user_id
),
g AS (
  SELECT CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT)
           AS n_ctrl,
         CAST(SUM(CASE WHEN treat THEN conv ELSE 0 END) AS BIGINT)
           AS conv_treat,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE conv END) AS BIGINT)
           AS conv_ctrl
  FROM users
)
SELECT n_treat, n_ctrl, conv_treat, conv_ctrl,
       CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE) AS p_treat,
       CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE) AS p_ctrl,
       CASE WHEN sqrt((CAST(conv_treat + conv_ctrl AS DOUBLE)
                       / CAST(n_treat + n_ctrl AS DOUBLE))
                      * (1.0 - CAST(conv_treat + conv_ctrl AS DOUBLE)
                               / CAST(n_treat + n_ctrl AS DOUBLE))
                      * (1.0 / CAST(n_treat AS DOUBLE)
                         + 1.0 / CAST(n_ctrl AS DOUBLE))) > 0
            THEN (CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
                  - CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE))
                 / sqrt((CAST(conv_treat + conv_ctrl AS DOUBLE)
                         / CAST(n_treat + n_ctrl AS DOUBLE))
                        * (1.0 - CAST(conv_treat + conv_ctrl AS DOUBLE)
                                 / CAST(n_treat + n_ctrl AS DOUBLE))
                        * (1.0 / CAST(n_treat AS DOUBLE)
                           + 1.0 / CAST(n_ctrl AS DOUBLE)))
       END AS z
FROM g
"""


REGISTRATIONS = [
    ("did_estimate_events", did_estimate_events, DID_ORACLE),
    ("cuped_adjusted_events", cuped_adjusted_events, CUPED_ORACLE),
    ("mannwhitney_events", mannwhitney_events, MANNWHITNEY_ORACLE),
    ("strat_effect_events", strat_effect_events, STRAT_EFFECT_ORACLE),
    ("two_proportion_test_events", two_proportion_test_events,
     TWO_PROP_ORACLE),
]


def winsorized_closed_form(cnt: DataFrame) -> DataFrame:
    """Finish the winsorized treatment-effect readout from the
    (vc, ct, cc) per-distinct-value arm counts — SHARED with
    ``streaming.windows.stream_winsorized_delta`` (the counts are the
    same mergeable sufficient statistic as Mann–Whitney's).

    Winsorization bounds are exact pooled order statistics via the
    engine's selection convention (funnel median / percentile_exact):
    lo = min value whose pooled cumulative count reaches ⌈n/20⌉
    (P5), hi = likewise at ⌈19n/20⌉ (P95). Every distinct value
    clips to [lo, hi]; arm means over clipped cents are exact integer
    sums with ONE int÷int double division each, and the effect is
    their difference — the same three-op IEEE DAG both engines run.

    int64 ceiling: Σ count·|clipped cents| < 2⁵³ holds through ~10¹⁰
    events at fixture value scales; past that move the two sums to
    DECIMAL(38,0) (stats_agg discipline)."""
    from pyspark.sql import Window as W
    t = (cnt.withColumn("c", F.col("ct") + F.col("cc"))
            .withColumn("cum", F.sum("c").over(W.orderBy("vc"))))
    n1 = t.agg(F.sum("c").cast("long").alias("n"))
    bounds = (t.crossJoin(F.broadcast(n1))
              .agg(F.min(F.when(F.col("cum") * 20 >= F.col("n"),
                                F.col("vc"))).alias("lo"),
                   F.min(F.when(F.col("cum") * 20 >= 19 * F.col("n"),
                                F.col("vc"))).alias("hi")))
    clipped = (cnt.crossJoin(F.broadcast(bounds))
               .withColumn("w", F.least(F.greatest(F.col("vc"),
                                                   F.col("lo")),
                                        F.col("hi"))))
    agg = clipped.agg(
        F.sum("ct").cast("long").alias("n_treat"),
        F.sum("cc").cast("long").alias("n_ctrl"),
        F.sum(F.col("ct") * F.col("w")).cast("long").alias("st"),
        F.sum(F.col("cc") * F.col("w")).cast("long").alias("sc"),
        F.min("lo").cast("long").alias("lo_c"),
        F.min("hi").cast("long").alias("hi_c"))
    mt = F.col("st").cast("double") / F.col("n_treat").cast("double")
    mc = F.col("sc").cast("double") / F.col("n_ctrl").cast("double")
    return agg.select("n_treat", "n_ctrl", "lo_c", "hi_c",
                      mt.alias("mean_treat_w"), mc.alias("mean_ctrl_w"),
                      (mt - mc).alias("delta_w"))


def winsorized_mean_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (P5/P95-clipped) mean treatment effect — the robust
    companion to the raw-mean DiD and the rank-based Mann–Whitney: a
    single whale value can swamp a raw mean delta; clipping at exact
    pooled percentiles bounds any one unit's leverage while keeping
    the estimate in value units (which ranks discard).

    Scale shape: identical to Mann–Whitney — the corpus collapses
    once to per-distinct-value arm counts (cents grid ⇒ bounded dims
    table); the cumulative window, bounds, clipping and final means
    all run on that dims table. One corpus shuffle total.

    Output: ``(n_treat, n_ctrl, lo_c, hi_c, mean_treat_w,
    mean_ctrl_w, delta_w)``.
    """
    return winsorized_closed_form(mw_value_counts(_cells(spark, sf_dir)))


WINSORIZED_ORACLE = """
WITH c AS (
  SELECT (user_id % 2 = 1) AS treat,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
cnt AS (
  SELECT vc,
         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS cc
  FROM c GROUP BY vc
),
t AS (SELECT vc, ct, cc, ct + cc AS cgrp,
             SUM(ct + cc) OVER (ORDER BY vc) AS cum
      FROM cnt),
n1 AS (SELECT CAST(SUM(cgrp) AS BIGINT) AS n FROM t),
bounds AS (
  SELECT MIN(CASE WHEN cum * 20 >= n THEN vc END) AS lo,
         MIN(CASE WHEN cum * 20 >= 19 * n THEN vc END) AS hi
  FROM t, n1
),
clipped AS (
  SELECT ct, cc, LEAST(GREATEST(vc, lo), hi) AS w, lo, hi
  FROM cnt, bounds
),
agg AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS n_treat,
         CAST(SUM(cc) AS BIGINT) AS n_ctrl,
         CAST(SUM(ct * w) AS BIGINT) AS st,
         CAST(SUM(cc * w) AS BIGINT) AS sc,
         CAST(MIN(lo) AS BIGINT) AS lo_c,
         CAST(MIN(hi) AS BIGINT) AS hi_c
  FROM clipped
)
SELECT n_treat, n_ctrl, lo_c, hi_c,
       CAST(st AS DOUBLE) / CAST(n_treat AS DOUBLE) AS mean_treat_w,
       CAST(sc AS DOUBLE) / CAST(n_ctrl AS DOUBLE) AS mean_ctrl_w,
       CAST(st AS DOUBLE) / CAST(n_treat AS DOUBLE)
         - CAST(sc AS DOUBLE) / CAST(n_ctrl AS DOUBLE) AS delta_w
FROM agg
"""


PROPENSITY_TILES = 10


def propensity_strata_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-stratified outcome contrast — the observational
    cousin of ``strat_effect_events``: units (users) are stratified
    into activity-volume DECILES (event count as the propensity
    proxy), and the treated/control outcome means are contrasted
    WITHIN each stratum, so a volume-confounded comparison ("treated
    users are simply more active") is read off per-stratum instead of
    pooled. Per-stratum rows only — no cross-stratum float sum, so
    every output value is two exact integer sums and one IEEE
    subtraction of int÷int divisions.

    Scale: the corpus collapses to USER grain first (one map-side
    combined aggregate); the decile rank over users is the two-phase
    ``ranking.scalable_rank`` decomposition (sub-sharded on the event
    count itself — order-preserving — so no global user-sized window
    exists in the plan) + the closed-form ``ntile_expr``; the oracle
    uses the naive NTILE window, so hash equality is again the
    decomposition proof.

    Output: ``(stratum, n_treat, n_ctrl, mean_treat, mean_ctrl,
    effect)`` — strata with a missing arm report NULL means/effect.
    """
    from mapreduce_rust_spark.operators.ranking import (
        ntile_expr, scalable_rank)
    ev = load_table(spark, sf_dir, "events")
    users = (ev.groupBy("user_id")
             .agg(F.count("*").alias("n_ev"),
                  F.sum(F.round(F.col("value") * 100).cast("long"))
                   .alias("out_c"))
             .withColumn("treat", F.col("user_id") % 2 == 1)
             .localCheckpoint(eager=False))  # consumed twice by the rank
    totals = users.agg(F.count("*").alias("n"))
    ranked = (scalable_rank(users, F.col("n_ev"), ["n_ev", "user_id"])
              .crossJoin(F.broadcast(totals)))
    tiled = ranked.withColumn("stratum",
                              ntile_expr(PROPENSITY_TILES).cast("long"))
    g = (tiled.groupBy("stratum")
         .agg(F.sum(F.when(F.col("treat"), 1).otherwise(0))
              .cast("long").alias("n_treat"),
              F.sum(F.when(~F.col("treat"), 1).otherwise(0))
              .cast("long").alias("n_ctrl"),
              F.sum(F.when(F.col("treat"), F.col("out_c"))
                    .otherwise(0)).cast("long").alias("st"),
              F.sum(F.when(~F.col("treat"), F.col("out_c"))
                    .otherwise(0)).cast("long").alias("sc")))
    mt = F.when(F.col("n_treat") > 0,
                F.col("st").cast("double")
                / F.col("n_treat").cast("double"))
    mc = F.when(F.col("n_ctrl") > 0,
                F.col("sc").cast("double")
                / F.col("n_ctrl").cast("double"))
    return g.select("stratum", "n_treat", "n_ctrl",
                    mt.alias("mean_treat"), mc.alias("mean_ctrl"),
                    (mt - mc).alias("effect"))


PROPENSITY_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_ev,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS out_c,
         (user_id % 2 = 1) AS treat
  FROM events GROUP BY user_id
),
tiled AS (
  SELECT *, CAST(NTILE({PROPENSITY_TILES})
                 OVER (ORDER BY n_ev, user_id) AS BIGINT) AS stratum
  FROM u
),
g AS (
  SELECT stratum,
         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT)
           AS n_ctrl,
         CAST(SUM(CASE WHEN treat THEN out_c ELSE 0 END) AS BIGINT)
           AS st,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE out_c END) AS BIGINT)
           AS sc
  FROM tiled GROUP BY stratum
)
SELECT stratum, n_treat, n_ctrl,
       CASE WHEN n_treat > 0
            THEN CAST(st AS DOUBLE) / CAST(n_treat AS DOUBLE) END
         AS mean_treat,
       CASE WHEN n_ctrl > 0
            THEN CAST(sc AS DOUBLE) / CAST(n_ctrl AS DOUBLE) END
         AS mean_ctrl,
       CASE WHEN n_treat > 0 AND n_ctrl > 0
            THEN CAST(st AS DOUBLE) / CAST(n_treat AS DOUBLE)
                 - CAST(sc AS DOUBLE) / CAST(n_ctrl AS DOUBLE) END
         AS effect
FROM g
"""


REGISTRATIONS.append(("winsorized_mean_delta", winsorized_mean_delta,
                      WINSORIZED_ORACLE))
REGISTRATIONS.append(("propensity_strata_events", propensity_strata_events,
                      PROPENSITY_ORACLE))


def median_sign_closed_form(cnt: DataFrame) -> DataFrame:
    """Finish Mood's median test from the (vc, ct, cc) counts table —
    shared by the batch op and ``streaming.windows.
    stream_median_sign_test``. Pooled median = the k-th order
    statistic with k = (n+1) DIV 2, selected as the smallest value
    whose cumulative count reaches k (pure integers, no midpoint
    averaging — the selection convention both engines share)."""
    from pyspark.sql import Window as W
    t = (cnt.withColumn("c", F.col("ct") + F.col("cc"))
            .withColumn("cum", F.sum("c").over(W.orderBy("vc"))))
    tot = t.agg(F.sum("c").cast("long").alias("n"))
    med = (t.crossJoin(F.broadcast(tot))
            .where(F.col("cum") >= F.expr("(n + 1) DIV 2"))
            .agg(F.min("vc").alias("median_c")))
    j = cnt.crossJoin(F.broadcast(med))
    agg = j.agg(
        F.sum(F.when(F.col("vc") > F.col("median_c"), F.col("ct"))
               .otherwise(0)).cast("long").alias("t_above"),
        F.sum(F.when(F.col("vc") < F.col("median_c"), F.col("ct"))
               .otherwise(0)).cast("long").alias("t_below"),
        F.sum(F.when(F.col("vc") == F.col("median_c"), F.col("ct"))
               .otherwise(0)).cast("long").alias("t_eq"),
        F.sum(F.when(F.col("vc") > F.col("median_c"), F.col("cc"))
               .otherwise(0)).cast("long").alias("c_above"),
        F.sum(F.when(F.col("vc") < F.col("median_c"), F.col("cc"))
               .otherwise(0)).cast("long").alias("c_below"),
        F.sum(F.when(F.col("vc") == F.col("median_c"), F.col("cc"))
               .otherwise(0)).cast("long").alias("c_eq"),
        F.max("median_c").alias("median_c"))
    return agg.select(
        "median_c", "t_above", "t_below", "t_eq",
        "c_above", "c_below", "c_eq",
        F.expr("t_above * 10000 DIV (t_above + t_below + t_eq)")
         .alias("t_above_bp"),
        F.expr("c_above * 10000 DIV (c_above + c_below + c_eq)")
         .alias("c_above_bp"))


def median_sign_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test between the treatment and control arms —
    the coarsest, most outlier-proof effect readout (answers "did the
    treatment shift the middle of the distribution" with nothing but
    counts above/below the POOLED median; the companion the
    Mann–Whitney U gets cross-checked against when tails are wild).

    Exactness: the pooled median is an exact order statistic on the
    cents grid; every output is a count or an integer-DIV basis
    point — no float anywhere.

    Scale shape: identical to ``mannwhitney_events`` — the corpus
    collapses to per-distinct-value arm counts in one
    partial+final aggregate (the mergeable cells the streaming twin
    maintains), then one dims-sized cumsum and two 1-row reductions.

    Output: ``(median_c, t_above, t_below, t_eq, c_above, c_below,
    c_eq, t_above_bp, c_above_bp)``.
    """
    return median_sign_closed_form(mw_value_counts(_cells(spark, sf_dir)))


MEDIAN_SIGN_ORACLE = """
WITH c AS (
  SELECT (user_id % 2 = 1) AS treat,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
cnt AS (
  SELECT vc,
         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS cc
  FROM c GROUP BY vc
),
t AS (
  SELECT vc, ct, cc,
         SUM(ct + cc) OVER (ORDER BY vc) AS cum
  FROM cnt
),
tot AS (SELECT CAST(SUM(ct + cc) AS BIGINT) AS n FROM cnt),
med AS (
  SELECT MIN(vc) AS median_c FROM t, tot
  WHERE cum >= (n + 1) // 2
),
agg AS (
  SELECT MAX(median_c) AS median_c,
         CAST(SUM(CASE WHEN vc > median_c THEN ct ELSE 0 END) AS BIGINT)
           AS t_above,
         CAST(SUM(CASE WHEN vc < median_c THEN ct ELSE 0 END) AS BIGINT)
           AS t_below,
         CAST(SUM(CASE WHEN vc = median_c THEN ct ELSE 0 END) AS BIGINT)
           AS t_eq,
         CAST(SUM(CASE WHEN vc > median_c THEN cc ELSE 0 END) AS BIGINT)
           AS c_above,
         CAST(SUM(CASE WHEN vc < median_c THEN cc ELSE 0 END) AS BIGINT)
           AS c_below,
         CAST(SUM(CASE WHEN vc = median_c THEN cc ELSE 0 END) AS BIGINT)
           AS c_eq
  FROM cnt, med
)
SELECT median_c, t_above, t_below, t_eq, c_above, c_below, c_eq,
       t_above * 10000 // (t_above + t_below + t_eq) AS t_above_bp,
       c_above * 10000 // (c_above + c_below + c_eq) AS c_above_bp
FROM agg
"""


REGISTRATIONS.append(("median_sign_test_events", median_sign_test_events,
                      MEDIAN_SIGN_ORACLE))


SRM_CRIT_1DF = 3.841   # chi-square 95% critical value, 1 df


def srm_arm_counts(ev: DataFrame) -> DataFrame:
    """Mergeable cells for the SRM check: event traffic per
    (event_type, arm) with the engine-standard ``user_id % 2``
    assignment — one map-side-combinable count, dims-sized state in
    the streaming twin (types × 2 arms)."""
    return (ev.select("event_type",
                      (F.col("user_id") % 2 == 1).alias("treat"))
            .groupBy("event_type", "treat")
            .agg(F.count("*").cast("long").alias("c")))


def srm_closed_form(cells: DataFrame) -> DataFrame:
    """Chi-square SRM statistic from the arm-count cells. For two
    arms at an expected 50/50 split the statistic collapses to
    χ² = (n_treat − n_ctrl)² / n — one exact-integer square over one
    int÷int IEEE division, bit-equal across engines; the flag
    compares that double to the same 3.841 literal on both sides."""
    p = (cells.groupBy("event_type")
         .agg(F.sum(F.when(F.col("treat"), F.col("c")).otherwise(0))
              .cast("long").alias("n_treat"),
              F.sum(F.when(~F.col("treat"), F.col("c")).otherwise(0))
              .cast("long").alias("n_ctrl")))
    return p.select(
        "event_type", "n_treat", "n_ctrl",
        (F.col("n_treat") - F.col("n_ctrl")).cast("long").alias("delta"),
        F.expr("CAST((n_treat - n_ctrl) * (n_treat - n_ctrl) AS DOUBLE)"
               " / CAST(n_treat + n_ctrl AS DOUBLE)").alias("chi2"),
        (F.expr("CAST((n_treat - n_ctrl) * (n_treat - n_ctrl) AS DOUBLE)"
                " / CAST(n_treat + n_ctrl AS DOUBLE)")
         > F.lit(SRM_CRIT_1DF)).alias("srm_flag"))


def srm_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (Fabijan et al. 2019 — the
    standard trustworthiness gate every experimentation platform runs
    BEFORE reading any metric): is per-type traffic split across the
    two ``user_id % 2`` arms consistent with the designed 50/50
    ratio? A significant chi-square here means broken randomization,
    bot skew, or logging loss — every downstream effect estimate
    (DiD, CUPED, Mann–Whitney, the two-proportion z) is then invalid,
    which is why the guardrail belongs next to them in the engine.

    Exactness: counts are exact longs; for 2 cells at expected N/2
    the chi-square reduces to (n_t − n_c)²/N — a single int÷int IEEE
    division, so both engines produce the bit-identical double and
    the identical flag. Scale: one map-side-combinable count per
    (type, arm); the closed form runs on the dims grid.

    Output: ``(event_type, n_treat, n_ctrl, delta, chi2, srm_flag)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return srm_closed_form(srm_arm_counts(ev))


SRM_ORACLE = f"""
WITH cells AS (
  SELECT event_type, (user_id % 2 = 1) AS treat,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN treat THEN c ELSE 0 END) AS BIGINT)
           AS n_treat,
         CAST(SUM(CASE WHEN NOT treat THEN c ELSE 0 END) AS BIGINT)
           AS n_ctrl
  FROM cells GROUP BY event_type
)
SELECT event_type, n_treat, n_ctrl,
       CAST(n_treat - n_ctrl AS BIGINT) AS delta,
       CAST((n_treat - n_ctrl) * (n_treat - n_ctrl) AS DOUBLE)
         / CAST(n_treat + n_ctrl AS DOUBLE) AS chi2,
       CAST((n_treat - n_ctrl) * (n_treat - n_ctrl) AS DOUBLE)
         / CAST(n_treat + n_ctrl AS DOUBLE) > {SRM_CRIT_1DF} AS srm_flag
FROM p
"""


REGISTRATIONS.append(("srm_check_events", srm_check_events, SRM_ORACLE))


def kw_value_counts(ev: DataFrame) -> DataFrame:
    """Mergeable cells for the Kruskal–Wallis test: per-(group,
    distinct cents value) counts — plain sums, so the streaming twin
    maintains them as one complete-mode aggregate (state = groups ×
    cents grid, the same dims bound as ``mw_value_counts``)."""
    return (ev.groupBy("event_type", "vc")
            .agg(F.count("*").cast("long").alias("c")))


def kruskal_wallis_closed_form(cnt: DataFrame) -> DataFrame:
    """Finish the tie-corrected Kruskal–Wallis H from the
    (event_type, vc, c) counts table — shared by the batch op and
    ``streaming.windows.stream_kruskal_wallis``.

    Doubled-midrank identity (the ``mannwhitney_events`` trick, k
    groups instead of 2): for the pooled tied group at value v with
    count cp and p values strictly below, 2·midrank = 2p + cp + 1,
    so the per-group doubled rank sum R2_g = Σ c_g·(2p + cp + 1) is
    a pure integer. With R_g = R2_g/2,
    H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1)
      = Σ_g [3·R2_g² / (n_g·N(N+1))] − 3(N+1),
    reported as integer ppm: one floor-DIV PER GROUP with the full
    n_g·N(N+1) divisor, summed, minus the exact 3·10⁶(N+1). The
    per-group division (not Σ(R2²/n_g) first) is load-bearing at
    scale: Spark's decimal DIV yields a BIGINT quotient, and
    R2²/n_g ~ N²·n_g blows past int64 at ~10⁷ events (measured —
    the ×100 fixture ANSI-errored the earlier form), while the full
    divisor keeps quotients at ~3·10⁶·n_g. Floor cost ≤ 1 ppm per
    group, identical in both engines; GREATEST(0, ·) guards the
    near-zero-H case where trunc-vs-floor on a negative value could
    differ. Tie correction divides by 1 − Σ(cp³−cp)/(N³−N), one
    more integer ratio.

    Single pass: one window ordered by vc reads cp (range frame
    [0, 0], the pooled count at the row's value) and p (range frame
    [unbounded, −1], the pooled count strictly below) onto every
    cell, then ONE per-group aggregate collects n_g, R2_g and the
    tie term ct3_g = Σ c·(cp² − 1). The tie identity: the cells at
    one value v sum to cp, so Σ_rows c·(cp² − 1) = cp·(cp² − 1)
    = cp³ − cp — the pooled tie term, summed per group and then
    across groups. N, k and ct3 are
    ``over ()`` sums on the k-row per-group table. No join, no cross
    join, no driver collect; the only single-partition sort is the
    cells grid (groups × cents, bounded by the dims).

    int128 ceiling: 3·10⁶·R2_g² is the tall pole — fits DECIMAL(38)/
    HUGEINT while R2_g < ~5·10¹⁵ (≈ n_g·N < 3·10¹⁵, i.e. ~10⁸
    balanced events); beyond that, split R2_g into hi/lo limbs
    before squaring (documented, not needed at any test SF)."""
    from pyspark.sql import Window as W
    w = W.orderBy("vc")
    ranked = cnt.select(
        "event_type", "c",
        F.sum("c").over(w.rangeBetween(0, 0)).alias("cp"),
        F.coalesce(F.sum("c").over(w.rangeBetween(W.unboundedPreceding,
                                                   -1)),
                   F.lit(0)).alias("p"))
    per_g = ranked.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.col("c") * (2 * F.col("p") + F.col("cp") + 1))
         .cast("decimal(38,0)").alias("r2_g"),
        F.sum(F.expr("c * (CAST(cp AS DECIMAL(38,0)) * cp - 1)"))
         .cast("decimal(38,0)").alias("ct3_g"))
    every = W.partitionBy()
    tg = (per_g.select(
              "n_g", "r2_g",
              F.sum("n_g").over(every).cast("decimal(38,0)").alias("n"),
              F.count("*").over(every).cast("long").alias("k"),
              F.sum("ct3_g").over(every).cast("decimal(38,0)")
               .alias("ct3"))
          .select("n", "k", "ct3",
                  F.expr("CAST(3000000 * CAST(r2_g * r2_g "
                         "AS DECIMAL(38,0)) "
                         "DIV (n_g * n * (n + 1)) AS DECIMAL(38,0))")
                   .alias("t_g")))
    agg = tg.groupBy("n", "k", "ct3").agg(
        F.sum("t_g").cast("decimal(38,0)").alias("hsum"))
    h = ("CAST(GREATEST(CAST(0 AS DECIMAL(38,0)), "
         "hsum - 3000000 * (n + 1)) AS DECIMAL(38,0))")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").alias("k"),
        F.col("ct3").cast("long").alias("tie_c3"),
        F.expr(f"CAST({h} AS BIGINT)").alias("h_ppm"),
        # all-tied corpus: ct3 = n³−n zeroes the tie
        # divisor — H is undefined there, NULL both engines
        F.expr(f"CAST(CASE WHEN n * n * n - n - ct3 > 0 "
               f"THEN {h} * (n * n * n - n) "
               "DIV (n * n * n - n - ct3) END AS BIGINT)")
         .alias("h_adj_ppm"))


def kruskal_wallis_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kruskal–Wallis H across the event-type groups —
    the k-sample generalization of ``mannwhitney_events`` (one rank
    test over ALL arms instead of k² pairwise U tests; the standard
    first readout when an experiment has more than two variants or a
    metric is compared across k segments).

    Exactness: doubled midranks keep every rank sum integer (see
    ``kruskal_wallis_closed_form``); H and its tie-corrected form
    are floor-DIV ppm computed by the identical integer chain in
    both engines — no float anywhere.

    Scale shape: the corpus collapses to per-(group, distinct cents
    value) counts in one partial+final aggregate (the mergeable cells
    the streaming twin maintains), then a single pass over that grid:
    one window ordered by value (pooled tie count and count below on
    every cell), one per-group aggregate, and a k-row readout. One
    shuffle of the corpus, no join; everything after runs on the
    grid.

    Output: ``(n, k, tie_c3, h_ppm, h_adj_ppm)``.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = kw_value_counts(ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc")))
    return kruskal_wallis_closed_form(cells)


KRUSKAL_WALLIS_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
cnt AS (
  SELECT event_type, vc, CAST(COUNT(*) AS BIGINT) AS c
  FROM c GROUP BY 1, 2
),
pooled AS (SELECT vc, SUM(c) AS cp FROM cnt GROUP BY vc),
pw AS (
  SELECT vc, cp, SUM(cp) OVER (ORDER BY vc) - cp AS p FROM pooled
),
perg AS (
  SELECT event_type,
         CAST(SUM(c) AS BIGINT) AS n_g,
         CAST(SUM(c * (2 * p + cp + 1)) AS HUGEINT) AS r2_g
  FROM cnt JOIN pw USING (vc) GROUP BY event_type
),
ties AS (
  SELECT CAST(SUM(CAST(cp AS HUGEINT) * cp * cp - cp) AS HUGEINT) AS ct3
  FROM pooled
),
nrow AS (
  SELECT CAST(SUM(n_g) AS HUGEINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM perg
),
tg AS (
  SELECT n, k,
         (3000000 * (r2_g * r2_g)) // (CAST(n_g AS HUGEINT) * n * (n + 1))
           AS t_g
  FROM perg, nrow
),
agg AS (
  SELECT n, k, CAST(SUM(t_g) AS HUGEINT) AS hsum
  FROM tg GROUP BY n, k
),
h AS (
  SELECT n, k, ct3,
         GREATEST(CAST(0 AS HUGEINT),
                  hsum - 3000000 * (n + 1)) AS h_ppm
  FROM agg, ties
)
SELECT CAST(n AS BIGINT) AS n, k, CAST(ct3 AS BIGINT) AS tie_c3,
       CAST(h_ppm AS BIGINT) AS h_ppm,
       CAST(CASE WHEN n * n * n - n - ct3 > 0
                 THEN h_ppm * (n * n * n - n) // (n * n * n - n - ct3)
            END AS BIGINT) AS h_adj_ppm
FROM h
"""


REGISTRATIONS.append(("kruskal_wallis_events", kruskal_wallis_events,
                      KRUSKAL_WALLIS_ORACLE))


def brown_forsythe_closed_form(cnt: DataFrame) -> DataFrame:
    """Finish the Brown–Forsythe robust variance-equality test from
    the (vc, ct, cc) arm counts table — shared by the batch op and
    ``streaming.windows.stream_brown_forsythe``.

    Per-arm nearest-rank median (k = (n_a+1) DIV 2, the
    ``median_sign_closed_form`` convention), then absolute deviations
    z = |vc − med_arm| stay integer cents and collapse to three
    sufficient statistics per arm (n, S = Σz, Q = Σz²). For two arms
    the BF one-way-ANOVA-on-|deviations| statistic is the exact
    rational
      W = (N−2)·d² / (N·[n_c(n_t·Q_t − S_t²) + n_t(n_c·Q_c − S_c²)])
    with d = S_t·n_c − S_c·n_t, reported as integer ppm via the same
    two-step floor-DIV chain in both engines.

    int128 ceiling: 10⁶·d² is the tall pole (d ≲ S·n ~ z̄·N²/4);
    past ~10¹⁶ in d (≈10⁸ events at cents scale) move to a hi/lo
    limb split — documented, far beyond any test SF."""
    from pyspark.sql import Window as W
    m = (cnt.select("vc", F.col("ct").alias("c"), F.lit(True).alias("treat"))
            .unionByName(cnt.select("vc", F.col("cc").alias("c"),
                                    F.lit(False).alias("treat")))
            .filter(F.col("c") > 0))
    t = m.withColumn("cum", F.sum("c").over(
        W.partitionBy("treat").orderBy("vc")))
    tot = m.groupBy("treat").agg(F.sum("c").cast("long").alias("n_a"))
    med = (t.join(F.broadcast(tot), "treat")
            .where(F.col("cum") >= F.expr("(n_a + 1) DIV 2"))
            .groupBy("treat").agg(F.min("vc").alias("med")))
    z = (m.join(F.broadcast(med), "treat")
          .select("treat", "c",
                  F.abs(F.col("vc") - F.col("med")).alias("z"), "med"))
    stats = z.groupBy("treat").agg(
        F.sum("c").cast("long").alias("n_a"),
        F.max("med").alias("med"),
        F.sum(F.col("c") * F.col("z")).cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * z * z")).alias("q"))
    p = (stats.groupBy().pivot("treat", [True, False])
         .agg(F.max("n_a").alias("n"), F.max("med").alias("med"),
              F.max("s").alias("s"), F.max("q").alias("q")))
    d = "(true_s * false_n - false_s * true_n)"
    den = ("(false_n * (true_n * true_q - true_s * true_s)"
           " + true_n * (false_n * false_q - false_s * false_s))")
    n_all = "(true_n + false_n)"
    return p.select(
        F.col("true_n").alias("n_treat"),
        F.col("false_n").alias("n_ctrl"),
        F.col("true_med").alias("med_t"),
        F.col("false_med").alias("med_c"),
        F.col("true_s").cast("long").alias("absdev_sum_t"),
        F.col("false_s").cast("long").alias("absdev_sum_c"),
        # constant arms (den = 0): W undefined — NULL both engines
        F.expr(f"CAST(CASE WHEN {den} > 0 THEN "
               f"(1000000 * {d} * {d} DIV {den})"
               f" * ({n_all} - 2) DIV {n_all} END AS BIGINT)")
         .alias("w_ppm"))


def brown_forsythe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe robust variance-equality test between the
    treatment and control arms — the SCALE companion of the location
    readouts (``mannwhitney_events`` asks "did the middle move";
    this asks "did the SPREAD move", the signal a risk- or
    latency-affecting treatment shows first, and the Levene-family
    variant that stays valid under heavy tails because it centers on
    the MEDIAN, not the mean).

    Exactness: reuses the Mann–Whitney (vc, ct, cc) cells; per-arm
    medians are exact order statistics, deviations are integer
    cents, and W is a two-step floor-DIV ppm computed by the
    identical integer chain in both engines (see
    ``brown_forsythe_closed_form``). No float anywhere.

    Scale shape: identical to ``mannwhitney_events`` — one
    partial+final aggregate to the cents-grid cells (the mergeable
    state the streaming twin maintains), then dims-sized per-arm
    cumsums and 1-row reductions.

    Output: ``(n_treat, n_ctrl, med_t, med_c, absdev_sum_t,
    absdev_sum_c, w_ppm)``.
    """
    return brown_forsythe_closed_form(mw_value_counts(_cells(spark, sf_dir)))


BROWN_FORSYTHE_ORACLE = """
WITH c AS (
  SELECT (user_id % 2 = 1) AS treat,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
cnt AS (
  SELECT vc,
         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS cc
  FROM c GROUP BY vc
),
m AS (
  SELECT vc, ct AS c, TRUE AS treat FROM cnt WHERE ct > 0
  UNION ALL
  SELECT vc, cc AS c, FALSE AS treat FROM cnt WHERE cc > 0
),
t AS (
  SELECT treat, vc, c,
         SUM(c) OVER (PARTITION BY treat ORDER BY vc) AS cum
  FROM m
),
tot AS (SELECT treat, CAST(SUM(c) AS BIGINT) AS n_a FROM m GROUP BY treat),
med AS (
  SELECT t.treat, MIN(vc) AS med
  FROM t JOIN tot ON t.treat = tot.treat
  WHERE cum >= (n_a + 1) // 2
  GROUP BY t.treat
),
z AS (
  SELECT m.treat, c, ABS(vc - med) AS z, med
  FROM m JOIN med ON m.treat = med.treat
),
stats AS (
  SELECT treat, CAST(SUM(c) AS BIGINT) AS n_a, MAX(med) AS med,
         CAST(SUM(c * z) AS HUGEINT) AS s,
         CAST(SUM(CAST(c AS HUGEINT) * z * z) AS HUGEINT) AS q
  FROM z GROUP BY treat
),
p AS (
  SELECT MAX(CASE WHEN treat THEN n_a END) AS true_n,
         MAX(CASE WHEN NOT treat THEN n_a END) AS false_n,
         MAX(CASE WHEN treat THEN med END) AS true_med,
         MAX(CASE WHEN NOT treat THEN med END) AS false_med,
         MAX(CASE WHEN treat THEN s END) AS true_s,
         MAX(CASE WHEN NOT treat THEN s END) AS false_s,
         MAX(CASE WHEN treat THEN q END) AS true_q,
         MAX(CASE WHEN NOT treat THEN q END) AS false_q
  FROM stats
)
SELECT true_n AS n_treat, false_n AS n_ctrl,
       true_med AS med_t, false_med AS med_c,
       CAST(true_s AS BIGINT) AS absdev_sum_t,
       CAST(false_s AS BIGINT) AS absdev_sum_c,
       CAST(CASE WHEN (false_n * (true_n * true_q - true_s * true_s)
                       + true_n * (false_n * false_q - false_s * false_s))
                      > 0
            THEN (1000000 * (true_s * false_n - false_s * true_n)
                          * (true_s * false_n - false_s * true_n)
                  // (false_n * (true_n * true_q - true_s * true_s)
                      + true_n * (false_n * false_q - false_s * false_s)))
                 * (true_n + false_n - 2) // (true_n + false_n)
            END AS BIGINT) AS w_ppm
FROM p
"""


REGISTRATIONS.append(("brown_forsythe_events", brown_forsythe_events,
                      BROWN_FORSYTHE_ORACLE))


def _rank2(vals: DataFrame, col: str) -> DataFrame:
    """Doubled-midrank table for one integer metric column: per
    DISTINCT value v with count c and p rows strictly below,
    2·midrank = 2p + c + 1 (the ``mannwhitney_events`` identity) —
    ranking decomposed into a count aggregate plus a window over the
    DISTINCT-value grid, never a window over the corpus."""
    from pyspark.sql import Window as W
    cnt = vals.groupBy(col).agg(F.count("*").alias("c"))
    return (cnt.withColumn("cum", F.sum("c").over(W.orderBy(col)))
               .select(col, (2 * (F.col("cum") - F.col("c"))
                             + F.col("c") + 1).alias(f"r2_{col}")))


def spearman_corr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-user activity (event
    count) and per-user total spend (value cents) — the monotone-
    association readout (does more usage go with more spend,
    REGARDLESS of the relationship's shape?) that survives the
    heavy tails and outliers Pearson (``corr_matrix_lineitem``'s
    family) chokes on. Ties get textbook average ranks.

    Exactness: both metrics rank via the doubled-midrank identity
    (integers, see ``_rank2``); Spearman ρ is Pearson on ranks, so
    ρ² = num²/(vx·vy) with num = n·Σxy − Σx·Σy and
    vx/vy = n·Σx² − (Σx)² all exact DECIMAL(38)/HUGEINT — reported
    as a floor-DIV ppm plus the exact sign, the identical integer
    chain in both engines. No float anywhere. The ppm divides
    BEFORE the second |num| multiply — (10⁶·|num| DIV vx)·|num|
    DIV vy, never 10⁶·num² — because num² blows DECIMAL(38) at just
    ~15k units (measured: the ×10-events fixture overflowed the
    naive form); the divide-first chain holds to vx ≲ 10³¹ ≈ 10⁷
    users at a ≤ ~1 ppm floor cost, identical in both engines so
    still hash-exact. The audit column reduces |num| mod the prime
    2⁶¹−1 (the wide-decimal checksum discipline) — the raw num
    outgrows int64 at ~1.5·10⁵ units (measured at ×100).

    Scale shape: one per-user aggregate (map-side combinable), two
    DISTINCT-value-grid rank tables joined back (no corpus-wide
    window — the ``scalable_rank`` discipline), one 1-row reduction.

    Output: ``(n_users, rho_sign, rho_num_red, rho2_ppm)``.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
         .cast("long").alias("y"))
    ranked = (per_user
              .join(_rank2(per_user.select("x"), "x"), "x")
              .join(_rank2(per_user.select("y"), "y"), "y"))
    a = ranked.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("r2_x").cast("decimal(38,0)").alias("sx"),
        F.sum("r2_y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(r2_x AS DECIMAL(38,0)) * r2_y")).alias("sxy"),
        F.sum(F.expr("CAST(r2_x AS DECIMAL(38,0)) * r2_x")).alias("sx2"),
        F.sum(F.expr("CAST(r2_y AS DECIMAL(38,0)) * r2_y")).alias("sy2"))
    num = "(n * sxy - sx * sy)"
    vx = "(n * sx2 - sx * sx)"
    vy = "(n * sy2 - sy * sy)"
    return a.select(
        F.col("n").cast("long").alias("n_users"),
        F.expr(f"CAST(CASE WHEN {num} > 0 THEN 1 WHEN {num} < 0 THEN -1 "
               "ELSE 0 END AS BIGINT)").alias("rho_sign"),
        F.expr(f"CAST(ABS({num}) % 2305843009213693951 AS BIGINT)")
         .alias("rho_num_red"),
        # a constant metric (vx or vy = 0) has no rank ordering —
        # ρ undefined, NULL both engines
        F.expr(f"CAST(CASE WHEN {vx} > 0 AND {vy} > 0 THEN "
               f"((1000000 * ABS({num}) DIV {vx}) * ABS({num})) "
               f"DIV {vy} END AS BIGINT)").alias("rho2_ppm"))


SPEARMAN_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
rx AS (
  SELECT x, 2 * (SUM(c) OVER (ORDER BY x) - c) + c + 1 AS r2_x
  FROM (SELECT x, COUNT(*) AS c FROM per_user GROUP BY x)
),
ry AS (
  SELECT y, 2 * (SUM(c) OVER (ORDER BY y) - c) + c + 1 AS r2_y
  FROM (SELECT y, COUNT(*) AS c FROM per_user GROUP BY y)
),
r AS (
  SELECT r2_x, r2_y
  FROM per_user JOIN rx USING (x) JOIN ry USING (y)
),
a AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(r2_x) AS HUGEINT) AS sx,
         CAST(SUM(r2_y) AS HUGEINT) AS sy,
         CAST(SUM(CAST(r2_x AS HUGEINT) * r2_y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(r2_x AS HUGEINT) * r2_x) AS HUGEINT) AS sx2,
         CAST(SUM(CAST(r2_y AS HUGEINT) * r2_y) AS HUGEINT) AS sy2
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(CASE WHEN (n * sxy - sx * sy) > 0 THEN 1
                 WHEN (n * sxy - sx * sy) < 0 THEN -1
                 ELSE 0 END AS BIGINT) AS rho_sign,
       CAST(ABS(n * sxy - sx * sy) % 2305843009213693951 AS BIGINT)
         AS rho_num_red,
       CAST(CASE WHEN (n * sx2 - sx * sx) > 0
                  AND (n * sy2 - sy * sy) > 0
            THEN ((1000000 * ABS(n * sxy - sx * sy)
                   // (n * sx2 - sx * sx)) * ABS(n * sxy - sx * sy))
                 // (n * sy2 - sy * sy)
            END AS BIGINT) AS rho2_ppm
FROM a
"""


REGISTRATIONS.append(("spearman_corr_events", spearman_corr_events,
                      SPEARMAN_ORACLE))


CA_BUCKET_HOURS = 6   # daypart width: 4 ordered exposure buckets


def ca_daypart_cells(ev: DataFrame) -> DataFrame:
    """Mergeable cells for the Cochran–Armitage trend test:
    per-daypart (ordered exposure bucket w ∈ 0..3) total traffic and
    purchase successes — two plain sums, so the streaming twin
    maintains them as one complete-mode aggregate with 4-row state."""
    return (ev.select(
                (F.hour("ts") / CA_BUCKET_HOURS).cast("long").alias("w"),
                F.when(F.col("event_type") == "purchase", 1)
                 .otherwise(0).alias("succ"))
            .groupBy("w")
            .agg(F.count("*").cast("long").alias("n_g"),
                 F.sum("succ").cast("long").alias("r_g")))


def ca_trend_closed_form(cells: DataFrame) -> DataFrame:
    """Finish the Cochran–Armitage statistic from the (w, n_g, r_g)
    cells — shared by the batch op and ``streaming.windows.
    stream_ca_trend``. With T·N = Σ w(r_g·N − n_g·R) and
    Var(T)·N³ = R(N−R)·[N·Σw²n − (Σwn)²], the squared trend z is the
    exact rational z² = (T·N)²·N / (R(N−R)·[…]) — one floor-DIV ppm
    over DECIMAL(38)/HUGEINT sufficient statistics, identical in
    both engines; the trend DIRECTION is the exact sign of T·N.
    int128 ceiling: 10⁶·(T·N)² (~10³⁸ at ~3·10⁷ events with w ≤ 3) —
    documented, far past any test SF."""
    a = cells.agg(
        F.sum("n_g").cast("decimal(38,0)").alias("n"),
        F.sum("r_g").cast("decimal(38,0)").alias("rr"),
        F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * n_g")).alias("swn"),
        F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * w * n_g")).alias("sw2n"),
        F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * r_g")).alias("swr"))
    tn = "(swr * n - swn * rr)"
    den = "(rr * (n - rr) * (n * sw2n - swn * swn))"
    return a.select(
        F.col("n").cast("long").alias("n"),
        F.col("rr").cast("long").alias("successes"),
        F.expr(f"CAST({tn} AS BIGINT)").alias("t_n"),
        F.expr(f"CAST(CASE WHEN {tn} > 0 THEN 1 WHEN {tn} < 0 THEN -1 "
               "ELSE 0 END AS BIGINT)").alias("trend_sign"),
        # no/all successes or one bucket: Var = 0 — NULL both engines
        F.expr(f"CAST(CASE WHEN {den} > 0 THEN "
               f"1000000 * {tn} * {tn} * n DIV {den} END AS BIGINT)")
         .alias("z2_ppm"))


def ca_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: does the purchase RATE rise (or
    fall) monotonically across ordered dayparts? — the dose-response
    readout (Armitage 1955) an experimentation/monitoring stack runs
    when exposure is ORDERED (dose, daypart, cohort age, price
    tier): strictly more powerful than the unordered k-sample
    chi-square when the alternative is a trend, and the standard
    epidemiology/conversion-analysis gate.

    Exactness: cleared to integer sufficient statistics — T·N and
    Var·N³ are exact DECIMAL(38)/HUGEINT, z² is one floor-DIV ppm,
    direction is an exact sign (see ``ca_trend_closed_form``). No
    float anywhere.

    Scale shape: ONE map-side-combinable aggregate to 4 cells (the
    mergeable state the streaming twin maintains), then a 1-row
    closed form. The cheapest possible shape — the corpus is
    touched once.

    Output: ``(n, successes, t_n, trend_sign, z2_ppm)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return ca_trend_closed_form(ca_daypart_cells(ev))


CA_TREND_ORACLE = f"""
WITH cells AS (
  SELECT CAST(hour(ts) // {CA_BUCKET_HOURS} AS BIGINT) AS w,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS r_g
  FROM events GROUP BY 1
),
a AS (
  SELECT CAST(SUM(n_g) AS HUGEINT) AS n,
         CAST(SUM(r_g) AS HUGEINT) AS rr,
         CAST(SUM(CAST(w AS HUGEINT) * n_g) AS HUGEINT) AS swn,
         CAST(SUM(CAST(w AS HUGEINT) * w * n_g) AS HUGEINT) AS sw2n,
         CAST(SUM(CAST(w AS HUGEINT) * r_g) AS HUGEINT) AS swr
  FROM cells
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(rr AS BIGINT) AS successes,
       CAST(swr * n - swn * rr AS BIGINT) AS t_n,
       CAST(CASE WHEN (swr * n - swn * rr) > 0 THEN 1
                 WHEN (swr * n - swn * rr) < 0 THEN -1
                 ELSE 0 END AS BIGINT) AS trend_sign,
       CAST(CASE WHEN (rr * (n - rr) * (n * sw2n - swn * swn)) > 0
            THEN 1000000 * (swr * n - swn * rr) * (swr * n - swn * rr) * n
                 // (rr * (n - rr) * (n * sw2n - swn * swn))
            END AS BIGINT) AS z2_ppm
FROM a
"""


REGISTRATIONS.append(("ca_trend_events", ca_trend_events, CA_TREND_ORACLE))


# --- rank-biserial effect size (round 10) ---------------------------------


def rank_biserial_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biserial correlation — the standard EFFECT SIZE companion
    to the Mann–Whitney test (Kerby 2014's simple-difference formula):
    r = 2U/(n_t·n_c) − 1, i.e. P(treat > ctrl) − P(treat < ctrl) with
    ties split (identically Cliff's δ under midrank ties) — the
    readout a platform publishes next to the U test's p-value so
    "significant" and "large" stay distinguishable at scale.

    Exactness: composes the SAME doubled-midrank integer chain as
    ``mannwhitney_events`` (u2 = 2U is exact BIGINT); the readout is
    r·10⁶ = (u2 − n_t·n_c)·10⁶ DIV (n_t·n_c) on the signed ppm grid —
    numerator and denominator cleared to HUGEINT/DECIMAL(38) first
    (the Kruskal–Wallis ×100 overflow lesson: u2·10⁶ leaves int64
    near ~3M events), truncating division on both engines.

    Scale shape: inherited from the U chain — one partial+final
    aggregate to the (value, arm) cells grid, one dims-sized cumsum,
    one 1-row readout. Output: ``(n_treat, n_ctrl, u2, rb_ppm)``.
    """
    return rb_from_mw(mw_closed_form(mw_value_counts(_cells(spark, sf_dir))))


def rb_from_mw(mw: DataFrame) -> DataFrame:
    """Rank-biserial readout from a ``mw_closed_form`` frame — shared
    by the batch op and ``streaming.windows.stream_rank_biserial``.
    The n_t·n_c > 0 guard keeps a one-armed (degenerate) corpus a
    NULL readout on BOTH engines — Spark DIV-by-zero yields NULL but
    DuckDB's ``//`` raises, so an unguarded oracle would error
    instead of compare (the lang_id_kappa n²=pe precedent)."""
    rb = ("CAST(CASE WHEN CAST(n_treat AS DECIMAL(38,0)) * n_ctrl > 0"
          " THEN (CAST(u2 AS DECIMAL(38,0)) - CAST(n_treat AS"
          " DECIMAL(38,0)) * n_ctrl) * 1000000 DIV"
          " (CAST(n_treat AS DECIMAL(38,0)) * n_ctrl) END AS BIGINT)")
    return mw.select("n_treat", "n_ctrl", "u2",
                     F.expr(rb).alias("rb_ppm"))


RANK_BISERIAL_ORACLE = f"""
WITH mw AS ({MANNWHITNEY_ORACLE})
SELECT n_treat, n_ctrl, u2,
       CAST(CASE WHEN CAST(n_treat AS HUGEINT) * n_ctrl > 0
            THEN (CAST(u2 AS HUGEINT) - CAST(n_treat AS HUGEINT) * n_ctrl)
                 * 1000000
                 // (CAST(n_treat AS HUGEINT) * n_ctrl)
            END AS BIGINT) AS rb_ppm
FROM mw
"""


REGISTRATIONS.append(("rank_biserial_events", rank_biserial_events,
                      RANK_BISERIAL_ORACLE))


# --- Hodges–Lehmann location shift (round 10) -----------------------------


HL_COARSE = 10   # difference grid: dimes (10-cent buckets)


def hodges_lehmann_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann estimator of the treatment−control location
    shift: the MEDIAN of all n_t·n_c pairwise differences
    (t_value − c_value) — the robust effect-MAGNITUDE estimate that
    belongs beside the Mann–Whitney p-value and the rank-biserial
    effect size (Hodges & Lehmann 1963; the standard robust
    alternative to the difference in means).

    Exactness: values quantize to the ``HL_COARSE``-cent (dime) grid
    with truncating DIV (both engines), so the pairwise-difference
    DISTRIBUTION is exact integers: for every pair of distinct
    quantized values the difference occurs ct·cc times, and the
    readout is the exact lower nearest-rank median (rank ⌈N/2⌉,
    N = n_t·n_c) of that weighted distribution via one cumsum —
    i.e. the TRUE HL estimate of the dime-quantized metric, with
    quantization bias ≤ HL_COARSE cents by construction (negligible
    on a dollars-scale metric and mirrored exactly in the oracle).

    Scale shape — why the coarse grid is load-bearing: the raw cents
    grid saturates at range·100 distinct values per arm (measured
    14k×14k ≈ 2·10⁸ cell pairs at sf0.1, ~3·10⁹ at saturation); the
    dime grid caps the cell cross join at (range·10)² ≈ 3·10⁷ pairs
    — constant in corpus size (range-bounded, the KS/TV discipline),
    so the op's cost is one corpus scan + fixed dims² work forever.

    Output: ``(n_pairs, hl_shift_cents)`` — the median difference in
    cents, a multiple of HL_COARSE.
    """
    return hl_closed_form(mw_value_counts(_cells(spark, sf_dir)))


def hl_closed_form(mwcnt: DataFrame) -> DataFrame:
    """Dime-grid difference distribution + nearest-rank median from
    the (vc, ct, cc) Mann–Whitney cells — shared by the batch op and
    ``streaming.windows.stream_hodges_lehmann`` (fourth consumer of
    the MW cell state).

    The weighted median reads the running weight and the total off
    ONE window ordered by d. The arm-by-arm difference cross join is
    the pairwise-difference distribution itself, bounded by the dime
    grid."""
    cnt = (mwcnt
           .groupBy(F.expr(f"vc DIV {HL_COARSE}").alias("vq"))
           .agg(F.sum("ct").alias("ct"), F.sum("cc").alias("cc")))
    t = cnt.where(F.col("ct") > 0).select(F.col("vq").alias("vt"),
                                          F.col("ct").alias("wt"))
    c = cnt.where(F.col("cc") > 0).select(F.col("vq").alias("vcc"),
                                          F.col("cc").alias("wc"))
    diffs = (t.crossJoin(c)
             .groupBy((F.col("vt") - F.col("vcc")).alias("d"))
             .agg(F.sum(F.col("wt") * F.col("wc")).alias("w")))
    from pyspark.sql import Window as W
    wd = W.orderBy("d")
    cum = diffs.select(
        "d",
        F.sum("w").over(wd.rangeBetween(W.unboundedPreceding, 0))
         .alias("cw"),
        F.sum("w").over(wd.rangeBetween(W.unboundedPreceding,
                                        W.unboundedFollowing)).alias("n"))
    return (cum.where(F.col("cw") >= F.expr("(n + 1) DIV 2"))
            .agg(F.max("n").cast("long").alias("n_pairs"),
                 (F.min("d") * HL_COARSE).cast("long")
                 .alias("hl_shift_cents")))


HODGES_LEHMANN_ORACLE = f"""
WITH c AS (
  SELECT (user_id % 2 = 1) AS treat,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
cnt AS (
  SELECT CAST(vc // {HL_COARSE} AS BIGINT) AS vq,
         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS cc
  FROM c GROUP BY 1
),
diffs AS (
  SELECT t.vq - c2.vq AS d, CAST(SUM(t.ct * c2.cc) AS BIGINT) AS w
  FROM cnt t JOIN cnt c2 ON t.ct > 0 AND c2.cc > 0
  GROUP BY 1
),
cum AS (
  SELECT d, SUM(w) OVER (ORDER BY d) AS cw FROM diffs
),
tot AS (
  SELECT CAST(SUM(w) AS BIGINT) AS n,
         CAST((SUM(w) + 1) // 2 AS BIGINT) AS pos
  FROM diffs
)
SELECT MAX(n) AS n_pairs,
       CAST(MIN(d) * {HL_COARSE} AS BIGINT) AS hl_shift_cents
FROM cum, tot WHERE cw >= pos
"""


REGISTRATIONS.append(("hodges_lehmann_events", hodges_lehmann_events,
                      HODGES_LEHMANN_ORACLE))


# --- quantile treatment effects (round 10) ----------------------------------

QTE_PCTS = (25, 50, 75, 90)


def qte_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the per-arm EXACT nearest-rank
    value quantiles at P25/P50/P75/P90 and their differences — the
    distributional readout (does the treatment move the median? the
    tail? both?) that a mean difference and even the Hodges–Lehmann
    shift average away (Koenker's quantile-effect framing, here as
    plain order statistics per arm, not a regression).

    Exactness: values on the cents grid; each quantile is the lower
    nearest-rank element (rank ⌈p·n/100⌉) read off the per-arm
    cumsum over the SAME (value, arm) count cells the Mann–Whitney
    family shares; the effect is an integer subtraction. No float,
    no interpolation.

    Scale: one partial+final aggregate to the bounded value grid;
    cumsums and readouts are dims-table work (the
    ship_delay_percentiles shape, one row per requested percentile).

    Output: ``(pct, q_treat_cents, q_ctrl_cents, qte_cents)``, one
    row per percentile.
    """
    return qte_closed_form(mw_value_counts(_cells(spark, sf_dir)))


def qte_closed_form(cnt: DataFrame) -> DataFrame:
    """QTE readout from the (vc, ct, cc) counts — shared by the batch
    op and ``streaming.windows.stream_qte``."""
    from pyspark.sql import Window as W
    wv = W.orderBy("vc").rowsBetween(W.unboundedPreceding, W.currentRow)
    t = (cnt.withColumn("cum_t", F.sum("ct").over(wv))
            .withColumn("cum_c", F.sum("cc").over(wv)))
    n = cnt.agg(F.sum("ct").alias("nt"), F.sum("cc").alias("nc"))
    pcts = F.explode(F.array(*[F.lit(p) for p in QTE_PCTS])).alias("pct")
    grid = t.crossJoin(F.broadcast(n.select(pcts, "nt", "nc")))
    return (grid.groupBy("pct")
            .agg(F.min(F.when(
                     F.col("cum_t") >= F.expr("(pct * nt + 99) DIV 100"),
                     F.col("vc"))).alias("q_treat_cents"),
                 F.min(F.when(
                     F.col("cum_c") >= F.expr("(pct * nc + 99) DIV 100"),
                     F.col("vc"))).alias("q_ctrl_cents"))
            .select(F.col("pct").cast("long").alias("pct"),
                    "q_treat_cents", "q_ctrl_cents",
                    (F.col("q_treat_cents") - F.col("q_ctrl_cents"))
                    .alias("qte_cents"))
            .orderBy("pct"))


QTE_ORACLE = f"""
WITH c AS (
  SELECT (user_id % 2 = 1) AS treat,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
cnt AS (
  SELECT vc,
         CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS cc
  FROM c GROUP BY vc
),
t AS (
  SELECT vc, SUM(ct) OVER (ORDER BY vc) AS cum_t,
         SUM(cc) OVER (ORDER BY vc) AS cum_c
  FROM cnt
),
n AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
             CAST(SUM(cc) AS BIGINT) AS nc FROM cnt),
q AS (
  SELECT p.pct,
         MIN(CASE WHEN cum_t >= (p.pct * nt + 99) // 100 THEN vc END)
           AS q_treat_cents,
         MIN(CASE WHEN cum_c >= (p.pct * nc + 99) // 100 THEN vc END)
           AS q_ctrl_cents
  FROM t, n, (SELECT UNNEST({list(QTE_PCTS)}) AS pct) p
  GROUP BY p.pct
)
SELECT CAST(pct AS BIGINT) AS pct, q_treat_cents, q_ctrl_cents,
       q_treat_cents - q_ctrl_cents AS qte_cents
FROM q
"""


REGISTRATIONS.append(("qte_events", qte_events, QTE_ORACLE))


# --- Cohen's d / Hedges' g standardized effect size (round 11) ------------


def cohens_d_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized mean difference between the treatment
    and control arms' event values, with the Hedges' g small-sample
    correction (Cohen 1988; Hedges 1981) — the PARAMETRIC effect-size
    companion to the rank-biserial readout: d speaks the units every
    power calculator uses, so a platform publishes the (p, r, d)
    triple from one pass.

    Exactness: per-arm n / Σx / Σx² on the cents grid are exact
    BIGINT / DECIMAL(38,0) sums; the centered sum of squares
    n·Σx² − (Σx)² is exact wide-integer algebra, and the remaining
    combination (two int÷int mean divisions, the pooled-variance
    division, one IEEE sqrt — each correctly rounded) is the same
    fixed DAG on both engines, so the doubles hash-match bit-for-bit
    (the trend_ols / mann_kendall discipline). Hedges' correction
    uses the EXACT rational 1 − 3/(4·(n_t+n_c) − 9) (Hedges'
    approximation of the gamma ratio), again the identical DAG.

    Scale shape: one partial+final aggregate over a single corpus
    scan — five exact sufficient statistics per arm, a 1-row readout.
    No shuffle beyond the 2-group aggregate.

    Output: ``(n_treat, n_ctrl, mean_diff, pooled_sd, cohens_d,
    hedges_g)`` (mean_diff / pooled_sd in cents).
    """
    return cohens_readout(cohens_agg(_cells(spark, sf_dir)))


def cohens_agg(cells: DataFrame) -> DataFrame:
    """The six exact sufficient statistics (n/Σx/Σx² per arm) — ONE
    mergeable no-key aggregate (6-value state), shared by the batch
    op and ``streaming.windows.stream_cohens_d``."""
    # cast the OPERAND before aggregating (the gmd_cells /
    # tau_closed_form discipline): a LongType sum of vc*vc overflows
    # int64 at scale while the DuckDB oracle accumulates in HUGEINT
    dec = "decimal(38,0)"
    vdec = F.col("vc").cast(dec)
    return cells.agg(
        F.sum(F.when(F.col("treat"), 1).otherwise(0))
         .cast("long").alias("nt"),
        F.sum(F.when(~F.col("treat"), 1).otherwise(0))
         .cast("long").alias("nc"),
        F.sum(F.when(F.col("treat"), vdec).otherwise(F.lit(0).cast(dec)))
         .cast(dec).alias("st"),
        F.sum(F.when(~F.col("treat"), vdec).otherwise(F.lit(0).cast(dec)))
         .cast(dec).alias("sc"),
        F.sum(F.when(F.col("treat"), vdec * F.col("vc"))
               .otherwise(F.lit(0).cast(dec))).cast(dec).alias("qt"),
        F.sum(F.when(~F.col("treat"), vdec * F.col("vc"))
               .otherwise(F.lit(0).cast(dec))).cast(dec).alias("qc"))


def cohens_readout(agg: DataFrame) -> DataFrame:
    """The fixed IEEE effect-size DAG over the six sufficient
    statistics — shared by batch and streaming twin."""
    # one-armed guard (the rank-biserial precedent): with nt=0 or
    # nc=0 the 0/0 path yields NULL on Spark but NaN through DuckDB's
    # IEEE division — the degenerate-corpus hash-mismatch class
    return agg.select(
        F.col("nt").alias("n_treat"), F.col("nc").alias("n_ctrl"),
        F.expr(
            "CASE WHEN nt > 0 AND nc > 0 THEN"
            " CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)"
            " - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) END")
         .alias("mean_diff"),
        F.expr(f"CASE WHEN nt > 0 AND nc > 0 THEN {_COHENS_SP} END")
         .alias("pooled_sd"),
        F.expr(
            f"CASE WHEN nt + nc > 2 AND ({_COHENS_SP}) > 0 THEN"
            " (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)"
            "  - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))"
            f" / ({_COHENS_SP}) END").alias("cohens_d"),
        F.expr(
            f"CASE WHEN nt + nc > 2 AND ({_COHENS_SP}) > 0 THEN"
            " ((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)"
            "   - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))"
            f"  / ({_COHENS_SP}))"
            " * (1.0 - 3.0 / CAST(4 * (nt + nc) - 9 AS DOUBLE)) END")
         .alias("hedges_g"))


# pooled sd: sqrt(((nt*qt - st^2)/nt + (nc*qc - sc^2)/nc) / (nt+nc-2))
# — numerators exact DECIMAL(38,0), each division correctly rounded,
# the same expression tree in the oracle below.
_COHENS_SP = (
    "SQRT((CAST(CAST(nt AS DECIMAL(38,0)) * qt - st * st AS DOUBLE)"
    " / CAST(nt AS DOUBLE)"
    " + CAST(CAST(nc AS DECIMAL(38,0)) * qc - sc * sc AS DOUBLE)"
    " / CAST(nc AS DOUBLE)) / CAST(nt + nc - 2 AS DOUBLE))")


COHENS_D_ORACLE = f"""
WITH c AS (
  SELECT (user_id % 2 = 1) AS treat,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
a AS (
  SELECT CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN treat THEN vc ELSE 0 END) AS HUGEINT) AS st,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE vc END) AS HUGEINT) AS sc,
         CAST(SUM(CASE WHEN treat THEN vc * vc ELSE 0 END) AS HUGEINT)
           AS qt,
         CAST(SUM(CASE WHEN treat THEN 0 ELSE vc * vc END) AS HUGEINT)
           AS qc
  FROM c
)
SELECT nt AS n_treat, nc AS n_ctrl,
       CASE WHEN nt > 0 AND nc > 0 THEN
         CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
           - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)
       END AS mean_diff,
       CASE WHEN nt > 0 AND nc > 0 THEN {{SP}} END AS pooled_sd,
       CASE WHEN nt + nc > 2 AND ({{SP}}) > 0 THEN
         (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
          - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)) / ({{SP}})
       END AS cohens_d,
       CASE WHEN nt + nc > 2 AND ({{SP}}) > 0 THEN
         ((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
           - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)) / ({{SP}}))
         * (1.0 - 3.0 / CAST(4 * (nt + nc) - 9 AS DOUBLE))
       END AS hedges_g
FROM a
""".replace("{SP}", (
    "SQRT((CAST(CAST(nt AS HUGEINT) * qt - st * st AS DOUBLE)"
    " / CAST(nt AS DOUBLE)"
    " + CAST(CAST(nc AS HUGEINT) * qc - sc * sc AS DOUBLE)"
    " / CAST(nc AS DOUBLE)) / CAST(nt + nc - 2 AS DOUBLE))"))


REGISTRATIONS.append(("cohens_d_events", cohens_d_events, COHENS_D_ORACLE))


# --- McNemar paired-proportion test (round 11) -----------------------------


def mcnemar_user_flags(ev: DataFrame) -> DataFrame:
    """Per-user (pre, post) purchase flags around ``EXP_SPLIT`` — the
    MERGEABLE sufficient statistic (two idempotent MAX bits per user,
    the two_prop_user_conv shape), shared by the batch op and
    ``streaming.windows.stream_mcnemar``."""
    is_purchase = F.col("event_type") == "purchase"
    pre = is_purchase & (F.to_date("ts") < F.lit(EXP_SPLIT).cast("date"))
    post = is_purchase & (F.to_date("ts") >= F.lit(EXP_SPLIT).cast("date"))
    return (ev.groupBy("user_id")
            .agg(F.max(F.when(pre, 1).otherwise(0)).alias("pre"),
                 F.max(F.when(post, 1).otherwise(0)).alias("post")))


def mcnemar_closed_form(flags: DataFrame) -> DataFrame:
    """Discordant-pair counts + the cleared McNemar statistic from
    the per-user flag table — shared by batch and streaming twin.
    χ² = (b−c)²/(b+c) cleared to ppm with truncating DIV on both
    engines; the b+c = 0 guard keeps a discordant-free corpus NULL
    on both (Spark DIV-by-zero is NULL, DuckDB ``//`` raises — the
    rank-biserial guard precedent)."""
    agg = flags.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when((F.col("pre") == 1) & (F.col("post") == 0), 1)
               .otherwise(0)).cast("long").alias("n10"),
        F.sum(F.when((F.col("pre") == 0) & (F.col("post") == 1), 1)
               .otherwise(0)).cast("long").alias("n01"))
    x2 = ("CAST(CASE WHEN n10 + n01 > 0 THEN"
          " (CAST(n10 AS DECIMAL(38,0)) - n01)"
          " * (CAST(n10 AS DECIMAL(38,0)) - n01) * 1000000"
          " DIV (CAST(n10 AS DECIMAL(38,0)) + n01) END AS BIGINT)")
    return agg.select("n_users", "n10", "n01",
                      F.expr(x2).alias("mcnemar_x2_ppm"))


def mcnemar_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED proportions (McNemar 1947): did the
    per-user purchase propensity change across the ``EXP_SPLIT``
    midpoint? Each user is their own control — the within-subject
    counterpart of ``two_proportion_test_events``'s between-arm z
    (the before/after launch readout where arm randomization doesn't
    exist). Only the discordant pairs carry signal: b = users who
    purchased pre but not post, c = the reverse; χ² = (b−c)²/(b+c).

    Exactness: the flags are idempotent integer MAXes, b/c exact
    BIGINT counts, and the statistic is cleared to the ppm grid with
    wide-decimal numerators and truncating DIV on both engines —
    no float anywhere.

    Scale shape: one groupBy(user) MAX aggregate (map-side
    combinable), one 1-row readout. State in the streaming twin is
    two bits per user — honestly user-dims-sized, the
    stream_two_proportion argument.

    Output: ``(n_users, n10, n01, mcnemar_x2_ppm)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return mcnemar_closed_form(mcnemar_user_flags(ev))


MCNEMAR_ORACLE = f"""
WITH f AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase'
                   AND CAST(ts AS DATE) < DATE '{EXP_SPLIT}'
                  THEN 1 ELSE 0 END) AS pre,
         MAX(CASE WHEN event_type = 'purchase'
                   AND CAST(ts AS DATE) >= DATE '{EXP_SPLIT}'
                  THEN 1 ELSE 0 END) AS post
  FROM events GROUP BY user_id
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n01
  FROM f
)
SELECT n_users, n10, n01,
       CAST(CASE WHEN n10 + n01 > 0 THEN
         (CAST(n10 AS HUGEINT) - n01) * (CAST(n10 AS HUGEINT) - n01)
         * 1000000 // (CAST(n10 AS HUGEINT) + n01)
       END AS BIGINT) AS mcnemar_x2_ppm
FROM a
"""


REGISTRATIONS.append(("mcnemar_events", mcnemar_events, MCNEMAR_ORACLE))


# --- Jonckheere–Terpstra ordered-alternative trend test (round 11) --------


JT_BUCKET_HOURS = 6   # ordered exposure groups: 4 dayparts


def jt_cells(ev: DataFrame) -> DataFrame:
    """Per-(daypart, distinct cents value) counts — the MERGEABLE
    sufficient statistic for the Jonckheere–Terpstra test (the
    mw_value_counts shape with an ordered group key), shared by the
    batch op and ``streaming.windows.stream_jonckheere``."""
    return (ev.select(
                (F.hour("ts") / F.lit(JT_BUCKET_HOURS)).cast("long")
                 .alias("g"),
                F.round(F.col("value") * 100).cast("long").alias("vc"))
            .groupBy("g", "vc")
            .agg(F.count("*").cast("long").alias("c")))


def jt_closed_form(cells: DataFrame) -> DataFrame:
    """J statistic + null moments from the (g, vc, c) cells — shared
    by batch and streaming twin. Carried DOUBLED (j2 = 2J) so the
    ½-credit for ties stays integer: for each value v and ordered
    group pair i<j, the pair contributes c_j(v)·(2·below_i(v) +
    c_i(v)). The variance uses the classic untied formula
    [N²(2N+3) − Σ n_g²(2n_g+3)]/72 (Jonckheere 1954 — the standard
    textbook normalization; tie correction is documented out of
    scope), so z is conservative-approximate under heavy ties but
    every INPUT to it is an exact integer and the z DAG is fixed."""
    cells = cells.localCheckpoint(eager=False)
    from pyspark.sql import Window as W
    grid = (cells.select("vc").distinct()
            .crossJoin(cells.select("g").distinct())
            .join(cells, ["g", "vc"], "left")
            .fillna(0, subset=["c"]))
    w = W.partitionBy("g").orderBy("vc")
    grid = grid.withColumn("below", F.sum("c").over(w) - F.col("c"))
    a, b = grid.alias("a"), grid.alias("b")
    j2 = (a.join(b, (F.col("a.vc") == F.col("b.vc"))
                 & (F.col("a.g") < F.col("b.g")))
          .agg(F.sum(F.col("b.c")
                     * (2 * F.col("a.below") + F.col("a.c")))
               .cast("long").alias("j2")))
    ns = (cells.groupBy("g").agg(F.sum("c").alias("ng"))
          .agg(F.sum("ng").cast("long").alias("n_total"),
               F.sum(F.expr("ng * ng")).cast("long").alias("sum_n2"),
               F.sum(F.expr("CAST(ng AS DECIMAL(38,0)) * ng"
                            " * (2 * ng + 3)")).alias("sum_n23")))
    out = ns.crossJoin(j2).select(
        "n_total", "j2",
        # E[2J] = Σ_{i<j} n_i n_j = (N² − Σ n_g²) DIV 2 (even: the
        # off-diagonal of the n×n product counts every pair twice)
        F.expr("CAST((CAST(n_total AS DECIMAL(38,0)) * n_total - sum_n2)"
               " DIV 2 AS DECIMAL(38,0))").cast("long").alias("e_j2"),
        # var_num ≈ 2N³ leaves int64 near ~1.6·10⁶ events (caught by
        # the ×100 check), so it stays DECIMAL and exports through
        # the correctly-rounded DOUBLE cast (the chisq marginal
        # precedent); z consumes the same double.
        F.expr("CAST(CAST(n_total AS DECIMAL(38,0)) * n_total"
               " * (2 * n_total + 3) - sum_n23 AS DECIMAL(38,0))")
         .cast("double").alias("var_num"))
    return out.select(
        "n_total", "j2", "e_j2", "var_num",
        F.expr("CASE WHEN var_num > 0 THEN"
               " CAST(j2 - e_j2 AS DOUBLE)"
               " / (2.0 * SQRT(var_num / 72.0)) END")
         .alias("z"))


def jonckheere_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative across the
    four dayparts (Jonckheere 1954; Terpstra 1952): J = Σ_{i<j} U_ij
    sums the pairwise Mann–Whitney counts over ordered group pairs —
    strictly more powerful than Kruskal–Wallis when the hypothesis is
    monotone ("spend rises through the day"), the dose-response
    rank test beside ``ca_trend_events``' binary Cochran–Armitage.

    Exactness: rides the doubled-tie-credit identity on the
    (daypart, cents) cells — j2 = 2J, E[2J], and the variance
    numerator are pure wide-integer algebra, z one fixed IEEE DAG
    (see ``jt_closed_form``).

    Scale shape: one map-side-combinable aggregate to the 4×values
    cells grid; the pair scan joins the VALUE GRID to itself (≤ 6
    ordered group pairs per distinct value — dims² work bounded by
    the cents grid, never event-grain; the mann_kendall discipline).

    Output: ``(n_total, j2, e_j2, var_num, z)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return jt_closed_form(jt_cells(ev))


JONCKHEERE_ORACLE = f"""
WITH cells AS (
  SELECT CAST(hour(ts) // {JT_BUCKET_HOURS} AS BIGINT) AS g,
         CAST(round(value * 100) AS BIGINT) AS vc,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT g.g, v.vc, COALESCE(cells.c, 0) AS c
  FROM (SELECT DISTINCT vc FROM cells) v
  CROSS JOIN (SELECT DISTINCT g FROM cells) g
  LEFT JOIN cells ON cells.g = g.g AND cells.vc = v.vc
),
cum AS (
  SELECT g, vc, c,
         SUM(c) OVER (PARTITION BY g ORDER BY vc) - c AS below
  FROM grid
),
jj AS (
  SELECT CAST(SUM(b.c * (2 * a.below + a.c)) AS BIGINT) AS j2
  FROM cum a JOIN cum b ON a.vc = b.vc AND a.g < b.g
),
ns AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n_total,
         CAST(SUM(CAST(ng AS HUGEINT) * ng) AS HUGEINT) AS sum_n2,
         CAST(SUM(CAST(ng AS HUGEINT) * ng * (2 * ng + 3)) AS HUGEINT)
           AS sum_n23
  FROM (SELECT g, SUM(c) AS ng FROM cells GROUP BY g)
),
base AS (
  SELECT n_total, j2,
         CAST((CAST(n_total AS HUGEINT) * n_total - sum_n2) // 2
              AS BIGINT) AS e_j2,
         CAST(CAST(n_total AS HUGEINT) * n_total * (2 * n_total + 3)
              - sum_n23 AS DOUBLE) AS var_num
  FROM ns CROSS JOIN jj
)
SELECT n_total, j2, e_j2, var_num,
       CASE WHEN var_num > 0 THEN
         CAST(j2 - e_j2 AS DOUBLE)
         / (2.0 * SQRT(var_num / 72.0))
       END AS z
FROM base
"""


REGISTRATIONS.append(("jonckheere_events", jonckheere_events,
                      JONCKHEERE_ORACLE))


# --- odds ratio / relative risk (round 11) ----------------------------------


def odds_ratio_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio and relative risk of per-user conversion between
    the arms — the epidemiology-standard 2×2 effect measures a
    product team quotes beside the two-proportion z ("treatment users
    convert at 1.3× the odds"): OR = ad/bc, RR = [a/(a+b)]/[c/(c+d)].

    Exactness: the 2×2 cells ride ``two_prop_user_conv``'s idempotent
    per-user MAX flags (exact BIGINT counts); both ratios clear to
    the ppm grid with wide-decimal cross products and truncating DIV,
    NULL-guarded when a denominator cell is empty (the rank-biserial
    guard discipline on both engines).

    Scale: one groupBy(user) MAX aggregate, one 1-row readout.

    Output: ``(conv_treat, noconv_treat, conv_ctrl, noconv_ctrl,
    odds_ratio_ppm, rel_risk_ppm)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return or_closed_form(two_prop_user_conv(ev))


def or_closed_form(user_conv: DataFrame) -> DataFrame:
    """2×2 cells + cleared OR/RR from the (user_id, conv) flags —
    shared by the batch op and ``streaming.windows.stream_odds_ratio``."""
    users = user_conv.select((F.col("user_id") % 2 == 1).alias("treat"),
                             "conv")
    g = users.agg(
        F.sum(F.when(F.col("treat") & (F.col("conv") == 1), 1)
               .otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("treat") & (F.col("conv") == 0), 1)
               .otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~F.col("treat") & (F.col("conv") == 1), 1)
               .otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~F.col("treat") & (F.col("conv") == 0), 1)
               .otherwise(0)).cast("long").alias("d"))
    orx = ("CAST(CASE WHEN b > 0 AND c > 0 THEN"
           " CAST(a AS DECIMAL(38,0)) * d * 1000000"
           " DIV (CAST(b AS DECIMAL(38,0)) * c) END AS BIGINT)")
    rr = ("CAST(CASE WHEN c > 0 AND a + b > 0 THEN"
          " CAST(a AS DECIMAL(38,0)) * (c + d) * 1000000"
          " DIV (CAST(c AS DECIMAL(38,0)) * (a + b)) END AS BIGINT)")
    return g.select(F.col("a").alias("conv_treat"),
                    F.col("b").alias("noconv_treat"),
                    F.col("c").alias("conv_ctrl"),
                    F.col("d").alias("noconv_ctrl"),
                    F.expr(orx).alias("odds_ratio_ppm"),
                    F.expr(rr).alias("rel_risk_ppm"))


ODDS_RATIO_ORACLE = """
WITH f AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS conv
  FROM events GROUP BY user_id
),
g AS (
  SELECT
    CAST(SUM(CASE WHEN user_id % 2 = 1 AND conv = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS a,
    CAST(SUM(CASE WHEN user_id % 2 = 1 AND conv = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS b,
    CAST(SUM(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS c,
    CAST(SUM(CASE WHEN user_id % 2 = 0 AND conv = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS d
  FROM f
)
SELECT a AS conv_treat, b AS noconv_treat, c AS conv_ctrl,
       d AS noconv_ctrl,
       CAST(CASE WHEN b > 0 AND c > 0 THEN
         CAST(a AS HUGEINT) * d * 1000000
         // (CAST(b AS HUGEINT) * c) END AS BIGINT) AS odds_ratio_ppm,
       CAST(CASE WHEN c > 0 AND a + b > 0 THEN
         CAST(a AS HUGEINT) * (c + d) * 1000000
         // (CAST(c AS HUGEINT) * (a + b)) END AS BIGINT)
         AS rel_risk_ppm
FROM g
"""


REGISTRATIONS.append(("odds_ratio_events", odds_ratio_events,
                      ODDS_RATIO_ORACLE))


# --- Friedman within-block rank test (round 11) -----------------------------


FRIEDMAN_K = 4   # treatments = the four dayparts (JT_BUCKET_HOURS wide)


def friedman_cells(ev: DataFrame) -> DataFrame:
    """Per-(user, daypart) value sums in cents — the MERGEABLE
    sufficient statistic (user×4 state, honestly user-dims-sized),
    shared by the batch op and ``streaming.windows.stream_friedman``."""
    return (ev.select("user_id",
                      (F.hour("ts") / F.lit(JT_BUCKET_HOURS))
                       .cast("long").alias("g"),
                      F.round(F.col("value") * 100).cast("long")
                       .alias("vc"))
            .groupBy("user_id", "g")
            .agg(F.sum("vc").cast("long").alias("v")))


def friedman_closed_form(cells: DataFrame) -> DataFrame:
    """Friedman statistic from the (user, daypart, value) cells —
    shared by batch and streaming twin. Only COMPLETE blocks (users
    active in all k dayparts) enter, per the test's definition;
    within-block midranks are carried DOUBLED (2R = 2p+c+1) so the
    column rank sums R2_j and χ²_F = [3ΣR2_j² − 3n²k(k+1)²] /
    (nk(k+1)) clear to exact ppm integers (the classic untied
    normalization — the Jonckheere variance convention; ties only
    make the reported value conservative).

    Single pass: one window partitioned by user and ordered by value
    puts the block size, the tied count c (range frame [0, 0]) and
    the count below (range frame [unbounded, −1]) on every cell;
    complete blocks are a filter on the block size. One per-daypart
    aggregate sums the doubled ranks — each complete block holds
    exactly one cell per daypart, so that aggregate's row count is n
    — and ΣR2_j² and k are ``over ()`` sums on the k-row table. The
    cells are read once; no join."""
    from pyspark.sql import Window as W
    wv = W.partitionBy("user_id").orderBy("v")
    r = (cells.select(
            "g",
            F.count("*").over(wv.rangeBetween(W.unboundedPreceding,
                                              W.unboundedFollowing))
             .alias("ng"),
            F.count("*").over(wv.rangeBetween(0, 0)).alias("c"),
            F.count("*").over(wv.rangeBetween(W.unboundedPreceding, -1))
             .alias("below"))
         .where(F.col("ng") == FRIEDMAN_K))
    rj = r.groupBy("g").agg(
        F.sum(2 * F.col("below") + F.col("c") + 1).cast("long")
         .alias("r2_sum"),
        F.count("*").cast("long").alias("n"))
    every = W.partitionBy()
    st = rj.select(
        "g", "r2_sum", "n",
        F.sum(F.expr("CAST(r2_sum AS DECIMAL(38,0)) * r2_sum"))
         .over(every).alias("s2"),
        F.count("*").over(every).cast("long").alias("k"))
    chi = ("CAST(CASE WHEN n > 0 THEN"
           " (3 * s2 - 3 * CAST(n AS DECIMAL(38,0)) * n * k"
           "  * (k + 1) * (k + 1)) * 1000000"
           " DIV (CAST(n AS DECIMAL(38,0)) * k * (k + 1))"
           " END AS BIGINT)")
    return st.select("g", "r2_sum", F.col("n").alias("n_blocks"),
                     F.expr(chi).alias("friedman_chi2_ppm"))


def friedman_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman two-way rank test (Friedman 1937): does spend differ
    across the four dayparts once EACH USER serves as their own
    block? The within-subject counterpart of Kruskal–Wallis — user
    effects (whales vs casuals) cancel inside each block instead of
    inflating the between-group variance; the nonparametric
    repeated-measures ANOVA every experimentation platform reaches
    for on daypart/weekday questions.

    Exactness: complete blocks only, doubled within-block midranks,
    the classic statistic cleared to exact ppm (see
    ``friedman_closed_form``). No float anywhere.

    Scale: one (user, daypart) aggregate with map-side combine; one
    ranking window PER USER over k=4 rows (block size, ties and
    count below in the same pass) — massively parallel, never a
    global window — then a 4-row per-daypart readout. State in the
    streaming twin is the same user×4 grid (the stream_two_proportion
    user-dims argument).

    Output: ``(g, r2_sum, n_blocks, friedman_chi2_ppm)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return friedman_closed_form(friedman_cells(ev))


FRIEDMAN_ORACLE = f"""
WITH pg AS (
  SELECT user_id, CAST(hour(ts) // {JT_BUCKET_HOURS} AS BIGINT) AS g,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
full_u AS (
  SELECT user_id FROM pg GROUP BY user_id
  HAVING COUNT(*) = {FRIEDMAN_K}
),
p AS (SELECT pg.* FROM pg JOIN full_u USING (user_id)),
vg AS (
  SELECT user_id, v, CAST(COUNT(*) AS BIGINT) AS c,
         SUM(COUNT(*)) OVER (PARTITION BY user_id ORDER BY v)
           - COUNT(*) AS below
  FROM p GROUP BY user_id, v
),
r AS (
  SELECT p.g, CAST(2 * vg.below + vg.c + 1 AS BIGINT) AS r2
  FROM p JOIN vg ON p.user_id = vg.user_id AND p.v = vg.v
),
rj AS (SELECT g, CAST(SUM(r2) AS BIGINT) AS r2_sum FROM r GROUP BY g),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM full_u),
st AS (SELECT CAST(SUM(CAST(r2_sum AS HUGEINT) * r2_sum) AS HUGEINT)
         AS s2,
       CAST(COUNT(*) AS BIGINT) AS k FROM rj)
SELECT rj.g, rj.r2_sum, nn.n AS n_blocks,
       CAST(CASE WHEN n > 0 THEN
         (3 * s2 - 3 * CAST(n AS HUGEINT) * n * k * (k + 1) * (k + 1))
         * 1000000 // (CAST(n AS HUGEINT) * k * (k + 1))
       END AS BIGINT) AS friedman_chi2_ppm
FROM rj, nn, st
"""


REGISTRATIONS.append(("friedman_events", friedman_events, FRIEDMAN_ORACLE))


# --- Kendall tau-b on the user decile grid (round 11) -----------------------


TAU_TILES = 10   # decile grid — |cells| ≤ 100 at ANY corpus size


def tau_user_cells(ev: DataFrame) -> DataFrame:
    """Per-user (n_events, spend cents) sums — the MERGEABLE
    sufficient statistic (user-dims-sized, the stream_two_proportion
    class), shared by the batch op and ``streaming.windows.
    stream_kendall_tau``."""
    return (ev.select("user_id",
                      F.round(F.col("value") * 100).cast("long")
                       .alias("vc"))
            .groupBy("user_id")
            .agg(F.count("*").cast("long").alias("na"),
                 F.sum("vc").cast("long").alias("sp")))


def tau_closed_form(users: DataFrame) -> DataFrame:
    """Kendall τ-b from the per-user (activity, spend) table — shared
    by batch and streaming twin. Both metrics rank into deciles via
    ``scalable_rank`` + the closed-form ``ntile_expr`` (user_id
    tiebreak ⇒ total order ⇒ deterministic tiles), so the pair
    counting runs on an ALWAYS-≤100-cell grid no matter the corpus
    size: n_c/n_d are cell-pair cross sums with strict double
    inequalities, tie-pair counts come from the marginals, and τ-b =
    (n_c − n_d)/√((T−T_x)(T−T_y)) is one fixed IEEE DAG over exact
    DECIMAL(38) pair counts (T ~ n²/2 leaves int64 near ~4·10⁹
    users — the MW ceiling class; pair counts are DOUBLE-exported
    via the correctly-rounded cast, the Jonckheere var_num rule)."""
    from mapreduce_rust_spark.operators.ranking import (
        ntile_expr, scalable_rank)
    users = users.localCheckpoint(eager=False)   # ranked twice
    n_row = users.agg(F.count("*").cast("long").alias("n"))
    ra = scalable_rank(users, F.col("na"), [F.col("na"), F.col("user_id")],
                       rank_col="r_a")
    rb = scalable_rank(users, F.col("sp"), [F.col("sp"), F.col("user_id")],
                       rank_col="r_s")
    j = (ra.select("user_id", "r_a")
         .join(rb.select("user_id", "r_s"), "user_id")
         .crossJoin(F.broadcast(n_row)))
    tiles = j.select(
        ntile_expr(TAU_TILES, "r_a").alias("ta"),
        ntile_expr(TAU_TILES, "r_s").alias("ts"))
    cells = (tiles.groupBy("ta", "ts")
             .agg(F.count("*").cast("long").alias("c")))
    # Round 13 (guide §1.2 / the mmr_diverse_topk + PQ-codebook
    # bounded-collect precedent): the grid is ≤ TAU_TILES² = 100 cells
    # by construction, yet the old 5-branch relational readout
    # (conc/disc NestedLoop pair joins + two marginal rollups + four
    # crossJoins) cost ~14 tiny Spark jobs per evaluation — far more
    # than the actual ranking work. Collect the constant-bounded grid
    # and clear the pair counting in EXACT Python integers (arbitrary
    # precision ≡ the DECIMAL(38,0) chain: products, sums, DIV 2),
    # then reproduce the identical IEEE DAG — float(int) is the same
    # correctly-rounded DECIMAL→DOUBLE cast, and the subtract/
    # multiply/sqrt/divide order is copied operator-for-operator from
    # the retired expression — so hashes are unchanged (the oracle
    # still runs the full relational form; equality is the proof).
    grid = [((int(r["ta"]), int(r["ts"])), int(r["c"]))
            for r in cells.collect()]
    n = sum(c for _, c in grid)
    nc = sum(ca * cb for (ta, ts), ca in grid for (tb, us), cb in grid
             if ta < tb and ts < us)
    nd = sum(ca * cb for (ta, ts), ca in grid for (tb, us), cb in grid
             if ta < tb and ts > us)
    rows_m: dict[int, int] = {}
    cols_m: dict[int, int] = {}
    for (ta, ts), c in grid:
        rows_m[ta] = rows_m.get(ta, 0) + c
        cols_m[ts] = cols_m.get(ts, 0) + c
    # empty input: the old SUM-over-no-rows left tx/ty NULL (only
    # nc/nd were coalesced) and the CASE fell through to NULL
    tx = sum(rc * (rc - 1) // 2 for rc in rows_m.values()) \
        if grid else None
    ty = sum(cc * (cc - 1) // 2 for cc in cols_m.values()) \
        if grid else None
    tt = n * (n - 1) // 2
    ncd, ndd, ttd = float(nc), float(nd), float(tt)
    txd = float(tx) if tx is not None else None
    tyd = float(ty) if ty is not None else None
    tau = None
    if txd is not None and tyd is not None \
            and (ttd - txd) > 0 and (ttd - tyd) > 0:
        import math
        tau = (ncd - ndd) / math.sqrt((ttd - txd) * (ttd - tyd))
    spark = users.sparkSession
    return spark.createDataFrame(
        [(n, ncd, ndd, txd, tyd, tau)],
        "n_users long, nc_pairs double, nd_pairs double, "
        "tie_x_pairs double, tie_y_pairs double, tau_b double")


def kendall_tau_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between per-user ACTIVITY and SPEND deciles —
    completing the engine's rank-correlation trio (Spearman ρ gives
    the rank-linear view, Theil–Sen the robust slope; τ answers the
    bare ordinal question "do bigger users spend more", with the
    cleanest interpretation: P(concordant) − P(discordant)).

    Grid discipline (what makes τ 100 TB-shaped): raw τ-b pair
    counting is O(n log n) at best and the (activity, spend) value
    grid is UNBOUNDED (a bot user's activity is unbounded, spend
    sums with corpus size — no KS-style range argument). Ranking
    both metrics into ``TAU_TILES`` deciles first makes the
    statistic a DECILE-association τ on an always-≤100-cell grid —
    scale-free, outlier-proof, and exactly what the "bigger users
    spend more" dashboard actually plots. Deciles are deterministic
    (scalable_rank + closed-form ntile, user_id tiebreak — the
    equidepth machinery, no per-metric data window).

    Output: ``(n_users, nc_pairs, nd_pairs, tie_x_pairs,
    tie_y_pairs, tau_b)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return tau_closed_form(tau_user_cells(ev))


KENDALL_TAU_ORACLE = f"""
WITH users AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS na,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sp
  FROM events GROUP BY user_id
),
n_row AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM users),
tiles AS (
  SELECT NTILE({TAU_TILES}) OVER (ORDER BY na, user_id) AS ta,
         NTILE({TAU_TILES}) OVER (ORDER BY sp, user_id) AS ts
  FROM users
),
cells AS (
  SELECT ta, ts, CAST(COUNT(*) AS BIGINT) AS c
  FROM tiles GROUP BY ta, ts
),
conc AS (
  SELECT CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS nc
  FROM cells a JOIN cells b ON a.ta < b.ta AND a.ts < b.ts
),
disc AS (
  SELECT CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS nd
  FROM cells a JOIN cells b ON a.ta < b.ta AND a.ts > b.ts
),
tx AS (
  SELECT CAST(SUM(CAST(rc AS HUGEINT) * (rc - 1) // 2) AS HUGEINT) AS tx
  FROM (SELECT ta, SUM(c) AS rc FROM cells GROUP BY ta)
),
ty AS (
  SELECT CAST(SUM(CAST(cc AS HUGEINT) * (cc - 1) // 2) AS HUGEINT) AS ty
  FROM (SELECT ts, SUM(c) AS cc FROM cells GROUP BY ts)
),
base AS (
  SELECT n, COALESCE(nc, 0) AS nc, COALESCE(nd, 0) AS nd, tx, ty,
         CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS HUGEINT) AS tt
  FROM n_row, conc, disc, tx, ty
)
SELECT n AS n_users,
       CAST(nc AS DOUBLE) AS nc_pairs,
       CAST(nd AS DOUBLE) AS nd_pairs,
       CAST(tx AS DOUBLE) AS tie_x_pairs,
       CAST(ty AS DOUBLE) AS tie_y_pairs,
       CASE WHEN (CAST(tt AS DOUBLE) - CAST(tx AS DOUBLE)) > 0
             AND (CAST(tt AS DOUBLE) - CAST(ty AS DOUBLE)) > 0 THEN
         (CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))
         / SQRT((CAST(tt AS DOUBLE) - CAST(tx AS DOUBLE))
                * (CAST(tt AS DOUBLE) - CAST(ty AS DOUBLE)))
       END AS tau_b
FROM base
"""


REGISTRATIONS.append(("kendall_tau_events", kendall_tau_events,
                      KENDALL_TAU_ORACLE))
