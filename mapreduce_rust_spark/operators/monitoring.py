"""Production-monitoring operators — rolling z-score anomaly
detection over the event stream and distribution-drift scoring
between corpus slices. These are the "is today's data shaped like
yesterday's" checks a 100 TB ingest pipeline runs continuously;
both are single-plan DataFrame compositions with exact integer
arithmetic so the DuckDB oracles hash-match bit-for-bit.

Numeric discipline: event values live on the exact cents grid
(``round(value*100)`` — the udaf.py convention, fixture values carry
exactly 2 decimals), and the z-score test is algebraically cleared of
division/sqrt: ``|v - S/n| > 3·sqrt(nQ - S²)/n`` rewritten as
``(v·n - S)² > 9·(nQ - S²)`` — pure BIGINT comparisons (worst case
~9e12, far inside int64), no float ever materializes.

Reference anchor: the reference has no monitoring surface (its only
pipeline is word-count, worker.rs); this module is extension surface
for the large-scale curation pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.tables import load_table

Z_WIN = 100       # trailing events in the baseline window
Z_MIN_N = 30      # minimum baseline size before scoring
DRIFT_BUCKET = 50  # n_chars histogram bucket width
PPM = 1_000_000


def zscore_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score outliers: an event is anomalous when its
    value sits more than 3 population-stds from the mean of the previous
    ``Z_WIN`` events of the same (event_type, day). Events with fewer
    than ``Z_MIN_N`` predecessors that day are unscored (cold start).

    The per-(type, day) partitioning is the scale design: event_type
    alone has ~5 values (a 5-partition window stage would serialize
    a 100 TB scan), while (type, day) yields thousands of bounded
    partitions; the trailing baseline intentionally resets at local
    midnight — "compare against today's traffic", standard for
    seasonal metrics. One shuffle, one window pass.

    Anomaly test in exact integers (population variance):
    ``n·(nQ - S²)`` vs ``(v·n - S)²·n`` reduces to
    ``(v·n - S)² > 9·(nQ - S²)`` after clearing ``n²`` — identical
    BIGINT expressions on both engines, no sqrt/division.

    Output: ``(event_id, event_type, day, n_prev, is_anomaly)`` for
    every scored event.
    """
    return zscore_anomaly(load_table(spark, sf_dir, "events"))


def zscore_anomaly(events: DataFrame) -> DataFrame:
    """Core of :func:`zscore_anomaly_events` over any
    ``(event_id, event_type, ts, value)`` frame."""
    ev = (events
          .select("event_id", "event_type",
                  F.date_format("ts", "yyyy-MM-dd").alias("day"),
                  F.unix_micros("ts").alias("us"),
                  F.round(F.col("value") * 100).cast("long").alias("vc")))
    w = (W.partitionBy("event_type", "day").orderBy("us", "event_id")
          .rowsBetween(-Z_WIN, -1))
    scored = ev.select(
        "event_id", "event_type", "day", "vc",
        F.count("vc").over(w).alias("n"),
        F.sum("vc").over(w).alias("s"),
        F.sum(F.col("vc") * F.col("vc")).over(w).alias("q"))
    d = F.col("vc") * F.col("n") - F.col("s")
    var_n2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return (scored.where(F.col("n") >= Z_MIN_N)
                  .select("event_id", "event_type", "day",
                          F.col("n").alias("n_prev"),
                          (d * d > F.lit(9) * var_n2).alias("is_anomaly")))


ZSCORE_ORACLE = f"""
WITH ev AS (
  SELECT event_id, event_type, strftime(ts, '%Y-%m-%d') AS day,
         epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
scored AS (
  SELECT event_id, event_type, day, vc,
         COUNT(vc) OVER w AS n,
         SUM(vc)   OVER w AS s,
         SUM(vc * vc) OVER w AS q
  FROM ev
  WINDOW w AS (PARTITION BY event_type, day ORDER BY us, event_id
               ROWS BETWEEN {Z_WIN} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type, day, n AS n_prev,
       (vc * n - s) * (vc * n - s) > 9 * (n * q - s * s) AS is_anomaly
FROM scored
WHERE n >= {Z_MIN_N}
"""


def tv_drift_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: total-variation distance
    between each source's document-length histogram and the whole
    corpus's, on ``DRIFT_BUCKET``-char buckets. TV = ½·L1; reported
    in exact parts-per-million (proportions are integer
    ``count·1e6 DIV total`` — floor division is deterministic and
    identical on both engines, so the score is hash-exact).

    Shape: one groupBy to (source, bucket) counts — after which the
    data is dims-sized (sources × buckets, ~200 rows at any corpus
    scale) — then a broadcast source×bucket grid (both sides are
    post-aggregation dims, so the cross join is a
    BroadcastNestedLoopJoin over tiny inputs, never a corpus
    cartesian) to materialize zero-count cells, window sums for the
    per-source and corpus totals, and one final groupBy. The corpus
    never shuffles twice: everything after the first aggregate
    operates on the dims table.

    Output: ``(source, n_docs, l1_ppm, tv_ppm)``.
    """
    return tv_drift(load_table(spark, sf_dir, "documents"))


def tv_drift(docs: DataFrame) -> DataFrame:
    """Core of :func:`tv_drift_sources` over any
    ``(source, n_chars)`` frame."""
    cnt = (docs.select("source",
                       F.expr(f"n_chars div {DRIFT_BUCKET}").alias("b"))
               .groupBy("source", "b").agg(F.count("*").alias("c")))
    grid = (cnt.select("source").distinct()
               .crossJoin(cnt.select("b").distinct())
               .join(cnt, ["source", "b"], "left")
               .withColumn("c", F.coalesce("c", F.lit(0))))
    filled = (grid.withColumn("t_src",
                              F.sum("c").over(W.partitionBy("source")))
                  .withColumn("g", F.sum("c").over(W.partitionBy("b")))
                  .withColumn("t_all", F.sum("c").over(
                      W.partitionBy(F.lit(1)))))
    # integral DIV (not float floor-division): exact at any corpus
    # size — float a/b mis-floors once b exceeds ~2^52/quotient.
    diff = F.expr(f"abs(c * {PPM}L div t_src - g * {PPM}L div t_all)")
    return (filled.groupBy("source")
                  .agg(F.max("t_src").alias("n_docs"),
                       F.sum(diff).cast("long").alias("l1_ppm"))
                  .select("source", "n_docs", "l1_ppm",
                          F.floor(F.col("l1_ppm") / 2).cast("long")
                          .alias("tv_ppm")))


TV_DRIFT_ORACLE = f"""
WITH cnt AS (
  SELECT source, n_chars // {DRIFT_BUCKET} AS b, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
),
grid AS (
  SELECT s.source, bk.b, COALESCE(cnt.c, 0) AS c
  FROM (SELECT DISTINCT source FROM cnt) s
  CROSS JOIN (SELECT DISTINCT b FROM cnt) bk
  LEFT JOIN cnt ON cnt.source = s.source AND cnt.b = bk.b
),
filled AS (
  SELECT source, b, c,
         SUM(c) OVER (PARTITION BY source) AS t_src,
         SUM(c) OVER (PARTITION BY b) AS g,
         SUM(c) OVER () AS t_all
  FROM grid
),
per_source AS (
  SELECT source, MAX(t_src) AS n_docs,
         SUM(ABS(c * {PPM} // t_src - g * {PPM} // t_all)) AS l1_ppm
  FROM filled GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(l1_ppm AS BIGINT) AS l1_ppm,
       CAST(l1_ppm // 2 AS BIGINT) AS tv_ppm
FROM per_source
"""


def interevent_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per event_type: count, min/max and
    exact interpolated p50/p95 of the gap (in integer micros) between
    consecutive events of that type — the latency/health panel for a
    stream ("are purchases arriving at the usual cadence?"). One LAG
    over a per-type window + one aggregate. Gaps are exact BIGINTs;
    cross-engine parity rests on Spark ``percentile`` and DuckDB
    ``quantile_cont`` evaluating the IDENTICAL interpolation
    expression ``lo·(hi−idx) + hi·(idx−lo)`` (verified empirically —
    the fractional index weights are NOT exact doubles, and the
    algebraically-equal ``lo + (idx−lo)·(hi−lo)`` form differs in the
    last ulp, so swapping in a different quantile implementation
    breaks the hash even though the math is 'the same').
    Per-type partitioning has
    the same few-keys skew as the z-score op — at 100 TB, profile per
    (type, day) and merge; the fixture shape keeps the single-key
    form honest."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_micros("ts").alias("us"))
    w = W.partitionBy("event_type").orderBy("us", "event_id")
    gaps = (ev.withColumn("gap", F.col("us") - F.lag("us").over(w))
              .where(F.col("gap").isNotNull()))
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap").alias("min_gap"),
        F.max("gap").alias("max_gap"),
        F.expr("percentile(gap, 0.5)").alias("p50_gap"),
        F.expr("percentile(gap, 0.95)").alias("p95_gap"))


INTEREVENT_GAP_ORACLE = """
WITH g AS (
  SELECT event_type,
         us - LAG(us) OVER (PARTITION BY event_type
                            ORDER BY us, event_id) AS gap
  FROM (SELECT event_type, event_id, epoch_us(ts) AS us FROM events)
)
SELECT event_type, COUNT(*) AS n_gaps,
       MIN(gap) AS min_gap, MAX(gap) AS max_gap,
       quantile_cont(gap, 0.5) AS p50_gap,
       quantile_cont(gap, 0.95) AS p95_gap
FROM g WHERE gap IS NOT NULL
GROUP BY event_type
"""


def trend_ols_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value TREND: closed-form least-squares slope,
    intercept, and R² of value-cents against seconds-since-window-
    start — "is the purchase amount drifting upward this month", the
    regression companion to the z-score point-anomaly check.

    Determinism discipline (this is a float output that still
    hash-matches): the five sufficient statistics (n, Σx, Σy, Σxy,
    Σx², Σy²) are summed EXACTLY — integer cents / integer seconds,
    products in DECIMAL(38,0), so partitioning cannot change a bit —
    then cast to double, and the closed-form combination is identical
    single-threaded IEEE arithmetic on identical inputs in both
    engines. No libm (R² avoids sqrt by reporting r², whose only
    irrational-free form num²/(denx·deny) is pure ×/÷). The x origin
    is the GLOBAL min event time (1-row broadcast, the tf_df
    pattern), so x stays ~1e6 and intercepts mean 'cents at window
    start'. One scan + one 5-group aggregate — trivially 100 TB-safe.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("vc"))
    t0 = base.agg(F.min("us").alias("us0"))
    dec = "decimal(38,0)"
    x = F.expr("(us - us0) DIV 1000000").cast(dec)   # whole seconds
    y = F.col("vc").cast(dec)
    xy = (base.crossJoin(F.broadcast(t0))
              .select("event_type", x.alias("x"), y.alias("y")))
    return ols_closed_form(ols_stats_agg(xy))


def ols_stats_agg(xy: DataFrame) -> DataFrame:
    """Exact OLS sufficient statistics per event_type over an
    (event_type, x DECIMAL, y DECIMAL) frame — shared by the batch op
    and the streaming twin (the stats are mergeable, so the same agg
    runs in a complete-mode stream)."""
    return (xy.groupBy("event_type")
              .agg(F.count("*").alias("n"),
                   F.sum("x").cast("double").alias("sx"),
                   F.sum("y").cast("double").alias("sy"),
                   F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
                   F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
                   F.sum(F.col("y") * F.col("y")).cast("double").alias("syy")))


def ols_closed_form(stats: DataFrame) -> DataFrame:
    """Closed-form slope/intercept/R² from the sufficient statistics
    — ONE definition so the batch op and streaming twin cannot
    drift.

    Degenerate groups (n=1 or constant x ⇒ denx=0; constant y ⇒
    deny=0) emit explicit NULLs on BOTH engines: Spark's non-ANSI
    double division yields NULL on 0 while recent DuckDB defaults to
    IEEE inf/NaN, so without the guard a degenerate group would
    hash-mismatch the oracle (see OLS_ORACLE_TAIL's matching CASE)."""
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.when(denx != 0, num / denx)
    return stats.select(
        "event_type", F.col("n").cast("long").alias("n"),
        slope.alias("slope_cents_per_sec"),
        # slope NULL propagates: sy - NULL*sx is NULL, /n stays NULL
        ((F.col("sy") - slope * F.col("sx")) / n).alias("intercept_cents"),
        F.when((denx != 0) & (deny != 0), num * num / (denx * deny))
         .alias("r2"))


# Shared oracle tail: expects a CTE named xy(event_type, x, y) to be
# in scope; composes as  f"WITH ..., xy AS (...), {OLS_ORACLE_TAIL}".
OLS_ORACLE_TAIL = """
stats AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM xy GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CASE WHEN (n * sxx - sx * sx) <> 0
            THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END
         AS slope_cents_per_sec,
       CASE WHEN (n * sxx - sx * sx) <> 0
            THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
            END
         AS intercept_cents,
       CASE WHEN (n * sxx - sx * sx) <> 0 AND (n * syy - sy * sy) <> 0
            THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END
         AS r2
FROM stats
"""

TREND_OLS_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         epoch_us(ts) AS us,
         CAST(round(value * 100, 0) AS BIGINT) AS vc
  FROM events
),
t0 AS (SELECT MIN(us) AS us0 FROM base),
xy AS (
  SELECT event_type,
         CAST((us - us0) // 1000000 AS DECIMAL(38,0)) AS x,
         CAST(vc AS DECIMAL(38,0)) AS y
  FROM base, t0
),
{OLS_ORACLE_TAIL}
"""


def cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the position where
    the cumulative deviation from the type's mean value peaks — the
    classic "where did the level shift" monitor (Page 1954).

    Exact-integer trick: CUSUM_i = Σ_{j≤i}(v_j − μ) peaks where
    N·prefix_i − i·S does (both sides scaled by N = count, S = Σv —
    no float mean ever forms; the products run in DECIMAL(38,0)
    because N·prefix exceeds int64 beyond ~1e8 events × 1e5 cents),
    so the argmax is exact and the reported score is an exact value
    cast to double.

    Scale shape — NO per-type global window: the prefix sum uses the
    sessionize_scalable two-phase decomposition. Within-day prefixes
    run in (type, day) partitions (thousands, bounded); the day-level
    carry-in offsets come from a window over DAY SUMMARIES only
    (≤ days rows per type). The final argmax is a plain aggregate
    (max of a struct — partial-combinable), not a rank window."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type",
                  F.date_format("ts", "yyyy-MM-dd").alias("day"),
                  F.unix_micros("ts").alias("us"), "event_id",
                  F.round(F.col("value") * 100).cast("long").alias("vc")))
    day_sums = (ev.groupBy("event_type", "day")
                  .agg(F.sum("vc").alias("dv"), F.count("*").alias("dn")))
    wd = W.partitionBy("event_type").orderBy("day")
    day_off = day_sums.select(
        "event_type", "day",
        (F.sum("dv").over(wd) - F.col("dv")).alias("off_v"),
        (F.sum("dn").over(wd) - F.col("dn")).alias("off_n"))
    ww = (W.partitionBy("event_type", "day").orderBy("us", "event_id")
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    within = ev.select(
        "event_type", "day", "event_id",
        F.sum("vc").over(ww).alias("pv"),
        F.count("*").over(ww).alias("pn"))
    totals = ev.groupBy("event_type").agg(F.sum("vc").alias("s"),
                                          F.count("*").alias("n_tot"))
    # the scaled statistic multiplies count-sized by sum-sized values
    # (n_tot·prefix ~ 1e21 at 1e8 events × 1e5-cent values), which
    # overflows int64 SILENTLY in non-ANSI Spark — route through
    # DECIMAL(38,0) like trend_ols' sufficient statistics
    dec38 = "decimal(38,0)"
    pref = (within.join(day_off, ["event_type", "day"])
            .join(F.broadcast(totals), "event_type")
            .select("event_type", "event_id", "n_tot",
                    (F.col("off_n") + F.col("pn")).alias("i"),
                    (F.col("n_tot").cast(dec38)
                     * (F.col("off_v") + F.col("pv")).cast(dec38)
                     - (F.col("off_n") + F.col("pn")).cast(dec38)
                     * F.col("s").cast(dec38))
                    .alias("cusum_scaled")))
    best = F.max(F.struct(F.abs(F.col("cusum_scaled")).alias("score"),
                          (-F.col("i")).alias("neg_i"),
                          (-F.col("event_id")).alias("neg_id"))).alias("b")
    return (pref.groupBy("event_type")
            .agg(F.first("n_tot").alias("n"), best)
            .select("event_type", F.col("n").cast("long").alias("n"),
                    (-F.col("b.neg_i")).cast("long").alias("changepoint_pos"),
                    (-F.col("b.neg_id")).cast("long").alias("event_id"),
                    F.col("b.score").cast("double").alias("peak_score")))


# Oracle uses the single-window form (fine at sf0.01; the Spark plan
# is the one that must scale) — identical integers, identical argmax
# tie-break (score DESC, position ASC, event_id ASC).
CUSUM_ORACLE = """
WITH ev AS (
  SELECT event_type, event_id, epoch_us(ts) AS us,
         CAST(round(value * 100, 0) AS BIGINT) AS vc
  FROM events
),
pref AS (
  SELECT event_type, event_id,
         SUM(vc) OVER w AS pv,
         CAST(COUNT(*) OVER w AS BIGINT) AS i,
         SUM(vc) OVER (PARTITION BY event_type) AS s,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_tot
  FROM ev
  WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT event_type, event_id, i, n_tot,
         ABS(n_tot * pv - i * s) AS score,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(n_tot * pv - i * s) DESC,
                                     i, event_id) AS rk
  FROM pref
)
SELECT event_type, n_tot AS n, i AS changepoint_pos, event_id,
       CAST(score AS DOUBLE) AS peak_score
FROM scored WHERE rk = 1
"""


def dow_profile_stats(ev: DataFrame) -> DataFrame:
    """Shared core of the batch op and its streaming twin: per
    (event_type, ISO day-of-week) exact sufficient statistics
    (count, Σcents). Mergeable sums, so the identical aggregate runs
    in a complete-mode stream."""
    return (ev.groupBy("event_type", "dow")
              .agg(F.count("*").alias("n"), F.sum("vc").alias("sv")))


def dow_profile_closed_form(stats: DataFrame) -> DataFrame:
    """Seasonality profile from the (event_type, dow) sufficient
    statistics: mean cents per cell, and the cell-vs-type lift. ONE
    definition shared by batch and streaming twin. Float discipline:
    mean = exact-int ÷ exact-int (correctly rounded identically on
    both engines), lift = one further division of those two doubles —
    the same single-threaded IEEE DAG everywhere. The ≤ types×7-row
    stats table is checkpointed: two consumers (cells + the totals
    re-aggregate) would otherwise each re-run its upstream scan, and
    the MemorySink view a streaming twin feeds in can't resolve the
    self-join at all."""
    stats = stats.localCheckpoint(eager=False)
    totals = (stats.groupBy("event_type")
              .agg(F.sum("n").alias("tn"), F.sum("sv").alias("tv")))
    j = stats.join(F.broadcast(totals), "event_type")
    mean_cell = F.col("sv").cast("double") / F.col("n").cast("double")
    mean_type = F.col("tv").cast("double") / F.col("tn").cast("double")
    return j.select(
        "event_type", "dow", F.col("n").alias("n_events"),
        mean_cell.alias("mean_cents"),
        (mean_cell / mean_type).alias("dow_lift"))


LAGCORR_A = "click"      # leading series
LAGCORR_B = "purchase"   # lagged series
LAGCORR_MAX = 3          # lags 0..3 days


def lagged_corr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation of two daily metric series — does
    click volume predict purchase volume k days later? For each lag
    k ∈ 0..``LAGCORR_MAX``: Pearson r between (daily click cents on
    day t) and (daily purchase cents on day t+k), both series
    ZERO-FILLED on the observed day range (a missing day is a real
    zero, not a gap to skip — skipping would shift the alignment).
    The lead-lag panel behind "which metric moves first" monitoring,
    extending the OLS/seasonality family from one series to two.

    Exactness is the stats_agg recipe one level up: daily sums in
    exact cents, power sums (n, Σx, Σy, Σxy, Σx², Σy²) in
    DECIMAL(38,0), then the identical covar/√var·√var double formula
    (sqrt is IEEE-correctly-rounded — allowed, unlike libm ln/pow).
    Scale: events collapse to ≤2·|days| daily rows FIRST (map-side
    combined), so the lag joins and the per-lag aggregates run on
    day-grain data — at 100 TB the expensive part is one partial
    agg over the scan, everything after is metadata-sized."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin(LAGCORR_A, LAGCORR_B))
          .select("event_type",
                  F.datediff(F.to_date("ts"),
                             F.lit("2024-01-01").cast("date"))
                   .cast("long").alias("d"),
                  F.round(F.col("value") * 100).cast("long").alias("vc")))
    daily = (ev.groupBy("event_type", "d")
               .agg(F.sum("vc").alias("sc"))).localCheckpoint(eager=False)
    rng = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (rng.select(F.explode(F.sequence("d0", "d1")).alias("d")))
    xa = (grid.join(daily.filter(F.col("event_type") == LAGCORR_A)
                    .select("d", "sc"), "d", "left")
              .select("d", F.coalesce("sc", F.lit(0)).alias("x")))
    yb = (grid.join(daily.filter(F.col("event_type") == LAGCORR_B)
                    .select("d", "sc"), "d", "left")
              .select(F.col("d").alias("dy"),
                      F.coalesce("sc", F.lit(0)).alias("y")))
    lags = F.explode(F.array(*[F.lit(k) for k in
                               range(LAGCORR_MAX + 1)])).alias("lag")
    xl = xa.select("d", "x", lags)
    j = xl.join(yb, xl.d + F.col("lag") == yb.dy)
    dec = "decimal(38,0)"
    agg = (j.groupBy("lag")
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
    corr = F.when((var_x > 0) & (var_y > 0),
                  covar / (F.sqrt(var_x) * F.sqrt(var_y)))
    return (agg.select(F.col("lag").cast("long").alias("lag"),
                       "n", covar.alias("covar"), corr.alias("corr")))


LAGGED_CORR_ORACLE = f"""
WITH ev AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
  WHERE event_type IN ('{LAGCORR_A}', '{LAGCORR_B}')
),
daily AS (SELECT event_type, d, SUM(vc) AS sc FROM ev GROUP BY 1, 2),
rng AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
grid AS (SELECT UNNEST(range(d0, d1 + 1)) AS d FROM rng),
xa AS (SELECT g.d, COALESCE(a.sc, 0) AS x
       FROM grid g LEFT JOIN daily a
         ON a.d = g.d AND a.event_type = '{LAGCORR_A}'),
yb AS (SELECT g.d AS dy, COALESCE(b.sc, 0) AS y
       FROM grid g LEFT JOIN daily b
         ON b.d = g.d AND b.event_type = '{LAGCORR_B}'),
j AS (
  SELECT l.lag, x, y
  FROM xa, UNNEST(range(0, {LAGCORR_MAX + 1})) AS l(lag)
  JOIN yb ON xa.d + l.lag = yb.dy
),
agg AS (
  SELECT lag, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(38,0))) AS sx2,
         SUM(CAST(y * y AS DECIMAL(38,0))) AS sy2
  FROM j GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
          / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS covar,
       CASE WHEN (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1) > 0
             AND (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE)
                    * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1) > 0
            THEN ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                     * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1))
                 / (SQRT((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)
                            * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                           / (CAST(n AS DOUBLE) - 1))
                    * SQRT((CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE)
                              * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                             / (CAST(n AS DOUBLE) - 1)))
       END AS corr
FROM agg
"""


FORECAST_LAG_DAYS = 7


def _dense_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled per-(event_type, day-index) cent-volume grid —
    the shared alignment step of the forecasting family
    (forecast_backtest / conformal interval / Theil–Sen). Day index
    is days since 2024-01-01 (the lagged_corr convention); missing
    days become real zeros. Carries the observed range (d0, d1) on
    every row so callers can split without re-aggregating. Scale:
    the day-grain collapse is the only pass over event rows;
    everything downstream is metadata-sized (types × days)."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type",
                  F.datediff(F.to_date("ts"),
                             F.lit("2024-01-01").cast("date"))
                   .cast("long").alias("d"),
                  F.round(F.col("value") * 100).cast("long").alias("vc")))
    daily = (ev.groupBy("event_type", "d").agg(F.sum("vc").alias("sc"))
             .localCheckpoint(eager=False))
    rng = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (daily.select("event_type").distinct()
            .crossJoin(F.broadcast(rng))
            .select("event_type", "d0", "d1",
                    F.explode(F.sequence("d0", "d1")).alias("d")))
    return (grid.join(daily, ["event_type", "d"], "left")
            .select("event_type", "d", "d0", "d1",
                    F.coalesce("sc", F.lit(0)).alias("y")))


def forecast_backtest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's per-type
    cent volume with the value ``FORECAST_LAG_DAYS`` days earlier
    and score the forecast over every scorable day — the baseline
    every real forecasting model must beat, and the backtest harness
    shape (align → error → aggregate) fancier models drop into.
    Reported per type: MAE in cents (exact integer |err| sum ÷
    count) and WAPE = Σ|err| / Σactual — the weighted-APE form,
    chosen over MAPE deliberately: MAPE is a float MEAN of per-day
    ratios (order-sensitive sum, division-by-zero days), WAPE is one
    ratio of two exact integer sums. Zero-filled day grid so missing
    days are real zeros (the lagged_corr alignment rule). Scale:
    day-grain collapse first; everything after is metadata-sized."""
    dense = _dense_daily(spark, sf_dir).select("event_type", "d", "y")
    a, f = dense.alias("a"), dense.alias("f")
    j = (a.join(f, (F.col("a.event_type") == F.col("f.event_type"))
                & (F.col("a.d") == F.col("f.d") + FORECAST_LAG_DAYS))
          .select(F.col("a.event_type").alias("event_type"),
                  F.col("a.y").alias("actual"),
                  F.col("f.y").alias("pred")))
    err = F.abs(F.col("actual") - F.col("pred"))
    return (j.groupBy("event_type")
             .agg(F.count("*").alias("n_days"),
                  F.sum(err).alias("sae"),
                  F.sum("actual").alias("sa"))
             .select("event_type", "n_days",
                     (F.col("sae").cast("double")
                      / F.col("n_days").cast("double")).alias("mae_cents"),
                     (F.col("sae").cast("double")
                      / F.col("sa").cast("double")).alias("wape")))


FORECAST_BACKTEST_ORACLE = f"""
WITH ev AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
daily AS (SELECT event_type, d, SUM(vc) AS sc FROM ev GROUP BY 1, 2),
rng AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
grid AS (
  SELECT t.event_type, g.d
  FROM (SELECT DISTINCT event_type FROM daily) t,
       (SELECT UNNEST(range(d0, d1 + 1)) AS d FROM rng) g
),
dense AS (
  SELECT g.event_type, g.d, COALESCE(daily.sc, 0) AS y
  FROM grid g LEFT JOIN daily
    ON daily.event_type = g.event_type AND daily.d = g.d
),
j AS (
  SELECT a.event_type, a.y AS actual, f.y AS pred
  FROM dense a JOIN dense f
    ON a.event_type = f.event_type
   AND a.d = f.d + {FORECAST_LAG_DAYS}
)
SELECT event_type, COUNT(*) AS n_days,
       CAST(SUM(ABS(actual - pred)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mae_cents,
       CAST(SUM(ABS(actual - pred)) AS DOUBLE)
         / CAST(SUM(actual) AS DOUBLE) AS wape
FROM j GROUP BY event_type
"""


# split-conformal parameters: α = 1/5 → nominal 80% intervals; the
# conformal quantile is the ⌈(n+1)(1−α)⌉-th smallest calibration
# residual (Vovk; Lei et al.) — exact integer order statistic, no
# float quantile interpolation to disagree across engines.
CONF_ALPHA_DEN = 5


def conformal_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the seasonal-naive
    forecaster: calibrate on the first half of the scorable day range
    (per type: the ⌈(n_cal+1)·4/5⌉-th smallest |residual| in cents is
    the 80% interval half-width), then report the EMPIRICAL coverage
    of ``pred ± q`` on the held-out second half — the
    distribution-free "how wide must the band be, and does it hold
    up" readout that turns the backtest's MAE into a calibrated
    interval. Degenerate calibration sets (k > n_cal, i.e. n_cal < 4)
    emit NULL width and coverage on both engines.

    Scale: everything after the shared day-grain collapse
    (``_dense_daily``) is metadata-sized; the order statistic runs as
    a row_number window over ≤ types × days summary rows, and the
    oracle derives the same quantile NON-procedurally (min residual
    whose ≤-count reaches k) as the decomposition proof.

    Output: ``(event_type, n_cal, q_cents, n_test, coverage)``.
    """
    # integer midpoint split — DIV, not float-divide-then-cast (the
    # trunc-vs-floor trap closed in the round-4 ADVICE items)
    dense = (_dense_daily(spark, sf_dir)
             .withColumn("ds", F.expr("d0 + (d1 - d0) DIV 2")))
    a, f = dense.alias("a"), dense.alias("f")
    scored = (a.join(f, (F.col("a.event_type") == F.col("f.event_type"))
                    & (F.col("a.d") == F.col("f.d") + FORECAST_LAG_DAYS))
              .select(F.col("a.event_type").alias("event_type"),
                      F.col("a.d").alias("d"), F.col("a.ds").alias("ds"),
                      F.abs(F.col("a.y") - F.col("f.y")).alias("r"))
              .localCheckpoint(eager=False))
    cal = scored.where(F.col("d") < F.col("ds"))
    tst = scored.where(F.col("d") >= F.col("ds"))
    nk = (cal.groupBy("event_type")
          .agg(F.count("*").alias("n_cal"))
          .withColumn("k", F.expr(
              f"((n_cal + 1) * {CONF_ALPHA_DEN - 1}"
              f" + {CONF_ALPHA_DEN - 1}) DIV {CONF_ALPHA_DEN}")))
    wq = W.partitionBy("event_type").orderBy("r", "d")
    q = (cal.withColumn("_rn", F.row_number().over(wq))
         .join(F.broadcast(nk), "event_type")
         .where(F.col("_rn") == F.col("k"))
         .select("event_type", F.col("r").alias("q")))
    cov = (tst.join(F.broadcast(q), "event_type", "left")
           .groupBy("event_type")
           .agg(F.count("*").alias("n_test"),
                F.sum(F.when(F.col("r") <= F.col("q"), 1).otherwise(0))
                 .alias("n_cov")))
    return (nk.join(q, "event_type", "left")
            .join(cov, "event_type", "left")
            .select("event_type", "n_cal",
                    F.col("q").cast("long").alias("q_cents"),
                    F.col("n_test").cast("long").alias("n_test"),
                    F.when(F.col("q").isNotNull(),
                           F.col("n_cov").cast("double")
                           / F.col("n_test").cast("double"))
                     .alias("coverage")))


_DENSE_DAILY_SQL = f"""
ev AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
daily AS (SELECT event_type, d, SUM(vc) AS sc FROM ev GROUP BY 1, 2),
rng AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
grid AS (
  SELECT t.event_type, r.d0, r.d1, g.d
  FROM (SELECT DISTINCT event_type FROM daily) t,
       rng r,
       (SELECT UNNEST(range(d0, d1 + 1)) AS d FROM rng) g
),
dense AS (
  SELECT g.event_type, g.d, g.d0, g.d1, COALESCE(daily.sc, 0) AS y
  FROM grid g LEFT JOIN daily
    ON daily.event_type = g.event_type AND daily.d = g.d
)"""


CONFORMAL_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
scored AS (
  SELECT a.event_type, a.d,
         a.d0 + (a.d1 - a.d0) // 2 AS ds,
         ABS(a.y - f.y) AS r
  FROM dense a JOIN dense f
    ON a.event_type = f.event_type
   AND a.d = f.d + {FORECAST_LAG_DAYS}
),
cal AS (SELECT * FROM scored WHERE d < ds),
tst AS (SELECT * FROM scored WHERE d >= ds),
nk AS (
  SELECT event_type, COUNT(*) AS n_cal,
         ((COUNT(*) + 1) * {CONF_ALPHA_DEN - 1} + {CONF_ALPHA_DEN - 1})
           // {CONF_ALPHA_DEN} AS k
  FROM cal GROUP BY 1
),
q AS (
  SELECT c.event_type, MIN(c.r) AS q
  FROM (SELECT c1.event_type, c1.r,
               (SELECT COUNT(*) FROM cal b
                WHERE b.event_type = c1.event_type AND b.r <= c1.r) AS cle
        FROM cal c1) c
  JOIN nk ON nk.event_type = c.event_type
  WHERE c.cle >= nk.k
  GROUP BY 1
),
cov AS (
  SELECT t.event_type, COUNT(*) AS n_test,
         SUM(CASE WHEN t.r <= q.q THEN 1 ELSE 0 END) AS n_cov
  FROM tst t LEFT JOIN q ON q.event_type = t.event_type
  GROUP BY 1
)
SELECT nk.event_type, nk.n_cal,
       CAST(q.q AS BIGINT) AS q_cents,
       CAST(cov.n_test AS BIGINT) AS n_test,
       CASE WHEN q.q IS NOT NULL
            THEN CAST(cov.n_cov AS DOUBLE) / CAST(cov.n_test AS DOUBLE)
       END AS coverage
FROM nk
LEFT JOIN q ON q.event_type = nk.event_type
LEFT JOIN cov ON cov.event_type = nk.event_type
"""


def theil_sen_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the (lower) median of
    all pairwise slopes (y_j − y_i)/(d_j − d_i) over the zero-filled
    daily grid — the estimator that shrugs off the outlier days that
    drag ``trend_ols_events``' least-squares line (29% breakdown
    point vs 0%). Median = the ⌈m/2⌉-th smallest slope (lower median
    — an order STATISTIC, not the two-middle average, so no float
    addition enters the selection).

    Slopes are IEEE divisions of exact integer (Δcents, Δdays) —
    both engines divide identical integers, so the slope multiset
    and its order statistics are bit-equal. Scale: pairs are built
    from the day-grain summary (m = C(days, 2) per type — bounded by
    the calendar², never by event count); the selection window runs
    over pair summaries only. The oracle derives the median
    non-procedurally (min slope whose ≤-count reaches k).

    Output: ``(event_type, n_days, n_pairs, sen_slope)``.
    """
    dense = (_dense_daily(spark, sf_dir)
             .select("event_type", "d", "y").localCheckpoint(eager=False))
    a, b = dense.alias("a"), dense.alias("b")
    pairs = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                    & (F.col("a.d") < F.col("b.d")))
             .select(F.col("a.event_type").alias("event_type"),
                     F.col("a.d").alias("di"), F.col("b.d").alias("dj"),
                     ((F.col("b.y") - F.col("a.y")).cast("double")
                      / (F.col("b.d") - F.col("a.d")).cast("double"))
                     .alias("slope")))
    nk = (pairs.groupBy("event_type")
          .agg(F.count("*").alias("n_pairs"))
          .withColumn("k", F.expr("(n_pairs + 1) DIV 2")))
    ws = W.partitionBy("event_type").orderBy("slope", "di", "dj")
    sen = (pairs.withColumn("_rn", F.row_number().over(ws))
           .join(F.broadcast(nk), "event_type")
           .where(F.col("_rn") == F.col("k"))
           .select("event_type", "n_pairs", F.col("slope").alias("sen_slope")))
    nd = dense.groupBy("event_type").agg(F.count("*").alias("n_days"))
    return (nd.join(sen, "event_type")
            .select("event_type", F.col("n_days").cast("long").alias("n_days"),
                    F.col("n_pairs").cast("long").alias("n_pairs"),
                    "sen_slope"))


THEIL_SEN_ORACLE = f"""
WITH {_DENSE_DAILY_SQL},
pairs AS (
  SELECT a.event_type,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM dense a JOIN dense b
    ON a.event_type = b.event_type AND a.d < b.d
),
nk AS (
  SELECT event_type, COUNT(*) AS n_pairs, (COUNT(*) + 1) // 2 AS k
  FROM pairs GROUP BY 1
),
sen AS (
  SELECT p.event_type, MIN(p.slope) AS sen_slope
  FROM (SELECT c.event_type, c.slope,
               (SELECT COUNT(*) FROM pairs b
                WHERE b.event_type = c.event_type
                  AND b.slope <= c.slope) AS cle
        FROM pairs c) p
  JOIN nk ON nk.event_type = p.event_type
  WHERE p.cle >= nk.k
  GROUP BY 1
),
nd AS (SELECT event_type, COUNT(*) AS n_days FROM dense GROUP BY 1)
SELECT nd.event_type, CAST(nd.n_days AS BIGINT) AS n_days,
       CAST(nk.n_pairs AS BIGINT) AS n_pairs, sen.sen_slope
FROM nd JOIN nk USING (event_type) JOIN sen USING (event_type)
"""


SEASONAL_MIN_N = 30   # minimum peer count before scoring


def seasonal_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware outliers: an event is flagged when its value
    is > 3 population-σ from the mean of its OWN (event_type, ISO
    weekday) peer group — "anomalous FOR a Monday purchase", closing
    the gap the trailing z-score leaves (a normal Saturday spike
    looks anomalous against a Friday-trailing window; against the
    Saturday population it doesn't). The test is LEAVE-ONE-OUT: each
    event is scored against peer statistics with ITSELF removed
    (m = n−1, S' = S−v, Q' = Q−v²), so a lone extreme value cannot
    mask itself by inflating its own baseline.

    Shapes: ONE aggregate to ≤ |types|·7 groups (map-side combined),
    broadcast back — no window at all, so nothing serializes at
    100 TB. The 3σ test stays in exact integers exactly like
    zscore_anomaly_events: (v·m − S')² > 9·(m·Q' − S'²), BIGINT on
    both engines (same envelope as the zscore/CUSUM family: cents ×
    group sizes < 2^63 through sf ~10; DECIMAL(38) partials are the
    documented upgrade past that)."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "event_type",
                  (F.weekday("ts") + 1).cast("long").alias("dow"),
                  F.round(F.col("value") * 100).cast("long").alias("vc")))
    g = ev.groupBy("event_type", "dow").agg(
        F.count("*").alias("n"),
        F.sum("vc").alias("s"),
        F.sum(F.col("vc") * F.col("vc")).alias("q"))
    j = ev.join(F.broadcast(g), ["event_type", "dow"])
    m = F.col("n") - 1
    s1 = F.col("s") - F.col("vc")
    q1 = F.col("q") - F.col("vc") * F.col("vc")
    d = F.col("vc") * m - s1
    var_m2 = m * q1 - s1 * s1
    return (j.where(m >= SEASONAL_MIN_N)
             .select("event_id", "event_type", "dow",
                     m.alias("n_peers"),
                     (d * d > F.lit(9) * var_m2).alias("is_outlier")))


SEASONAL_OUTLIER_ORACLE = f"""
WITH ev AS (
  SELECT event_id, event_type, CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
g AS (
  SELECT event_type, dow, COUNT(*) AS n, SUM(vc) AS s,
         SUM(vc * vc) AS q
  FROM ev GROUP BY 1, 2
)
SELECT event_id, ev.event_type, ev.dow,
       CAST(n - 1 AS BIGINT) AS n_peers,
       (vc * (n - 1) - (s - vc)) * (vc * (n - 1) - (s - vc))
         > 9 * ((n - 1) * (q - vc * vc) - (s - vc) * (s - vc))
         AS is_outlier
FROM ev JOIN g USING (event_type, dow)
WHERE n - 1 >= {SEASONAL_MIN_N}
"""


def dow_seasonality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: mean value by
    ISO weekday and its lift vs the type's overall mean — the
    "is Monday supposed to look like this" baseline the z-score and
    CUSUM monitors calibrate against.

    Cross-engine note: Spark ``weekday`` (Mon=0) + 1 ≡ DuckDB
    ``isodow`` (Mon=1); plain ``dayofweek`` disagrees between the
    engines (Sun=1 vs Sun=0), so ISO numbering is the only portable
    choice. One scan, ≤ types×7 groups, all partial-combinable —
    trivially 100 TB-safe."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type",
                  (F.weekday("ts") + 1).cast("long").alias("dow"),
                  F.round(F.col("value") * 100).cast("long").alias("vc")))
    return dow_profile_closed_form(dow_profile_stats(ev))


DOW_ORACLE = """
WITH stats AS (
  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sv
  FROM events GROUP BY event_type, isodow(ts)
),
tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS tn,
         CAST(SUM(sv) AS BIGINT) AS tv
  FROM stats GROUP BY event_type
)
SELECT s.event_type, s.dow, s.n AS n_events,
       CAST(s.sv AS DOUBLE) / CAST(s.n AS DOUBLE) AS mean_cents,
       (CAST(s.sv AS DOUBLE) / CAST(s.n AS DOUBLE))
         / (CAST(t.tv AS DOUBLE) / CAST(t.tn AS DOUBLE)) AS dow_lift
FROM stats s JOIN tot t ON s.event_type = t.event_type
"""


def chisq_cells_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for event_type × ISO weekday:
    per cell the observed count, the independence-expected count
    E = row_total·col_total/N, and the χ² contribution (O−E)²/E —
    the drift test behind "did the weekly mix shift". Per-cell output
    on purpose: a global χ² is a float sum whose order Spark does not
    fix, while each cell's term is a deterministic IEEE DAG over
    exactly-counted integers (the TV-drift/ OLS discipline). The
    marginal products run in DECIMAL(38,0) before the double cast —
    row·col totals overflow int64 beyond ~3e9 rows each (the CUSUM
    int64 lesson). Three broadcast joins of tiny aggregates over one
    scan."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type",
                  (F.weekday("ts") + 1).cast("long").alias("dow")))
    cells = ev.groupBy("event_type", "dow").agg(F.count("*").alias("o"))
    return chisq_closed_form(cells)


def chisq_closed_form(cells: DataFrame) -> DataFrame:
    """Expected counts + χ² terms from an (event_type, dow, o)
    contingency table — ONE definition shared by the batch op and the
    streaming twin (the cells are mergeable counts, so the same
    aggregate runs complete-mode). The ≤ types×7-row cells table is
    checkpointed: FOUR consumers (cells + row/col/grand margins)
    would otherwise each re-run the events scan."""
    cells = cells.localCheckpoint(eager=False)
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("nn"))
    dec = "decimal(38,0)"
    j = (cells.join(F.broadcast(rows), "event_type")
              .join(F.broadcast(cols), "dow")
              .crossJoin(F.broadcast(n)))
    e = ((F.col("rt").cast(dec) * F.col("ct").cast(dec)).cast("double")
         / F.col("nn").cast("double"))
    o = F.col("o").cast("double")
    return j.select(
        "event_type", "dow", F.col("o").alias("observed"),
        e.alias("expected"),
        ((o - e) * (o - e) / e).alias("chisq_term"))


CHISQ_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow, COUNT(*) AS o
  FROM events GROUP BY event_type, isodow(ts)
),
r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
      FROM cells GROUP BY event_type),
c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY dow),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells)
SELECT cells.event_type, cells.dow, cells.o AS observed,
       CAST(CAST(rt AS DECIMAL(38,0)) * CAST(ct AS DECIMAL(38,0)) AS DOUBLE)
         / CAST(nn AS DOUBLE) AS expected,
       (CAST(o AS DOUBLE)
          - CAST(CAST(rt AS DECIMAL(38,0)) * CAST(ct AS DECIMAL(38,0))
                 AS DOUBLE) / CAST(nn AS DOUBLE))
       * (CAST(o AS DOUBLE)
          - CAST(CAST(rt AS DECIMAL(38,0)) * CAST(ct AS DECIMAL(38,0))
                 AS DOUBLE) / CAST(nn AS DOUBLE))
       / (CAST(CAST(rt AS DECIMAL(38,0)) * CAST(ct AS DECIMAL(38,0))
               AS DOUBLE) / CAST(nn AS DOUBLE)) AS chisq_term
FROM cells JOIN r ON cells.event_type = r.event_type
           JOIN c ON cells.dow = c.dow
           CROSS JOIN n
"""


def ks_drift_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample Kolmogorov–Smirnov drift: for each
    document source, the KS statistic between that source's doc-length
    distribution and the REST of the corpus — the exact-distribution
    companion of ``tv_drift_sources`` (TV buckets and can miss shape
    drift inside a bucket; KS is the sup-norm over the EXACT empirical
    CDFs, the standard two-sample drift test).

    Exactness: D = max_x |F_src(x) − F_rest(x)| and every CDF value is
    a rational count/n, so D·n_s·n_r = max_x |cum_s·n_r − cum_r·n_s|
    is an INTEGER both engines compute identically; the reported
    ``ks`` double is one int÷int division (correctly rounded, same
    DAG). cum·n products stay inside int64 while both sample sizes
    are ≤ ~3·10⁹ docs per source — beyond that, move the final ratio
    to DECIMAL (the χ² oracle's DECIMAL(38) pattern).

    Scale shape: one groupBy to (source, length) counts, after which
    everything is dims-sized (sources × distinct lengths): a
    broadcast grid fills zero cells, two window cumsums give the
    per-source and global CDFs (rest = global − source), and one max
    per source finishes. The corpus shuffles exactly once.

    Output: ``(source, n_src, n_rest, ks_num, ks)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (docs.select("source", F.col("n_chars").alias("x"))
               .groupBy("source", "x").agg(F.count("*").alias("c")))
    grid = (cnt.select("source").distinct()
               .crossJoin(cnt.select("x").distinct())
               .join(cnt, ["source", "x"], "left")
               .withColumn("c", F.coalesce("c", F.lit(0))))
    wsx = W.partitionBy("source").orderBy("x")
    filled = (grid
              .withColumn("g", F.sum("c").over(W.partitionBy("x")))
              .withColumn("cum_s", F.sum("c").over(wsx))
              .withColumn("cum_g", F.sum("g").over(wsx))
              .withColumn("n_s", F.sum("c").over(W.partitionBy("source")))
              .withColumn("n_all", F.sum("c").over(
                  W.partitionBy(F.lit(1)))))
    d = filled.select(
        "source", "n_s", (F.col("n_all") - F.col("n_s")).alias("n_r"),
        F.abs(F.col("cum_s") * (F.col("n_all") - F.col("n_s"))
              - (F.col("cum_g") - F.col("cum_s")) * F.col("n_s"))
         .alias("dnum"))
    return (d.groupBy("source")
             .agg(F.max("n_s").cast("long").alias("n_src"),
                  F.max("n_r").cast("long").alias("n_rest"),
                  F.max("dnum").cast("long").alias("ks_num"))
             .withColumn("ks", F.when(
                 F.col("n_rest") > 0,
                 F.col("ks_num") / (F.col("n_src") * F.col("n_rest")))))


KS_DRIFT_ORACLE = """
WITH cnt AS (
  SELECT source, n_chars AS x, COUNT(*) AS c
  FROM documents GROUP BY source, n_chars
),
grid AS (
  SELECT s.source, v.x, COALESCE(cnt.c, 0) AS c
  FROM (SELECT DISTINCT source FROM cnt) s
  CROSS JOIN (SELECT DISTINCT x FROM cnt) v
  LEFT JOIN cnt ON cnt.source = s.source AND cnt.x = v.x
),
wg AS (
  SELECT source, x, c, SUM(c) OVER (PARTITION BY x) AS g
  FROM grid
),
filled AS (
  SELECT source, x, c, g,
         SUM(c) OVER (PARTITION BY source ORDER BY x) AS cum_s,
         SUM(g) OVER (PARTITION BY source ORDER BY x) AS cum_g,
         SUM(c) OVER (PARTITION BY source) AS n_s,
         SUM(c) OVER () AS n_all
  FROM wg
),
d AS (
  SELECT source, CAST(n_s AS BIGINT) AS n_s,
         CAST(n_all - n_s AS BIGINT) AS n_r,
         CAST(abs(cum_s * (n_all - n_s) - (cum_g - cum_s) * n_s)
              AS BIGINT) AS dnum
  FROM filled
)
SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_src,
       CAST(MAX(n_r) AS BIGINT) AS n_rest,
       CAST(MAX(dnum) AS BIGINT) AS ks_num,
       CASE WHEN MAX(n_r) > 0
            THEN CAST(MAX(dnum) AS BIGINT)
                 / (CAST(MAX(n_s) AS BIGINT) * CAST(MAX(n_r) AS BIGINT))
       END AS ks
FROM d GROUP BY source
"""


def stl_lite_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/residual decomposition of the daily
    event-value series — STL's moving-average skeleton (trend =
    centered 7-day mean, seasonal = per-ISO-weekday mean of the
    detrended series, residual = the rest), completing the
    time-series wing (profile: dow_seasonality; forecast: Holt /
    seasonal-naive; this: the decomposition view analysts eyeball
    first).

    Exactness: daily totals are exact cent longs; trend = (Σ7 longs)
    / 7.0 is ONE division; the seasonal mean of detrended values
    would be an order-sensitive float sum, so it is cleared to
    integer sufficient statistics first — Σ(v·7 − s7) per weekday is
    a pure BIGINT, and seasonal = that / (7·n) in one division;
    residual = (v − trend) − seasonal with fixed parenthesization.
    Trend needs all 7 neighbors (honest NULL edges, the interp_gapfill
    convention), and edge days are excluded throughout so batch and
    oracle see the same population.

    Scale: events collapse to the day grain immediately (≤ a few
    thousand rows at ANY corpus size); every window/aggregate after
    that is dims-sized. Output: ``(day, dow, value_c, trend,
    seasonal, residual)``.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.select(F.expr("unix_micros(ts) DIV 86400000000")
                       .alias("day"),
                       F.round(F.col("value") * 100).cast("long")
                        .alias("vc"))
             .groupBy("day").agg(F.sum("vc").alias("v")))
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    t = (daily
         .withColumn("s7", F.sum("v").over(w7))
         .withColumn("n7", F.count("v").over(w7))
         # centered window is positional: require the 7 CALENDAR
         # days too (gap-free span), not just 7 rows
         .withColumn("span", F.max("day").over(w7) - F.min("day").over(w7))
         .where((F.col("n7") == 7) & (F.col("span") == 6))
         .withColumn("dow", F.expr("(day + 3) % 7 + 1").cast("long")))
    dowagg = (t.groupBy("dow")
              .agg(F.sum(F.col("v") * 7 - F.col("s7")).alias("num"),
                   F.count("*").alias("n")))
    out = (t.join(F.broadcast(dowagg), "dow")
           .select("day", "dow", F.col("v").alias("value_c"),
                   (F.col("s7").cast("double") / F.lit(7.0))
                   .alias("trend"),
                   (F.col("num").cast("double")
                    / (F.col("n") * 7).cast("double")).alias("seasonal")))
    return out.select(
        "day", "dow", "value_c", "trend", "seasonal",
        ((F.col("value_c").cast("double") - F.col("trend"))
         - F.col("seasonal")).alias("residual"))


STL_LITE_ORACLE = """
WITH daily AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1
),
t AS (
  SELECT day, v,
         CAST(SUM(v) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                           AND 3 FOLLOWING) AS BIGINT) AS s7,
         COUNT(v) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                        AND 3 FOLLOWING) AS n7,
         MAX(day) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                        AND 3 FOLLOWING)
           - MIN(day) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS span
  FROM daily
),
kept AS (
  SELECT day, v, s7, CAST((day + 3) % 7 + 1 AS BIGINT) AS dow
  FROM t WHERE n7 = 7 AND span = 6
),
dowagg AS (
  SELECT dow, CAST(SUM(v * 7 - s7) AS BIGINT) AS num,
         COUNT(*) AS n
  FROM kept GROUP BY dow
)
SELECT k.day, k.dow, k.v AS value_c,
       CAST(k.s7 AS DOUBLE) / 7.0 AS trend,
       CAST(d.num AS DOUBLE) / CAST(d.n * 7 AS DOUBLE) AS seasonal,
       (CAST(k.v AS DOUBLE) - CAST(k.s7 AS DOUBLE) / 7.0)
         - CAST(d.num AS DOUBLE) / CAST(d.n * 7 AS DOUBLE) AS residual
FROM kept k JOIN dowagg d ON d.dow = k.dow
"""


def fano_daily_counts(ev: DataFrame) -> DataFrame:
    """Per-(event_type, UTC day) arrival counts — the mergeable
    sufficient statistics of the Fano factor, shared by the batch op
    and its complete-mode streaming twin (``stream_fano_burstiness``),
    the dow_profile_stats pattern."""
    return (ev.select("event_type",
                      F.expr("unix_micros(ts) DIV 86400000000")
                      .alias("day"))
            .groupBy("event_type", "day")
            .agg(F.count("*").alias("c")))


def fano_closed_form(daily: DataFrame) -> DataFrame:
    """Fano factor from the (event_type, day, c) daily-count table —
    see ``fano_burstiness_events`` for exactness notes."""
    dec = "decimal(38,0)"
    g = (daily.groupBy("event_type")
         .agg((F.max("day") - F.min("day") + 1).alias("n_days"),
              F.sum("c").alias("sc"),
              F.sum((F.col("c") * F.col("c")).cast(dec)).alias("sc2")))
    n = F.col("n_days").cast(dec)
    num = (n * F.col("sc2")
           - (F.col("sc").cast(dec) * F.col("sc").cast(dec)))
    den = n * F.col("sc").cast(dec)
    return g.select(
        "event_type", F.col("n_days").cast("long").alias("n_days"),
        (F.col("sc").cast("double") / F.col("n_days").cast("double"))
        .alias("mean_per_day"),
        (num.cast("double") / den.cast("double")).alias("fano"))


def fano_burstiness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type burstiness of the daily arrival process: the Fano
    factor (index of dispersion) F = Var(daily count)/Mean(daily
    count) over the type's FULL calendar span — F ≈ 1 is Poisson-like
    traffic, F ≫ 1 is bursty (incident storms, batch replays), F ≪ 1
    is metronomic (schedulers). The single-number companion of the
    interevent-gap percentiles.

    Empty days count as zeros WITHOUT materializing a grid: zeros add
    nothing to Σc or Σc², so only n_days = max−min+1 needs the span.
    Exactness: population variance over mean clears to
    (n·Σc² − (Σc)²) / (n·Σc) — integer numerator and denominator
    (DECIMAL(38,0) for Σc², which passes int64 once a type logs ~3e9
    events/day), ONE division. Scale: one day-grain partial+final
    aggregate, then per-type dims arithmetic.

    Output: ``(event_type, n_days, mean_per_day, fano)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return fano_closed_form(fano_daily_counts(ev))


FANO_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, day
),
g AS (
  SELECT event_type,
         CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS n_days,
         CAST(SUM(c) AS BIGINT) AS sc,
         SUM(CAST(c * c AS DECIMAL(38,0))) AS sc2
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
       CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_per_day,
       CAST(CAST(n_days AS DECIMAL(38,0)) * sc2
            - CAST(sc AS DECIMAL(38,0)) * CAST(sc AS DECIMAL(38,0))
            AS DOUBLE)
         / CAST(CAST(n_days AS DECIMAL(38,0)) * CAST(sc AS DECIMAL(38,0))
                AS DOUBLE) AS fano
FROM g
"""


REGISTRATIONS = [
    ("zscore_anomaly_events", zscore_anomaly_events, ZSCORE_ORACLE),
    ("tv_drift_sources", tv_drift_sources, TV_DRIFT_ORACLE),
    ("interevent_gap_stats", interevent_gap_stats, INTEREVENT_GAP_ORACLE),
    ("trend_ols_events", trend_ols_events, TREND_OLS_ORACLE),
    ("cusum_changepoint_events", cusum_changepoint_events, CUSUM_ORACLE),
    ("dow_seasonality_events", dow_seasonality_events, DOW_ORACLE),
    ("seasonal_outlier_events", seasonal_outlier_events,
     SEASONAL_OUTLIER_ORACLE),
    ("lagged_corr_events", lagged_corr_events, LAGGED_CORR_ORACLE),
    ("forecast_backtest_events", forecast_backtest_events,
     FORECAST_BACKTEST_ORACLE),
    ("conformal_interval_events", conformal_interval_events,
     CONFORMAL_ORACLE),
    ("theil_sen_trend_events", theil_sen_trend_events, THEIL_SEN_ORACLE),
    ("chisq_cells_events", chisq_cells_events, CHISQ_ORACLE),
    ("ks_drift_sources", ks_drift_sources, KS_DRIFT_ORACLE),
    ("stl_lite_events", stl_lite_events, STL_LITE_ORACLE),
    ("fano_burstiness_events", fano_burstiness_events, FANO_ORACLE),
]


BOT_MIN_GAPS = 12   # users with fewer inter-event gaps aren't scored


def bot_gap_regularity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot / automation screen by inter-event-gap regularity: humans
    produce heavy-tailed, high-entropy gap distributions; schedulers
    and scripts repeat the same gap. For each user with ≥
    ``BOT_MIN_GAPS`` consecutive-event gaps, report the gap-count,
    distinct-gap count, the MODAL gap and its share — a modal share
    near 10000 bp is a cron job, not a customer.

    Exactness: gaps are integer seconds (Spark timestamp→long cast
    truncates ≡ DuckDB FLOOR(epoch)); tie-break on (count DESC, gap
    ASC) pins the mode; shares are integer basis points via DIV.

    Scale: one lag window per user (the sessionize shape — a
    pathological giant user follows the ``sessionize_events_scalable``
    sub-shard decomposition), then a (user, gap) count aggregate and a
    per-user top-1 window over DISTINCT GAP VALUES (already
    collapsed, ≪ events).

    Output: ``(user_id, n_gaps, n_distinct_gaps, mode_gap_s,
    mode_share_bp)``.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("sec"), "event_id")
    wlag = W.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = (ev.withColumn("gap", F.col("sec") - F.lag("sec").over(wlag))
              .where(F.col("gap").isNotNull()))
    cnt = gaps.groupBy("user_id", "gap").agg(F.count("*").alias("c"))
    return bot_gap_closed_form(cnt)


def bot_gap_closed_form(cnt: DataFrame) -> DataFrame:
    """Finish the regularity report from the (user_id, gap, c) counts
    — the MERGEABLE sufficient statistic (plain sums), shared by the
    batch op and ``streaming.stateful.stream_bot_gap_regularity``."""
    wmode = W.partitionBy("user_id").orderBy(F.col("c").desc(),
                                             F.col("gap").asc())
    per_user = (cnt.withColumn("r", F.row_number().over(wmode))
                .groupBy("user_id")
                .agg(F.sum("c").alias("n_gaps"),
                     F.count("*").alias("n_distinct_gaps"),
                     F.max(F.when(F.col("r") == 1, F.col("gap")))
                      .alias("mode_gap_s"),
                     F.max(F.when(F.col("r") == 1, F.col("c")))
                      .alias("mode_c")))
    return (per_user.where(F.col("n_gaps") >= BOT_MIN_GAPS)
            .select("user_id", "n_gaps", "n_distinct_gaps", "mode_gap_s",
                    F.expr("mode_c * 10000 DIV n_gaps")
                     .alias("mode_share_bp")))


BOT_GAP_ORACLE = f"""
WITH g AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
           - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
cnt AS (
  SELECT user_id, gap, COUNT(*) AS c FROM g
  WHERE gap IS NOT NULL GROUP BY user_id, gap
),
ranked AS (
  SELECT user_id, gap, c,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY c DESC, gap ASC) AS r
  FROM cnt
),
per_user AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_gaps,
         COUNT(*) AS n_distinct_gaps,
         MAX(CASE WHEN r = 1 THEN gap END) AS mode_gap_s,
         CAST(MAX(CASE WHEN r = 1 THEN c END) AS BIGINT) AS mode_c
  FROM ranked GROUP BY user_id
)
SELECT user_id, n_gaps, n_distinct_gaps, mode_gap_s,
       mode_c * 10000 // n_gaps AS mode_share_bp
FROM per_user WHERE n_gaps >= {BOT_MIN_GAPS}
"""


REGISTRATIONS.append(("bot_gap_regularity_events", bot_gap_regularity_events,
                      BOT_GAP_ORACLE))


def mk_daily_cells(ev: DataFrame) -> DataFrame:
    """Mergeable cells for the Mann–Kendall test: the per-(type, day)
    event-count grid — one complete-mode aggregate in the streaming
    twin, dims-sized state (types × distinct days)."""
    return (ev.select("event_type", F.to_date("ts").alias("d"))
            .groupBy("event_type", "d")
            .agg(F.count("*").cast("long").alias("c")))


def mk_closed_form(daily: DataFrame) -> DataFrame:
    """Mann–Kendall S, tie-corrected variance numerator, and the
    continuity-corrected z from the (type, day, count) cells. All
    inputs to z are exact integers; z itself is the identical IEEE
    DAG on both engines (one division, one sqrt, one division — each
    correctly rounded), so the doubles are bit-equal."""
    a, b = daily.alias("a"), daily.alias("b")
    s = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                & (F.col("a.d") < F.col("b.d")))
         .groupBy(F.col("a.event_type").alias("event_type"))
         .agg(F.sum(F.when(F.col("b.c") > F.col("a.c"), 1)
                    .when(F.col("b.c") < F.col("a.c"), -1)
                    .otherwise(0)).cast("long").alias("s_stat")))
    nn = (daily.groupBy("event_type")
          .agg(F.count("*").cast("long").alias("n_days")))
    ties = (daily.groupBy("event_type", "c")
            .agg(F.count("*").alias("t"))
            .groupBy("event_type")
            .agg(F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
                 .cast("long").alias("tie_num")))
    out = (nn.join(s, "event_type").join(ties, "event_type")
           .select("event_type", "n_days", "s_stat",
                   (F.expr("n_days * (n_days - 1) * (2 * n_days + 5)")
                    - F.col("tie_num")).cast("long").alias("var_num")))
    return out.select(
        "event_type", "n_days", "s_stat", "var_num",
        F.expr("CASE WHEN var_num > 0 THEN "
               "(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) "
               " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) "
               " ELSE 0.0 END) / SQRT(CAST(var_num AS DOUBLE) / 18.0) "
               "END").alias("z"))


def mann_kendall_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test on the daily event count per
    type (Mann 1945, Kendall's tau numerator): S = Σ_{i<j}
    sign(x_j − x_i) over day pairs, with the standard tie-corrected
    variance and continuity-corrected z — the NONPARAMETRIC
    complement of ``trend_ols_events``' least-squares slope (no
    linearity assumption, robust to outliers and monotone-nonlinear
    drift; the pairing with Theil–Sen's slope is the classic
    trend-monitoring kit).

    Exactness: daily counts are integers, so S, n, and the
    tie-corrected variance numerator n(n−1)(2n+5) − Σ t(t−1)(2t+5)
    are exact BIGINTs; z applies the same 3-op IEEE DAG on both
    engines. Degenerate all-tied series (var 0) yield NULL z,
    mirrored in the oracle.

    Scale: the cells are the (type, day) grid — one map-side
    combinable scan; the pair join is day² PER TYPE over the
    dims-sized grid, never event-grain (the rolling-median /
    lagged-corr discipline). Streaming twin shares the cells and this
    closed form.

    Output: ``(event_type, n_days, s_stat, var_num, z)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return mk_closed_form(mk_daily_cells(ev))


MANN_KENDALL_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.c > a.c THEN 1
                       WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
  GROUP BY a.event_type
),
nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       FROM daily GROUP BY 1),
ties AS (
  SELECT event_type,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_num
  FROM (SELECT event_type, c, COUNT(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
),
base AS (
  SELECT nn.event_type, nn.n_days, s.s_stat,
         CAST(nn.n_days * (nn.n_days - 1) * (2 * nn.n_days + 5)
              - ties.tie_num AS BIGINT) AS var_num
  FROM nn JOIN s USING (event_type) JOIN ties USING (event_type)
)
SELECT event_type, n_days, s_stat, var_num,
       CASE WHEN var_num > 0 THEN
         (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
               WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
               ELSE 0.0 END)
         / SQRT(CAST(var_num AS DOUBLE) / 18.0)
       END AS z
FROM base
"""


REGISTRATIONS.append(("mann_kendall_events", mann_kendall_events,
                      MANN_KENDALL_ORACLE))


def weco_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric control-chart rules on the daily event count
    per type (the 1956 WECO handbook zone tests — the alarm logic
    behind every Shewhart/SPC dashboard): against the series' own
    mean μ and population σ,
    rule 1 = point beyond 3σ; rule 2 = 2 of the last 3 beyond 2σ on
    the SAME side; rule 3 = 4 of the last 5 beyond 1σ same side;
    rule 4 = 8 consecutive on one side of μ. Complements the z-score
    monitor (rule 1 alone) with the run-pattern rules that catch
    slow drifts a single-point test misses.

    Exactness: every zone test clears its denominators — with
    dev = n·c − S, V = n·Q − S² (S = Σc, Q = Σc²),
    |c − μ| > kσ  ⟺  dev² > k²·V — so the flags are pure integer
    comparisons. dev² runs in DECIMAL(38)/HUGEINT (at petabyte daily
    volumes n·c overflows BIGINT when squared — the revenue_gini
    ceiling discipline); the window counts are small ints. Both
    engines evaluate the identical cleared inequalities: no σ, no
    sqrt, no float anywhere.

    Scale: cells are the (type, day) grid (one map-side-combinable
    scan); per-type totals broadcast back onto the grid; the rule
    windows run over ≤ span-days rows per type — never event-grain.

    Output: ``(event_type, d, c, dev, rule1, rule2, rule3, rule4)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return weco_closed_form(mk_daily_cells(ev))


def weco_closed_form(daily: DataFrame) -> DataFrame:
    """The cleared-inequality zone tests from the (type, day, count)
    cells — shared by the batch op, the planted rule-firing tests,
    and the streaming twin (same cells as Mann-Kendall)."""
    tot = (daily.groupBy("event_type")
           .agg(F.count("*").cast("long").alias("n"),
                F.sum("c").cast("long").alias("s"),
                F.sum(F.expr("c * c")).cast("long").alias("q")))
    g = (daily.join(F.broadcast(tot), "event_type")
         .select("event_type", "d", "c",
                 (F.col("n") * F.col("c") - F.col("s")).cast("long")
                  .alias("dev"),
                 (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
                  .cast("long").alias("v")))
    dev2 = F.expr("CAST(dev AS DECIMAL(38,0)) * CAST(dev AS DECIMAL(38,0))")
    vbig = F.expr("CAST(v AS DECIMAL(38,0))")
    g = g.select(
        "event_type", "d", "c", "dev",
        (dev2 > 9 * vbig).alias("b3"),
        (dev2 > 4 * vbig).alias("b2"),
        (dev2 > vbig).alias("b1"))
    w3 = (W.partitionBy("event_type").orderBy("d").rowsBetween(-2, 0))
    w5 = (W.partitionBy("event_type").orderBy("d").rowsBetween(-4, 0))
    w8 = (W.partitionBy("event_type").orderBy("d").rowsBetween(-7, 0))
    pos, neg = F.col("dev") > 0, F.col("dev") < 0
    cnt = lambda cond, w: F.sum(F.when(cond, 1).otherwise(0)).over(w)  # noqa: E731
    return (g.select(
        "event_type", F.col("d").cast("string").alias("d"), "c", "dev",
        F.col("b3").alias("rule1"),
        ((F.col("b2") & pos & (cnt(F.col("b2") & pos, w3) >= 2))
         | (F.col("b2") & neg & (cnt(F.col("b2") & neg, w3) >= 2)))
        .alias("rule2"),
        ((F.col("b1") & pos & (cnt(F.col("b1") & pos, w5) >= 4))
         | (F.col("b1") & neg & (cnt(F.col("b1") & neg, w5) >= 4)))
        .alias("rule3"),
        ((pos & (cnt(pos, w8) >= 8)) | (neg & (cnt(neg, w8) >= 8)))
        .alias("rule4")))


WECO_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM daily GROUP BY 1
),
g AS (
  SELECT daily.event_type, daily.d, daily.c,
         CAST(tot.n * daily.c - tot.s AS BIGINT) AS dev,
         CAST(tot.n * tot.q - tot.s * tot.s AS BIGINT) AS v
  FROM daily JOIN tot USING (event_type)
),
z AS (
  SELECT event_type, d, c, dev,
         CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT)
           > 9 * CAST(v AS HUGEINT) AS b3,
         CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT)
           > 4 * CAST(v AS HUGEINT) AS b2,
         CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT)
           > CAST(v AS HUGEINT) AS b1
  FROM g
)
SELECT event_type, CAST(d AS VARCHAR) AS d, c, dev,
       b3 AS rule1,
       (b2 AND dev > 0 AND SUM(CASE WHEN b2 AND dev > 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2)
       OR (b2 AND dev < 0 AND SUM(CASE WHEN b2 AND dev < 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2) AS rule2,
       (b1 AND dev > 0 AND SUM(CASE WHEN b1 AND dev > 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4)
       OR (b1 AND dev < 0 AND SUM(CASE WHEN b1 AND dev < 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4) AS rule3,
       (dev > 0 AND SUM(CASE WHEN dev > 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) >= 8)
       OR (dev < 0 AND SUM(CASE WHEN dev < 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) >= 8) AS rule4
FROM z
"""


REGISTRATIONS.append(("weco_rules_events", weco_rules_events, WECO_ORACLE))


def pettitt_closed_form(daily: DataFrame) -> DataFrame:
    """Finish the Pettitt changepoint test from the (type, day,
    count) grid — shared by the batch op and
    ``streaming.windows.stream_pettitt_changepoint``.

    Rank identity: with doubled midranks R2_i = 2p + cp + 1 (the
    Mann–Whitney trick), antisymmetry cancels the within-prefix
    pairs, so Pettitt's U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j)
    collapses to the exact integer prefix statistic
    U_t = (Σ_{i≤t} R2_i) − t(n+1). K = max_t |U_t| over the interior
    split points, t* = the earliest day achieving it. Pure integers
    end to end — no float anywhere."""
    from pyspark.sql import Window as W
    v = daily.groupBy("event_type", "c").agg(F.count("*").alias("cnt"))
    wv = W.partitionBy("event_type").orderBy("c")
    r2 = (v.withColumn("cum", F.sum("cnt").over(wv))
           .select("event_type", "c",
                   (2 * (F.col("cum") - F.col("cnt"))
                    + F.col("cnt") + 1).alias("r2")))
    n = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"))
    wd = W.partitionBy("event_type").orderBy("d")
    u = (daily.join(r2, ["event_type", "c"])
              .join(F.broadcast(n), "event_type")
              .withColumn("tix", F.row_number().over(wd))
              .withColumn("s2", F.sum("r2").over(wd))
              .withColumn("u", (F.col("s2")
                                - F.col("tix") * (F.col("n_days") + 1))
                          .cast("long"))
              .filter(F.col("tix") < F.col("n_days"))
              .localCheckpoint(eager=False))   # consumed by two branches
    k = u.groupBy("event_type").agg(
        F.max(F.abs(F.col("u"))).cast("long").alias("k_stat"),
        F.max("n_days").alias("n_days"))
    star = (u.join(F.broadcast(k), "event_type")
             .filter(F.abs(F.col("u")) == F.col("k_stat"))
             .groupBy("event_type")
             .agg(F.min(F.col("d").cast("string")).alias("t_star")))
    at = (u.join(F.broadcast(star.withColumnRenamed("t_star", "d_s")),
                 "event_type")
           .filter(F.col("d").cast("string") == F.col("d_s"))
           .select("event_type", F.col("u").alias("u_at_t")))
    return (k.join(star, "event_type").join(at, "event_type")
             .select("event_type", "n_days", "k_stat", "t_star",
                     "u_at_t"))


def pettitt_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt homogeneity/changepoint test per event type — the
    rank-based single-changepoint locator (Pettitt 1979): the
    nonparametric sibling of ``cusum_changepoint_events`` (CUSUM
    needs a mean/σ reference; Pettitt needs NOTHING — it is a
    Mann–Whitney at every interior split, maximized), and the
    standard homogeneity screen run before trusting a KPI's history.

    Exactness: doubled midranks make every U_t an exact integer (see
    ``pettitt_closed_form``); K, t*, and U_{t*} are integer/date
    outputs — no float anywhere.

    Scale shape: the corpus collapses to the (type, day) count grid
    in one partial+final aggregate (the mergeable cells the streaming
    twin maintains); ranks, prefix sums, and the argmax all run on
    the dims grid partitioned by type — never a corpus window.

    Output: ``(event_type, n_days, k_stat, t_star, u_at_t)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return pettitt_closed_form(mk_daily_cells(ev))


PETTITT_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
v AS (
  SELECT event_type, c, COUNT(*) AS cnt
  FROM daily GROUP BY event_type, c
),
r2t AS (
  SELECT event_type, c,
         2 * (SUM(cnt) OVER (PARTITION BY event_type ORDER BY c)
              - cnt) + cnt + 1 AS r2
  FROM v
),
n AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
),
u AS (
  SELECT daily.event_type, d, n_days,
         ROW_NUMBER() OVER (PARTITION BY daily.event_type ORDER BY d)
           AS tix,
         CAST(SUM(r2) OVER (PARTITION BY daily.event_type ORDER BY d)
              - (ROW_NUMBER() OVER (PARTITION BY daily.event_type
                                    ORDER BY d))
                * (n_days + 1) AS BIGINT) AS u
  FROM daily
  JOIN r2t ON daily.event_type = r2t.event_type AND daily.c = r2t.c
  JOIN n ON daily.event_type = n.event_type
  QUALIFY tix < n_days
),
k AS (
  SELECT event_type, CAST(MAX(ABS(u)) AS BIGINT) AS k_stat,
         MAX(n_days) AS n_days
  FROM u GROUP BY event_type
),
star AS (
  SELECT u.event_type, MIN(CAST(d AS VARCHAR)) AS t_star
  FROM u JOIN k ON u.event_type = k.event_type
  WHERE ABS(u) = k_stat
  GROUP BY u.event_type
)
SELECT k.event_type, k.n_days AS n_days, k_stat, t_star, u.u AS u_at_t
FROM k
JOIN star ON k.event_type = star.event_type
JOIN u ON u.event_type = k.event_type
      AND CAST(u.d AS VARCHAR) = star.t_star
"""


REGISTRATIONS.append(("pettitt_changepoint_events",
                      pettitt_changepoint_events, PETTITT_ORACLE))


def seasonal_kendall_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Kendall trend test (Hirsch et al. 1982) per event
    type — the Mann–Kendall variant every KPI with weekly seasonality
    actually needs: comparing Mondays only with Mondays (season =
    day-of-week), so the weekly cycle can neither mask a real trend
    nor fake one. S = Σ_seasons S_s and Var = Σ_seasons Var_s; the
    z formula (continuity-corrected, tie-corrected) is
    ``mann_kendall_events``' applied to the summed statistics.

    Exactness: S_s and every variance term are exact integers (the
    MK discipline); z is the same one-division/one-sqrt/one-division
    IEEE DAG in both engines.

    Scale shape: the corpus collapses to the (type, day) grid once
    (the shared ``mk_daily_cells``); the pair join runs within
    (type, season) — per-season day grids, ~n/7 rows each, so the
    quadratic term is 7× smaller than MK's own dims-bounded join.

    Output: ``(event_type, n_seasons, s_stat, var_num, z)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return sk_closed_form(mk_daily_cells(ev))


def sk_closed_form(cells: DataFrame) -> DataFrame:
    """Finish the seasonal Kendall statistics from the (type, day,
    count) grid — shared by the batch op and ``streaming.windows.
    stream_seasonal_kendall`` (the same cells the Mann–Kendall twin
    maintains; the season key derives from the day batch-side)."""
    daily = cells.withColumn("season", F.dayofweek("d").cast("long"))
    a, b = daily.alias("a"), daily.alias("b")
    s = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                & (F.col("a.season") == F.col("b.season"))
                & (F.col("a.d") < F.col("b.d")))
         .groupBy(F.col("a.event_type").alias("event_type"))
         .agg(F.sum(F.when(F.col("b.c") > F.col("a.c"), 1)
                    .when(F.col("b.c") < F.col("a.c"), -1)
                    .otherwise(0)).cast("long").alias("s_stat")))
    per_season = (daily.groupBy("event_type", "season")
                  .agg(F.count("*").cast("long").alias("n_s")))
    ties = (daily.groupBy("event_type", "season", "c")
            .agg(F.count("*").alias("t"))
            .groupBy("event_type", "season")
            .agg(F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
                 .cast("long").alias("tie_num_s")))
    var = (per_season.join(ties, ["event_type", "season"])
           .groupBy("event_type")
           .agg(F.count("*").cast("long").alias("n_seasons"),
                F.sum(F.expr("n_s * (n_s - 1) * (2 * n_s + 5) "
                             "- tie_num_s"))
                 .cast("long").alias("var_num")))
    out = var.join(s, "event_type")
    return out.select(
        "event_type", "n_seasons", "s_stat", "var_num",
        F.expr("CASE WHEN var_num > 0 THEN "
               "(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) "
               " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) "
               " ELSE 0.0 END) / SQRT(CAST(var_num AS DOUBLE) / 18.0) "
               "END").alias("z"))


SEASONAL_KENDALL_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS season,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3
),
s AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.c > a.c THEN 1
                       WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.season = b.season
   AND a.d < b.d
  GROUP BY a.event_type
),
per_season AS (
  SELECT event_type, season, CAST(COUNT(*) AS BIGINT) AS n_s
  FROM daily GROUP BY event_type, season
),
ties AS (
  SELECT event_type, season,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_num_s
  FROM (SELECT event_type, season, c, COUNT(*) AS t
        FROM daily GROUP BY event_type, season, c)
  GROUP BY event_type, season
),
var AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_seasons,
         CAST(SUM(n_s * (n_s - 1) * (2 * n_s + 5) - tie_num_s)
              AS BIGINT) AS var_num
  FROM per_season JOIN ties USING (event_type, season)
  GROUP BY event_type
)
SELECT var.event_type, n_seasons, s_stat, var_num,
       CASE WHEN var_num > 0 THEN
         (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
               WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
               ELSE 0.0 END) / SQRT(CAST(var_num AS DOUBLE) / 18.0)
       END AS z
FROM var JOIN s ON var.event_type = s.event_type
"""


REGISTRATIONS.append(("seasonal_kendall_events", seasonal_kendall_events,
                      SEASONAL_KENDALL_ORACLE))


# --- Page–Hinkley drift detector (round 10) --------------------------------

PH_DELTA_CENTS = 10       # per-day drift allowance on the daily-total scale
PH_LAMBDA_CENTS = 100_000  # alarm threshold (in cents, unscaled)


def ph_daily_cells(ev: DataFrame) -> DataFrame:
    """Mergeable cells for the Page–Hinkley detector: the per-(type,
    day) value-sum grid in cents — one complete-mode aggregate in the
    streaming twin, dims-sized state."""
    return (ev.select("event_type", F.to_date("ts").alias("d"),
                      F.round(F.col("value") * 100).cast("long").alias("vc"))
            .groupBy("event_type", "d")
            .agg(F.sum("vc").alias("sv")))


def ph_closed_form(daily: DataFrame) -> DataFrame:
    """Finish the Page–Hinkley readout from the (type, day, sv) grid
    — shared by the batch op and ``streaming.windows
    .stream_page_hinkley``. All windows run over the DAY grid
    (dims-sized partitions), never event grain."""
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("sv").cast("long").alias("s"))
    wd = W.partitionBy("event_type").orderBy("d")
    pre = (daily.join(F.broadcast(tot), "event_type")
           .withColumn("t", F.row_number().over(wd).cast("long"))
           .withColumn("pref", F.sum("sv").over(wd)))
    m = pre.withColumn(
        "m", F.col("nd") * (F.col("pref")
                            - F.col("t") * F.lit(PH_DELTA_CENTS))
             - F.col("t") * F.col("s"))
    wmin = (W.partitionBy("event_type").orderBy("t")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    ph = m.withColumn("ph", F.col("m") - F.min("m").over(wmin))
    wrank = W.partitionBy("event_type").orderBy(F.col("ph").desc(), "t")
    return (ph.withColumn("rk", F.row_number().over(wrank))
            .where(F.col("rk") == 1)
            .select("event_type", F.col("nd").alias("n_days"),
                    F.col("ph").cast("long").alias("ph_scaled"),
                    F.date_format("d", "yyyy-MM-dd").alias("ph_day"),
                    (F.col("ph") > F.lit(PH_LAMBDA_CENTS) * F.col("nd"))
                    .alias("alarm")))


def page_hinkley_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detector on the daily value total per event
    type (Page 1954's other statistic; the streaming-drift standard
    in the data-stream literature, e.g. Gama et al.'s drift survey):
    m_t = Σ_{i≤t}(x_i − x̄ − δ), PH_t = m_t − min_{s≤t} m_s, alarm
    when max_t PH_t exceeds λ. Distinct from
    ``cusum_changepoint_events`` (argmax of the centered prefix —
    WHERE the level shifted): PH measures the post-change ACCUMULATED
    exceedance against its running minimum — WHETHER an upward drift
    bigger than the δ allowance has emerged.

    Exactness: the x̄ division never happens — with D days and total
    S, m̃_t = D·(prefix_t − t·δ) − t·S scales every m_t by D > 0,
    preserving the running min, the differences, and the argmax; all
    BIGINT (D·prefix ~ 10¹⁴ at ×100 fixture scale, far inside int64).
    The alarm compares ph_scaled > λ·D — the unscaled λ threshold on
    the same cleared grid. Ties in the argmax break to the earliest
    day on both engines (ROW_NUMBER over (ph DESC, t)).

    Scale: one map-side-combinable scan to the (type, day) cells;
    every window is over the day grid. Output: ``(event_type,
    n_days, ph_scaled, ph_day, alarm)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return ph_closed_form(ph_daily_cells(ev))


PAGE_HINKLEY_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(sv) AS BIGINT) AS s
  FROM daily GROUP BY 1
),
pre AS (
  SELECT daily.event_type, d, nd, s,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
         CAST(SUM(sv) OVER w AS BIGINT) AS pref
  FROM daily JOIN tot USING (event_type)
  WINDOW w AS (PARTITION BY daily.event_type ORDER BY d)
),
m AS (
  SELECT event_type, d, t, nd,
         nd * (pref - t * {PH_DELTA_CENTS}) - t * s AS m
  FROM pre
),
ph AS (
  SELECT event_type, d, t, nd,
         m - MIN(m) OVER (PARTITION BY event_type ORDER BY t) AS ph
  FROM m
)
SELECT event_type, nd AS n_days, CAST(ph AS BIGINT) AS ph_scaled,
       strftime(d, '%Y-%m-%d') AS ph_day,
       ph > {PH_LAMBDA_CENTS} * nd AS alarm
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY ph DESC, t) AS rk
      FROM ph)
WHERE rk = 1
"""


REGISTRATIONS.append(("page_hinkley_events", page_hinkley_events,
                      PAGE_HINKLEY_ORACLE))


# --- Wald–Wolfowitz runs test (round 10) -----------------------------------


def runs_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for RANDOMNESS of each type's daily
    series (Wald & Wolfowitz 1940): code each day above/below the
    series' own median, count the runs R of consecutive equal signs;
    too few runs = clustering/drift, too many = oscillation. The
    standard sanity check BEFORE trusting any i.i.d.-assuming monitor
    on the same grid (the Mann–Kendall / WECO family's premise).

    Exactness: the median is the exact lower nearest-rank element of
    the daily counts (integer); days equal to the median are dropped
    (the standard convention), leaving n₁ above / n₂ below; R is an
    exact integer count of sign changes + 1 via one lag over the day
    grid. Expected runs E·(n₁+n₂) = 2n₁n₂ + (n₁+n₂) is carried as an
    integer numerator (μ = that / n, never formed as float);
    the variance numerator 2n₁n₂(2n₁n₂ − n) is exact BIGINT.

    Scale: (type, day) cells again; the median, lag, and run count
    are all day-grid work. Output: ``(event_type, n_above, n_below,
    n_runs, e_num, var_num)`` — z-scoring left to the consumer (the
    division is rational; the sufficient statistics are exact).
    """
    return runs_closed_form(
        mk_daily_cells(load_table(spark, sf_dir, "events")))


def runs_closed_form(daily: DataFrame) -> DataFrame:
    """Runs-test readout from the (type, day, c) grid — shared by the
    batch op and ``streaming.windows.stream_runs_test``."""
    wd = W.partitionBy("event_type").orderBy("c")
    wall = W.partitionBy("event_type")
    med = (daily
           .withColumn("rk", F.row_number().over(wd))
           .withColumn("n", F.count("*").over(wall))
           .where(F.col("rk") == F.expr("(n + 1) DIV 2"))
           .select("event_type", F.col("c").alias("med")))
    signed = (daily.join(med, "event_type")
              .where(F.col("c") != F.col("med"))
              .select("event_type", "d",
                      (F.col("c") > F.col("med")).alias("up")))
    wlag = W.partitionBy("event_type").orderBy("d")
    runs = (signed
            .withColumn("prev", F.lag("up").over(wlag))
            .groupBy("event_type")
            .agg(F.sum(F.when(F.col("up"), 1).otherwise(0))
                 .cast("long").alias("n_above"),
                 F.sum(F.when(F.col("up"), 0).otherwise(1))
                 .cast("long").alias("n_below"),
                 (F.sum(F.when(F.col("prev").isNull()
                               | (F.col("prev") != F.col("up")), 1)
                        .otherwise(0)).cast("long")).alias("n_runs")))
    n = F.col("n_above") + F.col("n_below")
    prod2 = 2 * F.col("n_above") * F.col("n_below")
    return runs.select(
        "event_type", "n_above", "n_below", "n_runs",
        (prod2 + n).cast("long").alias("e_num"),
        (prod2 * (prod2 - n)).cast("long").alias("var_num"))


RUNS_TEST_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, c AS med FROM (
    SELECT event_type, c,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily)
  WHERE rk = (n + 1) // 2
),
signed AS (
  SELECT daily.event_type, d, daily.c > med AS up
  FROM daily JOIN med USING (event_type)
  WHERE daily.c <> med
),
lagged AS (
  SELECT event_type, up,
         LAG(up) OVER (PARTITION BY event_type ORDER BY d) AS prev
  FROM signed
),
runs AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         CAST(SUM(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n_below,
         CAST(SUM(CASE WHEN prev IS NULL OR prev <> up THEN 1 ELSE 0 END)
              AS BIGINT) AS n_runs
  FROM lagged GROUP BY 1
)
SELECT event_type, n_above, n_below, n_runs,
       CAST(2 * n_above * n_below + (n_above + n_below) AS BIGINT) AS e_num,
       CAST(2 * n_above * n_below
            * (2 * n_above * n_below - (n_above + n_below)) AS BIGINT)
         AS var_num
FROM runs
"""


REGISTRATIONS.append(("runs_test_events", runs_test_events,
                      RUNS_TEST_ORACLE))


# --- k-sample Mood's median test across event types (round 11) ------------


def mood_median_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-SAMPLE Mood's median test (Brown & Mood 1951): did every
    event type draw its values from a distribution with the same
    median? The k-group generalization of the two-arm
    ``median_sign_test_events``, the median-grain sibling of
    Kruskal–Wallis — coarser but immune to anything but the middle
    (the robustness screen a mixed-metric events feed wants).

    Per type the 2×k contingency row is (above grand median, not
    above); the χ² contribution is cleared EXACTLY to the ppm grid:
    term = (a_g·N − n_g·A)² / (A·(N−A)·n_g) · 10⁶ with wide-integer
    numerator/denominator and truncating DIV on both engines (the
    grand median is the lower nearest-rank order statistic, the
    median_sign convention). No float anywhere.

    Scale shape: one aggregate to the (type, cents) cells, then one
    ordered window over that grid (pooled count below each value and
    the corpus total), one per-type aggregate, and a k-row readout —
    no join (see ``mood_k_closed_form``).
    Degenerate corpora (all values equal ⇒ A = 0) yield NULL terms on
    both engines.

    Output: ``(event_type, n_g, n_above, mood_term_ppm)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return mood_k_closed_form(mood_k_cells(ev))


def mood_k_cells(ev: DataFrame) -> DataFrame:
    """Per-(type, cents) value counts — the MERGEABLE sufficient
    statistic (the mw_value_counts shape keyed by type), shared by
    the batch op and ``streaming.windows.stream_mood_median_k``."""
    return (ev.select("event_type",
                      F.round(F.col("value") * 100).cast("long")
                       .alias("vc"))
            .groupBy("event_type", "vc")
            .agg(F.count("*").cast("long").alias("c")))


def mood_k_closed_form(cells: DataFrame) -> DataFrame:
    """Grand median + per-type cleared χ² terms from the (type, vc, c)
    cells — shared by batch and streaming twin.

    Single pass: one window ordered by vc puts the pooled count
    strictly below (``p``) and the corpus total N on every cell.
    The grand median m is the least vc whose cumulative count reaches
    pos = (N + 1) DIV 2, so vc > m exactly when p ≥ pos (every value
    below vc is then ≤ m, and every value ≤ m already holds pos
    rows) — so the above-median flag is a per-row comparison. One
    per-type aggregate then counts n_g and n_above, and the global
    N / A are ``over ()`` sums on the k-row per-type table. No join,
    no driver collect; the only single-partition sort is the cells
    grid (types × cents)."""
    w = W.orderBy("vc")
    ranked = cells.select(
        "event_type", "c",
        F.coalesce(F.sum("c").over(w.rangeBetween(W.unboundedPreceding,
                                                   -1)),
                   F.lit(0)).alias("p"),
        F.sum("c").over(w.rangeBetween(W.unboundedPreceding,
                                       W.unboundedFollowing)).alias("n"))
    per = ranked.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(F.when(F.col("p") >= F.expr("(n + 1) DIV 2"), F.col("c"))
               .otherwise(0)).cast("long").alias("n_above"))
    every = W.partitionBy()
    glob = per.select(
        "event_type", "n_g", "n_above",
        F.sum("n_g").over(every).cast("long").alias("nn"),
        F.sum("n_above").over(every).cast("long").alias("aa"))
    term = ("CAST(CASE WHEN aa > 0 AND aa < nn THEN"
            " (CAST(n_above AS DECIMAL(38,0)) * nn"
            "  - CAST(n_g AS DECIMAL(38,0)) * aa)"
            " * (CAST(n_above AS DECIMAL(38,0)) * nn"
            "    - CAST(n_g AS DECIMAL(38,0)) * aa) * 1000000"
            " DIV (CAST(aa AS DECIMAL(38,0)) * (nn - aa) * n_g)"
            " END AS BIGINT)")
    return glob.select("event_type", "n_g", "n_above",
                       F.expr(term).alias("mood_term_ppm"))


MOOD_MEDIAN_K_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
vals AS (
  SELECT vc, SUM(c) AS c, SUM(SUM(c)) OVER (ORDER BY vc) AS cum
  FROM cells GROUP BY vc
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
med AS (
  SELECT MIN(vc) AS median_c FROM vals, tot
  WHERE cum >= (n + 1) // 2
),
per AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_g,
         CAST(SUM(CASE WHEN vc > median_c THEN c ELSE 0 END) AS BIGINT)
           AS n_above
  FROM cells, med GROUP BY event_type
),
gtot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS nn,
         CAST(SUM(n_above) AS BIGINT) AS aa
  FROM per
)
SELECT event_type, n_g, n_above,
       CAST(CASE WHEN aa > 0 AND aa < nn THEN
         (CAST(n_above AS HUGEINT) * nn - CAST(n_g AS HUGEINT) * aa)
         * (CAST(n_above AS HUGEINT) * nn - CAST(n_g AS HUGEINT) * aa)
         * 1000000
         // (CAST(aa AS HUGEINT) * (nn - aa) * n_g)
       END AS BIGINT) AS mood_term_ppm
FROM per, gtot
"""


REGISTRATIONS.append(("mood_median_k_events", mood_median_k_events,
                      MOOD_MEDIAN_K_ORACLE))


# --- Cramér's V association strength (round 11) ----------------------------


def cramers_v_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between event type and ISO weekday — the bounded
    [0,1] ASSOCIATION-STRENGTH readout on top of the
    ``chisq_cells_events`` independence cells (Cramér 1946):
    V = sqrt(χ² / (N·min(r−1, k−1))). The χ² test says "the weekly
    mix shifted"; V says by HOW MUCH on a scale dashboards can
    threshold (the effect-size/p-value discipline of the
    rank-biserial pair, applied to the drift family).

    Exactness: each cell's χ² term is the chisq_cells fixed IEEE DAG
    over exact integers; the TOTAL is an ORDER-FIXED sequential fold
    over the (type, dow)-sorted term array (Spark ``F.aggregate`` ≡
    DuckDB ``list_reduce`` — the identical left-fold IEEE sequence,
    the ewma/list-fold precedent), never an unordered float SUM; the
    final sqrt/divisions are one shared DAG. Cells are dims-sized
    (types × 7), so the collected array is bounded.

    Output: ``(n, n_rows, n_cols, chi2, cramers_v)``.
    """
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type",
                  (F.weekday("ts") + 1).cast("long").alias("dow")))
    return cramers_v_closed_form(cramers_v_cells(ev))


def cramers_v_cells(ev: DataFrame) -> DataFrame:
    """Observed (type, weekday) contingency counts — the MERGEABLE
    sufficient statistic (types × 7 state), shared by the batch op
    and ``streaming.windows.stream_cramers_v``. Expects columns
    (event_type, dow)."""
    return (ev.groupBy("event_type", "dow")
            .agg(F.count("*").cast("long").alias("o")))


def cramers_v_closed_form(seen: DataFrame) -> DataFrame:
    """χ² (order-fixed fold) + V from the observed counts — shared by
    batch and streaming twin."""
    seen = seen.localCheckpoint(eager=False)
    # χ² needs the EMPTY cells too ((0−E)²/E = E) — groupBy only
    # emits observed combinations, so complete the r×k grid first
    cells = (seen.select("event_type").distinct()
             .crossJoin(seen.select("dow").distinct())
             .join(seen, ["event_type", "dow"], "left")
             .fillna(0, subset=["o"]))
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("nn"),
                  F.countDistinct("event_type").cast("long").alias("r"),
                  F.countDistinct("dow").cast("long").alias("k"))
    dec = "decimal(38,0)"
    j = (cells.join(F.broadcast(rows), "event_type")
              .join(F.broadcast(cols), "dow")
              .crossJoin(F.broadcast(n)))
    e = ((F.col("rt").cast(dec) * F.col("ct").cast(dec)).cast("double")
         / F.col("nn").cast("double"))
    o = F.col("o").cast("double")
    terms = j.select(
        "nn", "r", "k", "event_type", "dow",
        ((o - e) * (o - e) / e).alias("term"))
    agg = (terms.groupBy("nn", "r", "k")
           .agg(F.array_sort(
                    F.collect_list(F.struct("event_type", "dow", "term")))
                 .alias("arr")))
    chi2 = F.aggregate(F.expr("transform(arr, x -> x.term)"),
                       F.lit(0.0), lambda acc, x: acc + x)
    return agg.select(
        F.col("nn").alias("n"), F.col("r").alias("n_rows"),
        F.col("k").alias("n_cols"), chi2.alias("chi2"),
        F.sqrt(chi2 / (F.col("nn").cast("double")
                       * F.expr("CAST(least(r - 1, k - 1) AS DOUBLE)")))
         .alias("cramers_v"))


CRAMERS_V_ORACLE = """
WITH seen AS (
  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, isodow(ts)
),
cells AS (
  SELECT et.event_type, dw.dow, COALESCE(seen.o, 0) AS o
  FROM (SELECT DISTINCT event_type FROM seen) et
  CROSS JOIN (SELECT DISTINCT dow FROM seen) dw
  LEFT JOIN seen ON seen.event_type = et.event_type
                AND seen.dow = dw.dow
),
r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
      FROM cells GROUP BY event_type),
c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY dow),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS rr,
             CAST(COUNT(DISTINCT dow) AS BIGINT) AS kk
      FROM cells),
terms AS (
  SELECT nn, rr, kk, cells.event_type, cells.dow,
         (CAST(o AS DOUBLE)
            - CAST(CAST(rt AS DECIMAL(38,0)) * CAST(ct AS DECIMAL(38,0))
                   AS DOUBLE) / CAST(nn AS DOUBLE))
         * (CAST(o AS DOUBLE)
            - CAST(CAST(rt AS DECIMAL(38,0)) * CAST(ct AS DECIMAL(38,0))
                   AS DOUBLE) / CAST(nn AS DOUBLE))
         / (CAST(CAST(rt AS DECIMAL(38,0)) * CAST(ct AS DECIMAL(38,0))
                 AS DOUBLE) / CAST(nn AS DOUBLE)) AS term
  FROM cells JOIN r ON cells.event_type = r.event_type
             JOIN c ON cells.dow = c.dow
             CROSS JOIN n
),
folded AS (
  SELECT nn, rr, kk,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             CAST(LIST(term ORDER BY event_type, dow) AS DOUBLE[])),
           (a, b) -> a + b) AS chi2
  FROM terms GROUP BY nn, rr, kk
)
SELECT nn AS n, rr AS n_rows, kk AS n_cols, chi2,
       SQRT(chi2 / (CAST(nn AS DOUBLE)
                    * CAST(least(rr - 1, kk - 1) AS DOUBLE)))
         AS cramers_v
FROM folded
"""


REGISTRATIONS.append(("cramers_v_events", cramers_v_events,
                      CRAMERS_V_ORACLE))


# --- Bartels rank von Neumann serial-randomness test (round 11) -----------


def bartels_daily_cells(ev: DataFrame) -> DataFrame:
    """Per-(type, day) value-sum grid in cents — the MERGEABLE
    sufficient statistic for the Bartels test (the ph_daily_cells
    shape), shared by the batch op and ``streaming.windows.
    stream_bartels_rank``."""
    return (ev.select("event_type", F.to_date("ts").alias("d"),
                      F.round(F.col("value") * 100).cast("long")
                       .alias("vc"))
            .groupBy("event_type", "d")
            .agg(F.sum("vc").cast("long").alias("v")))


def bartels_closed_form(daily: DataFrame) -> DataFrame:
    """Bartels statistic from the (type, day, value) grid — shared by
    batch and streaming twin. Midranks carried DOUBLED (2R = 2p+c+1),
    so the successive-difference sum NM4 = Σ(2R_i − 2R_{i+1})² = 4·NM
    and the centering sum D4 = Σ(2R_i − (n+1))² = 4·D are exact
    BIGINTs and RVN = NM/D = NM4/D4 clears to the ppm grid with one
    truncating DIV (expected value 2·10⁶ under randomness)."""
    daily = daily.localCheckpoint(eager=False)
    vg = (daily.groupBy("event_type", "v")
          .agg(F.count("*").cast("long").alias("c")))
    w = W.partitionBy("event_type").orderBy("v")
    vg = vg.withColumn("below", F.sum("c").over(w) - F.col("c"))
    ranked = (daily.join(vg, ["event_type", "v"])
              .select("event_type", "d",
                      (2 * F.col("below") + F.col("c") + 1)
                      .cast("long").alias("r2")))
    wd = W.partitionBy("event_type").orderBy("d")
    diffed = ranked.withColumn("dr2", F.col("r2") - F.lag("r2").over(wd))
    nn = daily.groupBy("event_type").agg(F.count("*").cast("long")
                                         .alias("n_days"))
    d4 = (ranked.join(nn, "event_type")
          .groupBy("event_type")
          .agg(F.sum(F.expr("(r2 - (n_days + 1)) * (r2 - (n_days + 1))"))
               .cast("long").alias("d4")))
    nm = (diffed.where(F.col("dr2").isNotNull())
          .groupBy("event_type")
          .agg(F.sum(F.expr("dr2 * dr2")).cast("long").alias("nm4")))
    return (nn.join(nm, "event_type").join(d4, "event_type")
            .select("event_type", "n_days", "nm4", "d4",
                    F.expr("CAST(CASE WHEN d4 > 0 THEN"
                           " CAST(nm4 AS DECIMAL(38,0)) * 1000000 DIV d4"
                           " END AS BIGINT)").alias("rvn_ppm")))


def bartels_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels rank von Neumann ratio test for SERIAL randomness of
    the daily value series per event type (Bartels 1982): the
    rank-based successive-difference ratio RVN = Σ(R_i − R_{i+1})² /
    Σ(R_i − R̄)², ≈2 under independence, <2 under positive serial
    dependence (trending), >2 under oscillation — the RANK complement
    of ``runs_test_events`` (which sees only the above/below-median
    sign) and the serial-dependence screen beside Mann–Kendall's
    monotone trend.

    Exactness: doubled midranks make every sum a pure BIGINT; the
    ratio clears to ppm with truncating DIV on both engines (see
    ``bartels_closed_form``). No float anywhere.

    Scale shape: one map-side-combinable aggregate to the (type, day)
    grid; ranking and differencing are dims-sized window work (days
    per type), never event-grain. Streaming twin shares the cells
    and this closed form.

    Output: ``(event_type, n_days, nm4, d4, rvn_ppm)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return bartels_closed_form(bartels_daily_cells(ev))


BARTELS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
vg AS (
  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c,
         SUM(COUNT(*)) OVER (PARTITION BY event_type ORDER BY v)
           - COUNT(*) AS below
  FROM daily GROUP BY event_type, v
),
ranked AS (
  SELECT daily.event_type, daily.d,
         CAST(2 * vg.below + vg.c + 1 AS BIGINT) AS r2
  FROM daily JOIN vg ON daily.event_type = vg.event_type
                    AND daily.v = vg.v
),
diffed AS (
  SELECT event_type, r2,
         r2 - LAG(r2) OVER (PARTITION BY event_type ORDER BY d) AS dr2
  FROM ranked
),
nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       FROM daily GROUP BY 1),
nm AS (SELECT event_type, CAST(SUM(dr2 * dr2) AS BIGINT) AS nm4
       FROM diffed WHERE dr2 IS NOT NULL GROUP BY 1),
d4 AS (
  SELECT ranked.event_type,
         CAST(SUM((r2 - (n_days + 1)) * (r2 - (n_days + 1))) AS BIGINT)
           AS d4
  FROM ranked JOIN nn ON ranked.event_type = nn.event_type
  GROUP BY 1
)
SELECT nn.event_type, nn.n_days, nm.nm4, d4.d4,
       CAST(CASE WHEN d4.d4 > 0 THEN
         CAST(nm.nm4 AS HUGEINT) * 1000000 // d4.d4
       END AS BIGINT) AS rvn_ppm
FROM nn JOIN nm ON nn.event_type = nm.event_type
        JOIN d4 ON nn.event_type = d4.event_type
"""


REGISTRATIONS.append(("bartels_rank_events", bartels_rank_events,
                      BARTELS_ORACLE))


# --- Cox–Stuart trend sign test (round 11) ---------------------------------


def cox_stuart_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox–Stuart trend test on the daily value series per event type
    (Cox & Stuart 1955): pair day i with day i + ⌈n/2⌉ (the middle
    day of an odd series drops), count rises vs falls, and apply the
    sign test — the 30-second trend screen that needs ONE pass and
    no rank machinery (the cheap triage before Mann–Kendall's full
    pairwise S; they disagree only on pathological series).

    Exactness: pure integer counts; the sign-test statistic
    (n⁺ − n⁻)²/(n⁺ + n⁻) clears to ppm with truncating DIV, NULL on
    tie-only series (the rank-biserial guard pattern on both
    engines).

    Scale shape: one aggregate to the (type, day) grid, one
    row_number window over dims-sized days, one half-offset
    self-join per type. Never event-grain.

    Output: ``(event_type, n_days, n_plus, n_minus, cs_x2_ppm,
    trend_sign)``.
    """
    ev = load_table(spark, sf_dir, "events")
    return cox_stuart_closed_form(bartels_daily_cells(ev))


def cox_stuart_closed_form(daily: DataFrame) -> DataFrame:
    """Half-offset sign counts + cleared statistic from the
    (type, day, value) grid — shared by the batch op and
    ``streaming.windows.stream_cox_stuart`` (the cells are
    ``bartels_daily_cells``, one complete-mode aggregate)."""
    daily = daily.localCheckpoint(eager=False)
    wd = W.partitionBy("event_type").orderBy("d")
    rn = daily.select("event_type", "v",
                      F.row_number().over(wd).cast("long").alias("rn"))
    nn = daily.groupBy("event_type").agg(F.count("*").cast("long")
                                         .alias("n_days"))
    half = rn.join(nn, "event_type").withColumn(
        "c", F.expr("(n_days + 1) DIV 2"))
    a = half.where(F.col("rn") <= F.col("n_days") - F.col("c")).alias("a")
    b = rn.select(F.col("event_type").alias("et_b"),
                  F.col("rn").alias("rn_b"), F.col("v").alias("v_b"))
    pairs = a.join(b, (F.col("a.event_type") == F.col("et_b"))
                   & (F.col("a.rn") + F.col("a.c") == F.col("rn_b"))) \
             .select(F.col("a.event_type").alias("event_type"),
                     F.col("a.v").alias("v"), "v_b")
    agg = (pairs.groupBy("event_type")
           .agg(F.sum(F.when(F.col("v_b") > F.col("v"), 1).otherwise(0))
                 .cast("long").alias("n_plus"),
                F.sum(F.when(F.col("v_b") < F.col("v"), 1).otherwise(0))
                 .cast("long").alias("n_minus")))
    x2 = ("CAST(CASE WHEN n_plus + n_minus > 0 THEN"
          " (CAST(n_plus AS DECIMAL(38,0)) - n_minus)"
          " * (CAST(n_plus AS DECIMAL(38,0)) - n_minus) * 1000000"
          " DIV (CAST(n_plus AS DECIMAL(38,0)) + n_minus)"
          " END AS BIGINT)")
    return (nn.join(agg, "event_type")
            .select("event_type", "n_days", "n_plus", "n_minus",
                    F.expr(x2).alias("cs_x2_ppm"),
                    F.expr("CAST(CASE WHEN n_plus > n_minus THEN 1"
                           " WHEN n_plus < n_minus THEN -1 ELSE 0 END"
                           " AS BIGINT)").alias("trend_sign")))


COX_STUART_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
rn AS (
  SELECT event_type, v,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS rn
  FROM daily
),
nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       FROM daily GROUP BY 1),
pairs AS (
  SELECT a.event_type, a.v AS v, b.v AS v_b
  FROM rn a JOIN nn USING (event_type)
       JOIN rn b ON a.event_type = b.event_type
                AND a.rn + (nn.n_days + 1) // 2 = b.rn
  WHERE a.rn <= nn.n_days - (nn.n_days + 1) // 2
),
agg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN v_b > v THEN 1 ELSE 0 END) AS BIGINT)
           AS n_plus,
         CAST(SUM(CASE WHEN v_b < v THEN 1 ELSE 0 END) AS BIGINT)
           AS n_minus
  FROM pairs GROUP BY 1
)
SELECT nn.event_type, nn.n_days, agg.n_plus, agg.n_minus,
       CAST(CASE WHEN n_plus + n_minus > 0 THEN
         (CAST(n_plus AS HUGEINT) - n_minus)
         * (CAST(n_plus AS HUGEINT) - n_minus) * 1000000
         // (CAST(n_plus AS HUGEINT) + n_minus)
       END AS BIGINT) AS cs_x2_ppm,
       CAST(CASE WHEN n_plus > n_minus THEN 1
                 WHEN n_plus < n_minus THEN -1 ELSE 0 END AS BIGINT)
         AS trend_sign
FROM nn JOIN agg ON nn.event_type = agg.event_type
"""


REGISTRATIONS.append(("cox_stuart_events", cox_stuart_events,
                      COX_STUART_ORACLE))


# --- Hampel rolling-MAD outlier filter (round 11) --------------------------


HAMPEL_HALF_DAYS = 3   # centered window: ±3 calendar days
HAMPEL_K = 3           # flag |x − med| > K · MAD


def hampel_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the daily value series per event type
    (Hampel 1974; the SPC-standard robust outlier rule): within a
    centered ±``HAMPEL_HALF_DAYS``-calendar-day window, flag days
    where |x − rolling_median| > K·MAD — the rolling, breakdown-proof
    sibling of the global ``mad_outlier_orders`` (a level shift or a
    weekly cycle doesn't poison the baseline the way it poisons a
    global median).

    Exactness: the window median and the MAD are lower nearest-rank
    order statistics over ≤ 2h+1 integer cents values — selected via
    sorted-array indexing on BOTH engines (Spark array_sort /
    element_at ≡ DuckDB list_sort / [i]; window-function MEDIAN would
    interpolate halves and is avoided on purpose). The flag is a pure
    integer inequality (no 1.4826 consistency scaling — K absorbs
    it). Calendar-day windows (not row windows), so gaps shrink the
    neighborhood honestly.

    Scale shape: everything after the first aggregate is dims-sized —
    two ≤(2h+1)-fanout self-joins of the (type, day) grid, never
    event-grain.

    Output: ``(event_type, d, v, med, mad, is_outlier)`` for every
    day on the grid.
    """
    ev = load_table(spark, sf_dir, "events")
    return hampel_closed_form(bartels_daily_cells(ev))


def hampel_closed_form(daily: DataFrame) -> DataFrame:
    """Rolling median/MAD flags from the (type, day, value) grid —
    shared by the batch op and ``streaming.windows.stream_hampel``
    (the cells are ``bartels_daily_cells``)."""
    daily = daily.localCheckpoint(eager=False)
    a, b = daily.alias("a"), daily.alias("b")
    win = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                  & (F.datediff(F.col("b.d"), F.col("a.d"))
                     .between(-HAMPEL_HALF_DAYS, HAMPEL_HALF_DAYS)))
           .select(F.col("a.event_type").alias("event_type"),
                   F.col("a.d").alias("d"), F.col("a.v").alias("v"),
                   F.col("b.v").alias("bv")))
    med = (win.groupBy("event_type", "d", "v")
           .agg(F.expr("element_at(array_sort(collect_list(bv)),"
                       " CAST((count(1) + 1) DIV 2 AS INT))")
                .alias("med")))
    m = med.alias("m")
    dev = (m.join(b, (F.col("m.event_type") == F.col("b.event_type"))
                  & (F.datediff(F.col("b.d"), F.col("m.d"))
                     .between(-HAMPEL_HALF_DAYS, HAMPEL_HALF_DAYS)))
           .select(F.col("m.event_type").alias("event_type"),
                   F.col("m.d").alias("d"), F.col("m.v").alias("v"),
                   F.col("m.med").alias("med"),
                   F.abs(F.col("b.v") - F.col("m.med")).alias("adev")))
    mad = (dev.groupBy("event_type", "d", "v", "med")
           .agg(F.expr("element_at(array_sort(collect_list(adev)),"
                       " CAST((count(1) + 1) DIV 2 AS INT))")
                .alias("mad")))
    return mad.select(
        "event_type",
        # ISO string, not raw DATE — raw temporals render differently
        # through the two engines' pandas paths (the verify-skill
        # timestamp rule; Spark CAST(date AS STRING) ≡ DuckDB VARCHAR)
        F.col("d").cast("string").alias("d"),
        "v", "med", "mad",
        (F.abs(F.col("v") - F.col("med"))
         > F.lit(HAMPEL_K) * F.col("mad")).alias("is_outlier"))


HAMPEL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT a.event_type, a.d, a.v, b.v AS bv
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type
   AND b.d BETWEEN a.d - {HAMPEL_HALF_DAYS} AND a.d + {HAMPEL_HALF_DAYS}
),
med AS (
  SELECT event_type, d, v,
         list_sort(LIST(bv))[CAST((COUNT(*) + 1) // 2 AS BIGINT)] AS med
  FROM win GROUP BY event_type, d, v
),
dev AS (
  SELECT med.event_type, med.d, med.v, med.med,
         abs(b.v - med.med) AS adev
  FROM med JOIN daily b
    ON med.event_type = b.event_type
   AND b.d BETWEEN med.d - {HAMPEL_HALF_DAYS}
               AND med.d + {HAMPEL_HALF_DAYS}
),
mad AS (
  SELECT event_type, d, v, med,
         list_sort(LIST(adev))[CAST((COUNT(*) + 1) // 2 AS BIGINT)]
           AS mad
  FROM dev GROUP BY event_type, d, v, med
)
SELECT event_type, CAST(d AS VARCHAR) AS d, v, med, mad,
       abs(v - med) > {HAMPEL_K} * mad AS is_outlier
FROM mad
"""


REGISTRATIONS.append(("hampel_outliers_events", hampel_outliers_events,
                      HAMPEL_ORACLE))
