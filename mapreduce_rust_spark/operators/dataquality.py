"""Data-quality operators — the validation pass a 100 TB ingest runs
before anything downstream trusts the data: constraint checking
(nulls, domains, uniqueness, referential integrity) and statistical
repair (winsorization). The reference engine validates nothing (its
only input check is the shuffle-line arity assert,
src/mr/worker.rs:100); these close that gap as declarative plans.

Design rule shared by both operators: metrics first, rows second.
Each check computes as a map-side-combinable aggregate or a single
join — never a per-rule scan. ``dq_check_orders_lineitem`` returns
the whole constraint report from TWO scans + one anti-join count;
``winsorize_prices`` computes per-group exact percentiles once and
applies them with a broadcast join-back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def dq_check_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint report over (orders, lineitem) as one long-format
    table: (rule, violations, checked). Rules:

    - ``o_orderkey_unique``    — duplicate primary keys
    - ``o_totalprice_nonneg``  — domain: negative totals
    - ``o_status_domain``      — domain: status outside {O,F,P}
    - ``l_orderkey_ri``        — referential integrity: lineitems
      whose order does not exist (LEFT ANTI join, shuffled once on
      the key; at 100 TB this is the one join in the report)
    - ``l_qty_range``          — domain: quantity outside [1, 50]

    One physical pass per table: all three orders rules (uniqueness
    included) come out of a single group-by-key aggregation — the
    per-key combine also carries the domain-violation partial sums, so
    duplicate detection and domain checks share one scan AND one
    shuffle — then ``stack`` pivots the one-row summary into the long
    report. The anti-join is the one join in the report. (The naive
    form — one aggregate branch per rule — scanned orders 4x and paid
    five exchange rounds for five 1-row results.) The report is tiny
    (one row per rule) whatever the input size."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    o_row = (orders.groupBy("o_orderkey")
             .agg(F.count("*").alias("c"),
                  F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0))
                   .alias("negs"),
                  F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"),
                               1).otherwise(0)).alias("bads"))
             .agg(F.sum("c").cast("long").alias("n_orders"),
                  F.sum("negs").cast("long").alias("neg_price"),
                  F.sum("bads").cast("long").alias("bad_status"),
                  F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
                   .cast("long").alias("dup_keys")))
    o_rules = o_row.selectExpr(
        "stack(3, "
        "  'o_orderkey_unique',   dup_keys,   CAST(NULL AS LONG), "
        "  'o_totalprice_nonneg', neg_price,  n_orders, "
        "  'o_status_domain',     bad_status, n_orders"
        ") AS (rule, violations, checked)")
    l_rules = li.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when((F.col("l_quantity") < 1)
                     | (F.col("l_quantity") > 50), 1).otherwise(0))
         .cast("long").alias("bad_qty")) \
        .select(F.lit("l_qty_range").alias("rule"),
                F.col("bad_qty").alias("violations"),
                F.col("n_lines").alias("checked"))
    orphans = (li.select("l_orderkey")
                 .join(orders.select("o_orderkey"),
                       li.l_orderkey == orders.o_orderkey, "left_anti")
                 .agg(F.lit("l_orderkey_ri").alias("rule"),
                      F.count("*").cast("long").alias("violations"),
                      F.lit(None).cast("long").alias("checked")))
    return o_rules.unionByName(l_rules).unionByName(orphans)


DQ_CHECK_ORACLE = """
SELECT 'o_orderkey_unique' AS rule,
       CAST(COUNT(*) AS BIGINT) AS violations,
       CAST(NULL AS BIGINT) AS checked
FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
UNION ALL
SELECT 'o_totalprice_nonneg',
       CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM orders
UNION ALL
SELECT 'o_status_domain',
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                     THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM orders
UNION ALL
SELECT 'l_qty_range',
       CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                     THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM lineitem
UNION ALL
SELECT 'l_orderkey_ri', CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT)
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
"""


def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (statistical outlier repair): clip
    l_extendedprice to its per-returnflag exact [p05, p95]. The
    percentiles compute ONCE per group (exact sort-based
    ``percentile``, same discipline as percentile_exact_price — the
    interpolation is a single portable IEEE expression on both
    engines) and broadcast back; the clip is LEAST/GREATEST per row.
    Output is an audit summary per group — clipped-row counts and
    the exact decimal sum shift — not the 6M-row repaired table, so
    the oracle hash-checks the repair's full effect compactly.

    Scale: one shuffle for the grouped percentile (map-side GK
    sketch would make it one pass approximate — sketch_quantile_by_
    partkey shows that form), broadcast join-back, one aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    # clip bounds quantized to the CENT grid (matched HALF_EVEN:
    # bround ≡ round_even) so every clipped value is a 2-decimal
    # grid point and the audit sums stay inside the exact
    # DECIMAL(18,2)→DOUBLE cast range (sum×100 ≪ 2^53) — a
    # 12-decimal interpolated bound pushes the decimal sum past
    # 2^53·10⁻¹² where the two engines double-round differently
    pct = (li.groupBy(F.col("l_returnflag").alias("rf"))
             .agg(F.bround(F.expr("percentile(l_extendedprice, 0.05)"), 2)
                   .alias("p05"),
                  F.bround(F.expr("percentile(l_extendedprice, 0.95)"), 2)
                   .alias("p95")))
    clipped = (li.join(F.broadcast(pct),
                       li.l_returnflag == pct.rf)
                 .withColumn("clipped",
                             F.least(F.greatest(F.col("l_extendedprice"),
                                                F.col("p05")),
                                     F.col("p95"))))
    dec = "decimal(18,2)"
    return (clipped.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("l_extendedprice") != F.col("clipped"),
                              1).otherwise(0)).cast("long")
                  .alias("n_clipped"),
                 F.sum(F.col("l_extendedprice").cast(dec)).cast("double")
                  .alias("sum_raw"),
                 F.sum(F.col("clipped").cast(dec)).cast("double")
                  .alias("sum_winsorized")))


WINSORIZE_ORACLE = """
WITH pct AS (
  SELECT l_returnflag AS rf,
         round_even(quantile_cont(l_extendedprice, 0.05), 2) AS p05,
         round_even(quantile_cont(l_extendedprice, 0.95), 2) AS p95
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(CASE WHEN l_extendedprice <> LEAST(GREATEST(
                 l_extendedprice, p05), p95) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_raw,
       CAST(SUM(CAST(LEAST(GREATEST(l_extendedprice, p05), p95)
                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized
FROM lineitem JOIN pct ON l_returnflag = rf
GROUP BY l_returnflag
"""


def mad_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report per order priority: median of
    o_totalprice, MAD (median absolute deviation), and the count of
    rows beyond median ± 3·MAD. MAD-based detection survives the
    contamination that wrecks mean/stddev z-scores — the robust
    screen a curation pipeline runs on quality scores and price-like
    features before trusting threshold rules.

    Two grouped exact percentiles (one over values, one over absolute
    deviations — each a single shuffle on the small group key) and a
    final conditional aggregate. The group medians travel by
    broadcast join-back, so the big table never reshuffles. Float
    discipline: Spark ``percentile`` and DuckDB ``quantile_cont`` do
    NOT promise the same interpolation operation order, so a raw
    median can differ by 1 ulp between engines and flip the ±3·MAD
    comparison for a deviation sitting exactly on the boundary. Both
    medians are therefore quantized HALF_EVEN onto a decimal grid one
    digit finer than their exact value can carry (an even-count
    median of 2-decimal prices has ≤3 decimals; a median of the
    resulting 3-decimal deviations has ≤4), so the true value is
    always ≥ half a grid step from a rounding boundary and a 1-ulp
    engine divergence can never change the rounded result. After
    quantization every downstream op (subtract, abs, 3·mad, compare)
    is bit-deterministic IEEE arithmetic on identical inputs."""
    orders = _t(spark, sf_dir, "orders")
    med = (orders.groupBy(F.col("o_orderpriority").alias("pr"))
           .agg(F.bround(F.expr("percentile(o_totalprice, 0.5)"), 3)
                 .alias("med")))
    dev = (orders.join(F.broadcast(med),
                       orders.o_orderpriority == med.pr)
           .withColumn("ad", F.abs(F.col("o_totalprice") - F.col("med"))))
    mad = (dev.groupBy("pr")
           .agg(F.bround(F.expr("percentile(ad, 0.5)"), 4).alias("mad")))
    return (dev.join(F.broadcast(mad), "pr")
            .groupBy(F.col("pr").alias("o_orderpriority"))
            .agg(F.count("*").alias("n"),
                 F.first("med").alias("med"),
                 F.first("mad").alias("mad"),
                 F.sum(F.when(F.col("ad") > 3 * F.col("mad"), 1)
                        .otherwise(0)).cast("long").alias("n_outliers")))


MAD_OUTLIER_ORACLE = """
WITH med AS (
  SELECT o_orderpriority AS pr,
         round_even(quantile_cont(o_totalprice, 0.5), 3) AS med
  FROM orders GROUP BY 1
), dev AS (
  SELECT pr, med, ABS(o_totalprice - med) AS ad
  FROM orders JOIN med ON o_orderpriority = pr
), mad AS (
  SELECT pr, round_even(quantile_cont(ad, 0.5), 4) AS mad FROM dev GROUP BY 1
)
SELECT pr AS o_orderpriority, COUNT(*) AS n,
       ANY_VALUE(dev.med) AS med, ANY_VALUE(mad.mad) AS mad,
       CAST(SUM(CASE WHEN ad > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad USING (pr)
GROUP BY pr
"""


KANON_K = 5


def k_anonymity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk report over a quasi-identifier tuple —
    (order priority, exact order date): how many equivalence classes
    fall below k = ``KANON_K`` members, and what fraction of ROWS
    sit in those re-identifiable classes — the privacy companion of
    ``scrub_pii_docs`` (scrubbing removes direct identifiers; this
    measures whether the remaining quasi-identifiers still single
    people out, the release gate for any published dataset — "I know
    the day and priority of your order" is the classic linkage
    attack). One map-side-combined aggregate to the class table, one
    single-row rollup; at-risk share is integer ppm (DIV — exact)."""
    orders = load_table(spark, sf_dir, "orders")
    classes = (orders.groupBy(
        "o_orderpriority",
        F.col("o_orderdate").cast("string").alias("o_day"))
        .agg(F.count("*").alias("n")))
    risky = F.col("n") < KANON_K
    return (classes.agg(
        F.count("*").alias("n_classes"),
        F.sum(F.when(risky, 1).otherwise(0)).alias("n_risky_classes"),
        F.sum("n").alias("n_rows"),
        F.sum(F.when(risky, F.col("n")).otherwise(0)).alias("n_risky_rows"),
        F.min("n").alias("min_class_size"))
        .select("n_classes", "n_risky_classes", "n_rows", "n_risky_rows",
                "min_class_size",
                F.expr("n_risky_rows * 1000000 DIV n_rows")
                .alias("risk_ppm")))


K_ANONYMITY_ORACLE = f"""
WITH classes AS (
  SELECT o_orderpriority, CAST(o_orderdate AS VARCHAR) AS o_day,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT COUNT(*) AS n_classes,
       CAST(SUM(CASE WHEN n < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_risky_classes,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n < {KANON_K} THEN n ELSE 0 END) AS BIGINT)
         AS n_risky_rows,
       CAST(MIN(n) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN n < {KANON_K} THEN n ELSE 0 END) * 1000000
            // SUM(n) AS BIGINT) AS risk_ppm
FROM classes
"""


# Expected Benford leading-digit shares in exact ppm: round(1e6 *
# log10(1 + 1/d)). Baked as literals so neither engine evaluates a
# transcendental at query time (the DSIR lesson: libm differs across
# engines; a constant table can't). Sums to exactly 1,000,000.
BENFORD_EXP_PPM = (301030, 176091, 124939, 96910, 79181,
                   66947, 57992, 51153, 45757)


def benford_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order values — the
    classic fabricated-data / unit-mixing detector for financial
    columns. Leading digit is taken from the cents-quantized integer
    (a ×100 shift is a power of ten, so it cannot change the
    first-digit distribution); observed share is integer ppm
    (c·1e6 div n — exact); expected ppm comes from the literal
    ``BENFORD_EXP_PPM`` table; the report is per-digit deviation in
    ppm, all integers end to end. Non-positive amounts (zero/negative
    cents) carry no Benford-comparable leading digit, so the screen
    keeps only digit 1–9 — same guard in the oracle, which also keeps
    ``element_at`` index-safe on any input table. Scale: one
    partial+final aggregate to ≤9 groups, then in-row arithmetic
    against a broadcast-literal array — nothing after the scan touches
    more than 9 rows."""
    orders = load_table(spark, sf_dir, "orders")
    vc = F.bround(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(vc.cast("string"), 1, 1).cast("long")
    counts = (orders.select(digit.alias("digit"))
              .where(F.col("digit").between(1, 9))
              .groupBy("digit").agg(F.count("*").alias("n_orders")))
    total = counts.agg(F.sum("n_orders").alias("n")).localCheckpoint(eager=False)
    exp = F.element_at(F.array(*[F.lit(p) for p in BENFORD_EXP_PPM]),
                       F.col("digit").cast("int")).cast("long")
    obs = F.expr("(n_orders * 1000000) DIV n")   # exact int, ≡ oracle `//`
    return (counts.crossJoin(F.broadcast(total))
            .select("digit", "n_orders", obs.alias("obs_ppm"),
                    exp.alias("exp_ppm"))
            .withColumn("dev_ppm", F.col("obs_ppm") - F.col("exp_ppm")))


def _benford_exp_sql() -> str:
    return "[" + ", ".join(str(p) for p in BENFORD_EXP_PPM) + "]"


BENFORD_ORACLE = f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round_even(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
),
c AS (SELECT digit, COUNT(*) AS n_orders FROM d
      WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
t AS (SELECT SUM(n_orders) AS n FROM c)
SELECT digit, n_orders,
       CAST((n_orders * 1000000) // n AS BIGINT) AS obs_ppm,
       CAST(({_benford_exp_sql()})[CAST(digit AS INT)] AS BIGINT) AS exp_ppm,
       CAST((n_orders * 1000000) // n AS BIGINT)
         - CAST(({_benford_exp_sql()})[CAST(digit AS INT)] AS BIGINT)
         AS dev_ppm
FROM c, t
"""


def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content fingerprint — the cheap
    equality certificate incremental pipelines use to verify a
    rebuilt / migrated / incrementally-maintained table against its
    source without comparing rows (the one-row companion of
    ``snapshot_diff_orders``, which tells you WHAT changed; this
    tells you IF, for the cost of one scan). Per row: md5 of a
    '|'-joined canonical string of the business columns (dates in
    ISO text, money in cents so no float formatting is involved);
    the first 12 hex chars parse to a 48-bit integer, and the
    fingerprint is the SUM as DECIMAL(38,0) — commutative, so
    partition order never matters, and mergeable, so partial
    checksums of shards combine by addition (1e12 rows × 2^48 ≈
    3e26 ≪ 10^38: no overflow at any realistic scale — an int64 sum
    would overflow near ~30 B rows). The checked output reduces the
    exact decimal sum mod the largest sub-2^63 prime to a BIGINT
    (wide decimals round-trip as floats through Arrow/pandas; the
    residue is equality-preserving up to the prime and both engines
    compute it on the exact sum). One map-side-combinable aggregate;
    output is a single row."""
    orders = load_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.bround(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.col("o_orderdate").cast("string"))
    h48 = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
    agg = orders.agg(
        F.count("*").alias("n_rows"),
        F.sum(h48.cast("decimal(38,0)")).alias("s"))
    return agg.select(
        "n_rows",
        (F.col("s") % F.lit(CHECKSUM_MOD)).cast("long").alias("checksum"))


CHECKSUM_MOD = 9223372036854775783   # largest prime < 2^63

TABLE_CHECKSUM_ORACLE = f"""
WITH s AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CAST(CAST(concat('0x', substr(md5(
               concat_ws('|', CAST(o_orderkey AS VARCHAR),
                         CAST(o_custkey AS VARCHAR),
                         o_orderstatus,
                         CAST(CAST(round_even(o_totalprice * 100, 0) AS BIGINT)
                              AS VARCHAR),
                         CAST(o_orderdate AS VARCHAR))), 1, 12)) AS BIGINT)
             AS DECIMAL(38,0))) AS s
  FROM orders
)
SELECT n_rows, CAST(s % {CHECKSUM_MOD} AS BIGINT) AS checksum FROM s
"""


LDIV_L = 2


def l_diversity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release gate — the companion k-anonymity misses:
    a quasi-identifier class can hold ≥ k rows yet still leak the
    sensitive attribute if every row in it shares one value (the
    homogeneity attack: "all five orders that day at that priority
    were cancelled"). Same QI tuple as ``k_anonymity_orders``
    (priority, exact order date); sensitive attribute =
    ``o_orderstatus``; a class violates when it has fewer than
    ``LDIV_L`` distinct statuses.

    Shape: one aggregate to the class table computing per-class size
    AND exact distinct-sensitive count in the same pass (count
    distinct inside group-by — Spark expands, still partial-agg'd),
    then a one-row rollup; violation share is integer ppm (DIV,
    exact). Cost at 100 TB identical to the k-anonymity probe."""
    orders = load_table(spark, sf_dir, "orders")
    classes = (orders.groupBy(
        "o_orderpriority",
        F.col("o_orderdate").cast("string").alias("o_day"))
        .agg(F.count("*").alias("n"),
             F.countDistinct("o_orderstatus").alias("l")))
    bad = F.col("l") < LDIV_L
    return (classes.agg(
        F.count("*").alias("n_classes"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("n_homog_classes"),
        F.sum("n").alias("n_rows"),
        F.sum(F.when(bad, F.col("n")).otherwise(0)).alias("n_homog_rows"),
        F.min("l").alias("min_diversity"))
        .select("n_classes", "n_homog_classes", "n_rows", "n_homog_rows",
                "min_diversity",
                F.expr("n_homog_rows * 1000000 DIV n_rows")
                .alias("homog_ppm")))


L_DIVERSITY_ORACLE = f"""
WITH classes AS (
  SELECT o_orderpriority, CAST(o_orderdate AS VARCHAR) AS o_day,
         COUNT(*) AS n, COUNT(DISTINCT o_orderstatus) AS l
  FROM orders GROUP BY 1, 2
)
SELECT COUNT(*) AS n_classes,
       CAST(SUM(CASE WHEN l < {LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_homog_classes,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l < {LDIV_L} THEN n ELSE 0 END) AS BIGINT)
         AS n_homog_rows,
       CAST(MIN(l) AS BIGINT) AS min_diversity,
       CAST(SUM(CASE WHEN l < {LDIV_L} THEN n ELSE 0 END) * 1000000
            // SUM(n) AS BIGINT) AS homog_ppm
FROM classes
"""


REGISTRATIONS = [
    ("dq_check_orders_lineitem", dq_check_orders_lineitem, DQ_CHECK_ORACLE),
    ("l_diversity_orders", l_diversity_orders, L_DIVERSITY_ORACLE),
    ("winsorize_prices", winsorize_prices, WINSORIZE_ORACLE),
    ("mad_outlier_orders", mad_outlier_orders, MAD_OUTLIER_ORACLE),
    ("benford_orders", benford_orders, BENFORD_ORACLE),
    ("k_anonymity_orders", k_anonymity_orders, K_ANONYMITY_ORACLE),
    ("table_checksum_orders", table_checksum_orders, TABLE_CHECKSUM_ORACLE),
]


TCLOSE_BUCKET_CENTS = 5_000_000   # $50k ordered price bands
TCLOSE_B = 10                     # fixed bucket grid 0..B-1


def tclose_cells(orders: DataFrame) -> DataFrame:
    """Mergeable sufficient statistic for t-closeness: counts per
    (QI class, ordered sensitive bucket). Shared by the batch op and
    the streaming kappa twin (one complete-mode aggregate)."""
    b = F.expr(f"LEAST(CAST(round(o_totalprice * 100) AS BIGINT) "
               f"DIV {TCLOSE_BUCKET_CENTS}, {TCLOSE_B - 1})")
    return (orders.groupBy(
        "o_orderpriority",
        F.col("o_orderdate").cast("string").alias("o_day"),
        b.alias("b"))
        .agg(F.count("*").alias("c")))


def tclose_closed_form(cells: DataFrame) -> DataFrame:
    """EMD-based t-closeness from the cells: for each QI class, the
    earth-mover's distance between its sensitive-bucket distribution
    and the global one, on the ORDERED fixed grid — computed as
    all-integer cross-multiplied prefix sums (common denominator
    n·N·(B−1)), so both engines order and hash identically.

    Single pass: the bucket grid is fixed (B = ``TCLOSE_B``), so one
    per-class aggregate pivots the class's B bucket counts into
    columns (a bucket the class lacks is a 0, not a missing row), and
    ``over ()`` sums on that class table give the B global counts and
    N. The prefix sums d_j = Σ_{i≤j} (c_i·N − C_i·n) and Σ_j |d_j| are
    then B-term column expressions, with no join.
    """
    from pyspark.sql import Window as W
    per = cells.groupBy("o_orderpriority", "o_day").agg(
        F.sum("c").alias("n"),
        *(F.sum(F.when(F.col("b") == j, F.col("c")).otherwise(0))
           .alias(f"c{j}") for j in range(TCLOSE_B)))
    every = W.partitionBy()
    glob = per.select(
        "*", F.sum("n").over(every).alias("n_all"),
        *(F.sum(f"c{j}").over(every).alias(f"g{j}")
          for j in range(TCLOSE_B)))
    d, emd = F.lit(0), F.lit(0)
    for j in range(TCLOSE_B):
        d = d + (F.col(f"c{j}") * F.col("n_all") - F.col(f"g{j}") * F.col("n"))
        emd = emd + F.abs(d)
    return (glob.select("o_orderpriority", "o_day", "n", "n_all",
                        emd.cast("long").alias("emd_num"))
            .select("o_orderpriority", "o_day", "n", "emd_num",
                    F.expr(f"emd_num * 1000000 DIV "
                           f"(n * n_all * {TCLOSE_B - 1})").alias("t_ppm")))


def t_closeness_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release gate — the third member of the privacy
    family (``k_anonymity_orders`` catches tiny classes,
    ``l_diversity_orders`` catches homogeneous ones; this catches
    classes whose sensitive DISTRIBUTION leaks even with many rows
    and several values — "orders that day at that priority skew
    rich"). Same QI tuple (priority, exact order day); sensitive
    attribute = o_totalprice in ordered $50k bands; distance = the
    ordered-attribute EMD of Li et al., as exact integers: EMD ·
    n·N·(B−1) = Σ_j |Σ_{i≤j} (c_i·N − C_i·n)|.

    Shape: one map-side-combined aggregate to (class, bucket) cells,
    one per-class aggregate pivoting the B buckets into columns, and
    ``over ()`` global sums on the class table; the prefix sums are
    column arithmetic (see ``tclose_closed_form``).
    Factored into mergeable cells + closed form for the streaming
    kappa twin (``streaming.windows.stream_t_closeness``).

    Magnitude note: terms are bounded by n·N; at extreme scale the
    prefix sum belongs in DECIMAL(38) — at any bench/driver scale
    n·N·B ≪ 2⁶³ with 10¶ slack, and the same bound governs both
    engines, so long/BIGINT is exact here.

    Output: ``(o_orderpriority, o_day, n, emd_num, t_ppm)``.
    """
    orders = load_table(spark, sf_dir, "orders")
    return tclose_closed_form(tclose_cells(orders))


T_CLOSENESS_ORACLE = f"""
WITH cells AS (
  SELECT o_orderpriority, CAST(o_orderdate AS VARCHAR) AS o_day,
         LEAST(CAST(round(o_totalprice * 100) AS BIGINT)
                 // {TCLOSE_BUCKET_CENTS}, {TCLOSE_B - 1}) AS b,
         COUNT(*) AS c
  FROM orders GROUP BY 1, 2, 3
),
gcnt AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cg FROM cells GROUP BY b),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM cells),
classes AS (
  SELECT o_orderpriority, o_day, CAST(SUM(c) AS BIGINT) AS n
  FROM cells GROUP BY 1, 2
),
grid AS (
  SELECT cl.o_orderpriority, cl.o_day, cl.n, gb.i AS b, t.n_all,
         COALESCE(ce.c, 0) AS c, COALESCE(g.cg, 0) AS cg
  FROM classes cl
  CROSS JOIN (SELECT i FROM UNNEST(range(0, {TCLOSE_B})) AS u(i)) gb
  CROSS JOIN tot t
  LEFT JOIN cells ce ON ce.o_orderpriority = cl.o_orderpriority
                    AND ce.o_day = cl.o_day AND ce.b = gb.i
  LEFT JOIN gcnt g ON g.b = gb.i
),
pref AS (
  SELECT o_orderpriority, o_day, n, n_all,
         SUM(c * n_all - cg * n)
           OVER (PARTITION BY o_orderpriority, o_day ORDER BY b) AS d
  FROM grid
)
SELECT o_orderpriority, o_day, CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(ABS(d)) AS BIGINT) AS emd_num,
       CAST(SUM(ABS(d)) AS BIGINT) * 1000000
         // (MAX(n) * MAX(n_all) * {TCLOSE_B - 1}) AS t_ppm
FROM pref GROUP BY o_orderpriority, o_day
"""


REGISTRATIONS.append(("t_closeness_orders", t_closeness_orders,
                      T_CLOSENESS_ORACLE))


CONTRIB_CAP = 3   # max events per (user, day) kept for DP pre-aggregation


def contribution_cap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level contribution bounding — the differential-privacy
    PRE-processing step (Wilson et al., "Differentially Private SQL",
    VLDB 2020): before adding noise to a daily metric, each user's
    contribution must be capped at C events/day, or one heavy user
    makes the query's sensitivity — and therefore the noise —
    unbounded. Completes the privacy wing's release pipeline:
    k-anonymity / l-diversity / t-closeness gate the GROUPING; this
    bounds the SENSITIVITY. Reports, per day, the raw vs capped
    daily totals and the bias the cap introduces — the
    utility-vs-privacy readout used to pick C.

    Semantics: keep each user's first C events per day in
    (ts, event_id) order — deterministic, and "first-k" is the
    standard bounding policy because it is stable under late data.

    Exactness: counts, cents sums, and an integer-DIV ppm — no float.

    Scale shape: one window partitioned by (user, day) — the
    SESSIONIZE partition shape: millions of small partitions, never
    a global or per-day window — then one partial+final daily
    aggregate. A hot user-day bounds the window partition, not the
    day.

    Output: ``(day, n_raw, n_capped, sum_vc_raw, sum_vc_capped,
    drop_ppm)``.
    """
    from pyspark.sql import Window as W
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.to_date("ts").cast("string").alias("day"),
        F.col("ts"),
        F.round(F.col("value") * 100).cast("long").alias("vc"))
    w = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    r = ev.withColumn("rn", F.row_number().over(w))
    daily = (r.groupBy("day").agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum(F.when(F.col("rn") <= CONTRIB_CAP, 1).otherwise(0))
         .cast("long").alias("n_capped"),
        F.sum("vc").cast("long").alias("sum_vc_raw"),
        F.sum(F.when(F.col("rn") <= CONTRIB_CAP, F.col("vc")).otherwise(0))
         .cast("long").alias("sum_vc_capped")))
    return daily.select(
        "day", "n_raw", "n_capped", "sum_vc_raw", "sum_vc_capped",
        F.expr("(n_raw - n_capped) * 1000000 DIV n_raw")
         .cast("long").alias("drop_ppm"))


CONTRIB_CAP_ORACLE = f"""
WITH r AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(round(value * 100) AS BIGINT) AS vc,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(CAST(ts AS DATE) AS VARCHAR)
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN rn <= {CONTRIB_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_capped,
       CAST(SUM(vc) AS BIGINT) AS sum_vc_raw,
       CAST(SUM(CASE WHEN rn <= {CONTRIB_CAP} THEN vc ELSE 0 END)
            AS BIGINT) AS sum_vc_capped,
       (CAST(COUNT(*) AS BIGINT)
        - CAST(SUM(CASE WHEN rn <= {CONTRIB_CAP} THEN 1 ELSE 0 END)
               AS BIGINT)) * 1000000 // COUNT(*) AS drop_ppm
FROM r GROUP BY day
"""


REGISTRATIONS.append(("contribution_cap_events", contribution_cap_events,
                      CONTRIB_CAP_ORACLE))


# --- Tukey IQR fences (round 10) -------------------------------------------


def tukey_fences_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot outlier screen per order priority (Tukey 1977's
    EDA fences — the convention behind every boxplot): values beyond
    Q1 − 1.5·IQR / Q3 + 1.5·IQR are flagged. The quartile-based
    sibling of ``mad_outlier_orders`` (MAD screens around the median;
    the fences screen the tails asymmetrically, catching skew the
    symmetric MAD band hides).

    Exactness — NO interpolated quantiles anywhere (the
    ``ship_delay_percentiles_priority`` discipline): prices live on
    the integer cents grid; Q1/Q3 are exact lower nearest-rank
    elements (rank ⌈n/4⌉ / ⌈3n/4⌉) read off a cumsum over the
    per-priority value-count cells; the 1.5·IQR comparison is cleared
    to integers by doubling — 2·v < 2·Q1 − 3·IQR flags low,
    2·v > 2·Q3 + 3·IQR flags high. Pure BIGINT on both engines.

    Scale: one map-side-combined aggregate to (priority, cents)
    cells, then one pass over the bounded cells grid partitioned by
    priority: the cumsum and quartile windows and the tail-count
    aggregate share one shuffle, with no join.

    Output: ``(o_orderpriority, n, q1_cents, q3_cents, n_low,
    n_high)``.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"))
    cells = o.groupBy("o_orderpriority", "vc").agg(
        F.count("*").cast("long").alias("c"))
    return tukey_closed_form(cells)


def tukey_closed_form(cells: DataFrame) -> DataFrame:
    """Fence + tail-count readout from the (priority, vc, c) cells —
    shared by the batch op and ``streaming.windows
    .stream_tukey_fences``. Everything here is dims-grid work (the
    cells are bounded by the cents range).

    Single pass: one window partitioned by priority and ordered by vc
    puts the running count and the priority total n on every cell; a
    second window over the SAME partition (no new shuffle) spreads
    the two quartiles, read off the running count, onto every cell;
    one per-priority aggregate then counts the tails against the
    cleared fences. The cells are read once, with no join."""
    from pyspark.sql import Window as W
    wp = W.partitionBy("o_orderpriority")
    wc = wp.orderBy("vc")
    t = cells.select(
        "o_orderpriority", "vc", "c",
        F.sum("c").over(wc.rowsBetween(W.unboundedPreceding,
                                       W.currentRow)).alias("cum"),
        F.sum("c").over(wc.rowsBetween(W.unboundedPreceding,
                                       W.unboundedFollowing))
         .cast("long").alias("n"))
    q = t.select(
        "o_orderpriority", "vc", "c", "n",
        F.min(F.when(F.col("cum") >= F.expr("(n + 3) DIV 4"),
                     F.col("vc"))).over(wp).alias("q1_cents"),
        F.min(F.when(F.col("cum") >= F.expr("(3 * n + 3) DIV 4"),
                     F.col("vc"))).over(wp).alias("q3_cents"))
    iqr = F.col("q3_cents") - F.col("q1_cents")
    lo2 = 2 * F.col("q1_cents") - 3 * iqr
    hi2 = 2 * F.col("q3_cents") + 3 * iqr
    return (q.groupBy("o_orderpriority")
            .agg(F.max("n").alias("n"),
                 F.max("q1_cents").alias("q1_cents"),
                 F.max("q3_cents").alias("q3_cents"),
                 F.sum(F.when(2 * F.col("vc") < lo2, F.col("c"))
                        .otherwise(F.lit(0))).cast("long").alias("n_low"),
                 F.sum(F.when(2 * F.col("vc") > hi2, F.col("c"))
                        .otherwise(F.lit(0))).cast("long").alias("n_high")))


TUKEY_FENCES_ORACLE = """
WITH o AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS vc
  FROM orders
),
cells AS (
  SELECT o_orderpriority, vc, CAST(COUNT(*) AS BIGINT) AS c
  FROM o GROUP BY 1, 2
),
t AS (
  SELECT o_orderpriority, vc, c,
         SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY vc) AS cum
  FROM cells
),
n AS (SELECT o_orderpriority, CAST(SUM(c) AS BIGINT) AS n
      FROM cells GROUP BY 1),
q AS (
  SELECT t.o_orderpriority, MAX(n.n) AS n,
         MIN(CASE WHEN cum >= (n + 3) // 4 THEN vc END) AS q1_cents,
         MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN vc END) AS q3_cents
  FROM t JOIN n USING (o_orderpriority)
  GROUP BY 1
),
fences AS (
  SELECT o_orderpriority, n, q1_cents, q3_cents,
         2 * q1_cents - 3 * (q3_cents - q1_cents) AS lo2,
         2 * q3_cents + 3 * (q3_cents - q1_cents) AS hi2
  FROM q
)
SELECT o.o_orderpriority,
       CAST(MAX(f.n) AS BIGINT) AS n,
       CAST(MAX(f.q1_cents) AS BIGINT) AS q1_cents,
       CAST(MAX(f.q3_cents) AS BIGINT) AS q3_cents,
       CAST(SUM(CASE WHEN 2 * vc < lo2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low,
       CAST(SUM(CASE WHEN 2 * vc > hi2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high
FROM o JOIN fences f USING (o_orderpriority)
GROUP BY 1
"""


REGISTRATIONS.append(("tukey_fences_orders", tukey_fences_orders,
                      TUKEY_FENCES_ORACLE))


# --- k-anonymity generalization ladder (round 11) ---------------------------


KANON_GEN_K = 5
# cents, dollars, $10/$100 bands, then full price suppression (the
# Samarati ladder's guaranteed-terminating top: QI collapses to
# priority alone)
KANON_GEN_DIVS = (1, 100, 1_000, 10_000, 10_000_000_000)


def k_anon_generalize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MECHANISM beside the ``k_anonymity_orders`` audit: walk a
    price-generalization ladder (exact cents → dollars → $10 bands →
    $100 bands → price fully suppressed) over the (priority, price)
    quasi-identifier and
    report, per level, the equivalence-class profile and whether
    that level is the FIRST to satisfy k ≥ ``KANON_GEN_K`` — the
    standard Samarati-style full-domain generalization search, made
    a single declarative query (Samarati 2001; the release pipeline
    picks the ``chosen`` level and publishes that recoding).

    Exactness: pure integer class counts; band = cents DIV divisor
    (truncating both engines); at-risk share integer ppm.

    Scale: ONE corpus scan — the ladder explodes each row into
    |levels| (5) generalized rows and aggregates (level, QI) with
    map-side combine; class tables are dims-sized. The chosen flag
    is a broadcast of the 4-row level profile against itself.

    Output: ``(level, n_classes, min_class, at_risk_rows,
    at_risk_ppm, chosen)``.
    """
    orders = load_table(spark, sf_dir, "orders")
    lv = F.array(*[
        F.struct(F.lit(i).cast("long").alias("level"),
                 F.lit(d).cast("long").alias("dv"))
        for i, d in enumerate(KANON_GEN_DIVS)])
    rows = (orders.select(
                "o_orderpriority",
                F.round(F.col("o_totalprice") * 100).cast("long")
                 .alias("vc"),
                F.explode(lv).alias("l"))
            .select("o_orderpriority", F.col("l.level").alias("level"),
                    F.expr("vc DIV l.dv").alias("qi")))
    classes = (rows.groupBy("level", "o_orderpriority", "qi")
               .agg(F.count("*").cast("long").alias("cn")))
    per = (classes.groupBy("level")
           .agg(F.count("*").cast("long").alias("n_classes"),
                F.min("cn").cast("long").alias("min_class"),
                F.sum(F.when(F.col("cn") < KANON_GEN_K, F.col("cn"))
                       .otherwise(0)).cast("long").alias("at_risk_rows"),
                F.sum("cn").cast("long").alias("n_rows")))
    best = (per.where(F.col("min_class") >= KANON_GEN_K)
            .agg(F.min("level").alias("best_level")))
    return (per.crossJoin(F.broadcast(best))
            .select("level", "n_classes", "min_class", "at_risk_rows",
                    F.expr("CAST(CASE WHEN n_rows > 0 THEN"
                           " at_risk_rows * 1000000 DIV n_rows END"
                           " AS BIGINT)").alias("at_risk_ppm"),
                    # COALESCE: a NULL best_level (no qualifying
                    # level) must read FALSE on both engines — raw
                    # NULL booleans round-trip None vs NaN through
                    # the two pandas paths and break the value hash
                    F.expr("COALESCE(level = best_level, FALSE)")
                     .alias("chosen")))


K_ANON_GEN_ORACLE = f"""
WITH rows_g AS (
  SELECT o_orderpriority, u.level,
         CAST(round(o_totalprice * 100) AS BIGINT)
           // [{", ".join(str(d) for d in KANON_GEN_DIVS)}][u.level + 1]
           AS qi
  FROM orders, UNNEST(range(0, {len(KANON_GEN_DIVS)})) AS u(level)
),
classes AS (
  SELECT level, o_orderpriority, qi, CAST(COUNT(*) AS BIGINT) AS cn
  FROM rows_g GROUP BY 1, 2, 3
),
per AS (
  SELECT level, CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(MIN(cn) AS BIGINT) AS min_class,
         CAST(SUM(CASE WHEN cn < {KANON_GEN_K} THEN cn ELSE 0 END)
              AS BIGINT) AS at_risk_rows,
         CAST(SUM(cn) AS BIGINT) AS n_rows
  FROM classes GROUP BY level
),
best AS (
  SELECT MIN(level) AS best_level FROM per
  WHERE min_class >= {KANON_GEN_K}
)
SELECT CAST(level AS BIGINT) AS level, n_classes, min_class,
       at_risk_rows,
       CAST(CASE WHEN n_rows > 0 THEN
         at_risk_rows * 1000000 // n_rows END AS BIGINT) AS at_risk_ppm,
       COALESCE(level = best_level, FALSE) AS chosen
FROM per, best
"""


REGISTRATIONS.append(("k_anon_generalize_orders", k_anon_generalize_orders,
                      K_ANON_GEN_ORACLE))
