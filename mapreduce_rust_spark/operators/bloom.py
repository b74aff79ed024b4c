"""Bloom-filter-prefiltered semi-join — the runtime-filter pattern
for `fact ⋈ filtered-dim` joins where the dim's surviving key set is
too large to broadcast as a hash table but a fixed-size BITMAP of it
is nearly free to ship.

Spark's own runtime row-level filtering injects exactly this shape
when statistics justify it (`spark.sql.optimizer.runtime.bloomFilter`),
but the `bloom_filter_agg` / `might_contain` expressions are not
registered as public SQL functions in this build, so the operator
hand-rolls the same physics from public primitives:

1. build side: hash each surviving dim key with ``BLOOM_K``
   independent ``xxhash64`` seeds onto an ``BLOOM_M``-bit space, and
   reduce to a bitmap DISTRIBUTEDLY — `groupBy(bit word index)` +
   `bit_or` of the per-position masks, so the aggregate output is at
   most ``BLOOM_M/64`` rows no matter how many keys exist;
2. the collected bitmap (a constant ``BLOOM_M/64`` longs — 16 KiB,
   independent of data size; the SAME bounded-driver-traffic
   discipline as kmeans' k×dim centroid collect) is baked into the
   probe plan as a literal array, so the probe-side test is a pure
   JVM expression inside whole-stage codegen: k bit-tests, ZERO
   shuffle, zero Python;
3. rows surviving the bitmap (all true matches + ~0.1% false
   positives at these parameters) go through the exact semi-join,
   which now sees a fact stream pre-thinned to ~the selectivity of
   the dim predicate — at 100 TB that is the difference between
   shuffling the whole fact table and shuffling only the matching
   slice.

Correctness is EXACT regardless of the bloom parameters: the bitmap
can only admit false positives (never drop a true key), and the
final semi-join removes them — so the DuckDB oracle is the plain
semi-join. `tests/test_skew_bucketing.py` additionally pins the
prefilter's no-false-negative property and that the bitmap literal
actually thins the probe.

Reference parity: the reference has no joins at all
(/root/reference/src/mr/worker.rs — map/shuffle/reduce only); this
operator exists for the SURVEY §2b join row's 100 TB story.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.operators.relational import dsum
from mapreduce_rust_spark.tables import load_table

BLOOM_M = 1 << 17          # bits in the filter (16 KiB bitmap)
BLOOM_K = 3                # independent hash probes per key
_WORDS = BLOOM_M // 64


def _positions(key: Column) -> list[Column]:
    """K independent bit positions for a key: xxhash64 under distinct
    seeds, folded onto the bit space. pmod (not %) keeps positions
    non-negative for the signed 64-bit hash."""
    return [F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(BLOOM_M))
            for seed in range(BLOOM_K)]


def build_bitmap(keys: DataFrame, key_col: str) -> list[int]:
    """Aggregate the key set into a BLOOM_M-bit bitmap, executor-side:
    `groupBy(bit word index)` + `bit_or` of per-position masks, with
    per-partition partial aggregation — the driver receives at most
    _WORDS pre-ORed longs however large the key set is, and only
    places them into the list (no driver-side bit arithmetic; the
    long masks are already correctly signed)."""
    pos = F.explode(F.array(*_positions(F.col(key_col)))).alias("pos")
    words = (keys.select(pos)
                 .select(F.expr("CAST(pos DIV 64 AS INT)").alias("w"),
                         F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")
                          .alias("mask"))
                 .groupBy("w").agg(F.bit_or("mask").alias("bits"))
                 .collect())
    bitmap = [0] * _WORDS
    for row in words:
        bitmap[row["w"]] = row["bits"]
    return bitmap


def bloom_prefilter(df: DataFrame, key_col: str, bitmap: list[int]) -> DataFrame:
    """Filter ``df`` to rows whose key passes all K bit-tests against
    the literal bitmap — a pure codegen expression, no shuffle, no
    Python. May pass false positives; never drops a true key.

    The probe positions come from the SAME ``_positions`` expressions
    the build used (projected as temp columns) — the no-false-negative
    guarantee holds only while build and probe hash identically, so
    the formula must not exist twice. Only the bit test itself goes
    through SQL (`shiftright`'s Python API takes constant shift
    counts only); temp columns are dropped on the way out.

    The bitmap enters the plan as ONE SQL array literal of ``…L``
    bigints: ``F.lit(list)`` builds a py4j ``lit`` per word, about four
    round trips each (8.6k for the 2,048-word bitmap), where one
    ``F.expr`` string costs one. ``-9223372036854775808L`` (bit 63
    alone) parses as a literal."""
    words = ", ".join(f"{w}L" for w in bitmap)
    out = df.withColumn("__bloom_bm", F.expr(f"array({words})"))
    tests = []
    tmp = ["__bloom_bm"]
    for idx, pos in enumerate(_positions(F.col(key_col))):
        col = f"__bloom_p{idx}"
        out = out.withColumn(col, pos)
        tmp.append(col)
        word = f"element_at(__bloom_bm, CAST({col} DIV 64 AS INT) + 1)"
        tests.append(
            f"(shiftright({word}, CAST({col} % 64 AS INT)) & 1) = 1")
    return out.filter(F.expr(" AND ".join(tests))).drop(*tmp)


def bloom_semijoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to URGENT orders, with the
    orders semi-join bloom-prefiltered: build the bitmap over the
    ~20%-selective urgent key set, thin lineitem JVM-side, then exact
    semi-join + per-returnflag aggregate. Result is identical to the
    plain semi-join (oracle below) — the bloom only changes how much
    of the fact table reaches the shuffle. (At fixture scale the
    extra bitmap-build job costs more than the thinning saves — the
    crossover is where fact-shuffle volume dominates, i.e. the 100 TB
    regime this operator exists for; correctness is scale-invariant.)"""
    orders = load_table(spark, sf_dir, "orders")
    urgent = (orders.filter(F.col("o_orderpriority") == "1-URGENT")
                    .select("o_orderkey"))
    bitmap = build_bitmap(urgent, "o_orderkey")
    li = load_table(spark, sf_dir, "lineitem")
    candidates = bloom_prefilter(li, "l_orderkey", bitmap)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (candidates
            .join(urgent, candidates["l_orderkey"] == urgent["o_orderkey"],
                  "left_semi")
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n_lines"),
                 dsum(rev).alias("revenue")))


BLOOM_SEMIJOIN_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
"""


REGISTRATIONS = [
    ("bloom_semijoin_revenue", bloom_semijoin_revenue,
     BLOOM_SEMIJOIN_ORACLE),
]
