"""Custom batch UDAF via grouped-map Pandas (SURVEY.md §2b UDF/UDAF
row) — the operator shape for aggregates Spark's built-ins can't
express. Arrow-batched: each group arrives as one pandas DataFrame;
state never crosses groups, so it scales with group count.

Oracle discipline (the repo's quantized-long rule): prices carry
exactly 2 decimals, so ``round(x*100)`` recovers the exact cent value
and the Gini numerator/denominator are EXACT integers — identical in
pandas and in DuckDB SQL. At the driver's correctness SF both stay
under 2^53, so the final single IEEE division is bit-identical
cross-engine; at much larger SF the value is still correct to double
precision, merely not guaranteed bit-exact (hash checks run at
sf0.01).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from mapreduce_rust_spark.tables import load_table

OUT_SCHEMA = "c_mktsegment string, n long, gini double"


def _gini(pdf: pd.DataFrame) -> pd.DataFrame:
    """Gini coefficient of order totalprice within a market segment:
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over
    ascending-sorted x, i = 1..n. Computed on the exact cents grid:
    tie order among equal x is irrelevant (sum(i*x) over a tied block
    is permutation-invariant), so the result is deterministic."""
    xq = np.sort(np.rint(pdf["o_totalprice"].to_numpy() * 100.0).astype(np.int64))
    n = len(xq)
    s = int(xq.sum())
    if n == 0 or s == 0:
        g = 0.0
    else:
        s1 = int((xq * np.arange(1, n + 1, dtype=np.int64)).sum())
        g = (2 * s1 - (n + 1) * s) / (n * s)  # exact ints -> one IEEE divide
    return pd.DataFrame({"c_mktsegment": [pdf["c_mktsegment"].iloc[0]],
                         "n": [n], "gini": [g]})


def udaf_gini_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders") \
        .withColumnRenamed("o_custkey", "c_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(cust, "c_custkey").select("c_mktsegment", "o_totalprice")
    return joined.groupBy("c_mktsegment").applyInPandas(_gini, OUT_SCHEMA)


# ROW_NUMBER tie order among equal prices is arbitrary but harmless
# (see _gini docstring); SUM over BIGINT is HUGEINT in DuckDB, exact.
UDAF_GINI_ORACLE = """
WITH r AS (
  SELECT c.c_mktsegment,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS xq,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice) AS i
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, COUNT(*) AS n,
       CASE WHEN SUM(xq) = 0 THEN 0.0
            ELSE CAST(2 * SUM(i * xq) - (COUNT(*) + 1) * SUM(xq) AS DOUBLE)
                 / CAST(COUNT(*) * SUM(xq) AS DOUBLE) END AS gini
FROM r GROUP BY c_mktsegment
"""


REGISTRATIONS = [
    ("udaf_gini_segment", udaf_gini_segment, UDAF_GINI_ORACLE),
]
