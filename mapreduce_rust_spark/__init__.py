"""mapreduce_rust_spark — a PySpark-native analytics engine.

Brand-new engine (not a port) exposing the capability surface of the
reference ``Freebirdgo/MapReduce_Rust`` (a coordinator/worker MapReduce
implementation; see ``/root/reference/src/mr/worker.rs``) re-expressed
on Spark's native machinery:

- ``core``       — the generic MapReduce programming contract
                   (``run_job(map_fn, reduce_fn, R)``), the reference's
                   actual user-facing API (worker.rs:16-25).
- ``operators``  — relational / analytical operators as
                   ``(spark, sf_dir) -> DataFrame`` callables: scans,
                   filters, joins, aggregations, windows, set ops,
                   sorts, top-k (SURVEY.md §2b).
- ``functions``  — column-level function library (text, vector math).
- ``llm``        — LLM-data-pipeline operators: dedup (exact /
                   MinHash-LSH / SimHash / n-gram Jaccard / embedding),
                   similarity search, text analysis, multimodal column
                   plumbing (SURVEY.md §2c) — designed for 100 TB scale.
- ``streaming``  — Structured Streaming slice on the ``events`` table.
- ``sinks``      — reference-framing text sink compatibility layer.

Everything is DataFrame-first so Catalyst supplies pushdown, pruning,
partial aggregation, AQE and whole-stage codegen.
"""

import sys

from pyspark import cloudpickle

from mapreduce_rust_spark.core import run_job, run_job_df
from mapreduce_rust_spark.session import get_spark
from mapreduce_rust_spark.tables import load_table, register_views

# Pickle this package BY VALUE in every closure shipped to Python
# workers (map/reduce functions, kernels, UDFs), so workers without it
# on their path (a harness loading ``__spark_entry__.py`` by file path)
# still run them. Every path into a kernel imports the package first;
# on a real cluster a pip install or ``sc.addPyFile`` is the durable
# route.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["get_spark", "load_table", "register_views",
           "run_job", "run_job_df"]

__version__ = "0.1.0"
