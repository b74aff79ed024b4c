"""``run_job`` — the reference's MapReduce contract, Spark-native.

The reference's entire user API is two closures
(``/root/reference/src/mr/worker.rs:16-25``):

    map:    &str -> Vec<KeyValue>            (one call per input split)
    reduce: (&str, Vec<&str>) -> String      (one call per key)

plus a job-shape parameter ``reduce_n`` (shuffle fan-in). Its physical
plan (worker.rs:142-193) is: whole-split map → hash-partition
``hash(key) % R`` (worker.rs:111-115) → per-partition text-file
shuffle → per-partition lexicographic key sort (worker.rs:162-164) →
single-pass sort-based grouping calling the reduce closure per key
(worker.rs:169-184).

Here the same contract runs on Spark's shuffle machinery:

- ``flatMap(map_fn)`` over input splits (scheduling, retries,
  speculative execution: Spark built-ins replace coordinator.rs
  entirely).
- ``repartitionAndSortWithinPartitions(R)`` — exactly the reference's
  hash-shuffle + per-partition key sort, but spill-capable (the
  reference holds each bucket fully in RAM, worker.rs:79-109).
- a streaming ``mapPartitions`` group runner — the same single-pass
  sort-agg, with the reference's last-group-drop bug FIXED (the
  reference never flushes the final key group per partition,
  worker.rs:169-184; we flush it).

This path exists for contract parity and for genuinely imperative
user closures. Anything expressible as DataFrame ops should use those
instead (Catalyst then adds map-side partial aggregation, which this
contract — like the reference — cannot have, because ``reduce_fn``
sees the complete value list per key).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.rdd import portable_hash
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MapFn = Callable[[str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]

# The reference's sole record type KeyValue{key,value} (src/lib.rs:9-15).
KV_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("value", T.StringType(), True),
])


def _group_runner(reduce_fn: ReduceFn) -> Callable[[Iterator[tuple[str, str]]], Iterator[tuple[str, str]]]:
    """Single streaming pass over a key-sorted partition, calling
    ``reduce_fn`` once per key group — the reference's reduce loop
    (worker.rs:169-184) with the final group correctly flushed."""

    def run(part: Iterator[tuple[str, str]]) -> Iterator[tuple[str, str]]:
        cur_key: str | None = None
        values: list[str] = []
        for k, v in part:
            if cur_key is not None and k != cur_key:
                yield cur_key, reduce_fn(cur_key, values)
                values = []
            cur_key = k
            values.append(v)
        if cur_key is not None:  # the flush the reference forgot
            yield cur_key, reduce_fn(cur_key, values)

    return run


def _combine_runner(combine_fn: ReduceFn):
    """Map-side combine: fold each map partition's KVs per key before
    the shuffle — the optimization the reference structurally lacks
    (it shuffles one record per occurrence, wc.rs:11). ``combine_fn``
    must be associative on the value domain (classic combiner
    contract); the in-partition dict is bounded by distinct keys."""

    def run(part: Iterator[tuple[str, str]]) -> Iterator[tuple[str, str]]:
        acc: dict[str, list[str]] = {}
        for k, v in part:
            acc.setdefault(k, []).append(v)
        for k, vs in acc.items():
            yield k, combine_fn(k, vs)

    return run


def run_job(
    spark: SparkSession,
    splits,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    num_partitions: int = 8,
    combine_fn: ReduceFn | None = None,
) -> DataFrame:
    """Run a MapReduce job over ``splits`` (an iterable/RDD of input
    strings — the analog of the reference's one-file-per-map-task
    inputs, worker.rs:65-77). Returns a ``key,value`` string DataFrame.

    ``combine_fn``: optional map-side combiner (must be associative
    and produce values ``reduce_fn`` accepts). At 100 TB this is the
    difference between shuffling one record per occurrence and one
    record per (partition, key).
    """
    sc = spark.sparkContext
    rdd = splits if hasattr(splits, "flatMap") else sc.parallelize(list(splits))
    mapped = rdd.flatMap(map_fn)
    if combine_fn is not None:
        mapped = mapped.mapPartitions(_combine_runner(combine_fn))
    out = (
        mapped
        # hash(key) % R shuffle + per-partition key sort, spill-capable
        .repartitionAndSortWithinPartitions(
            numPartitions=num_partitions, partitionFunc=portable_hash)
        .mapPartitions(_group_runner(reduce_fn), preservesPartitioning=True)
    )
    return spark.createDataFrame(out, schema=KV_SCHEMA)


def run_job_secondary_sort(
    spark: SparkSession,
    splits,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    sort_key_fn: Callable[[str], object] | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """``run_job`` with SECONDARY SORT: ``reduce_fn`` receives each
    key's values ordered by ``sort_key_fn(value)`` instead of shuffle
    arrival order — the classic MapReduce pattern the reference's
    contract cannot express (worker.rs:162-184 sorts by KEY only;
    value order there is arrival order).

    Implemented the canonical way: composite shuffle key
    ``(key, sort_key)``, partitioned on ``key`` alone so a group never
    splits, sorted within partitions on the composite — the sort
    happens IN the shuffle machinery (spill-capable), not by
    buffering a group's values in memory. At 100 TB this is the only
    way to give a reducer a giant key's values in order."""
    sc = spark.sparkContext
    rdd = splits if hasattr(splits, "flatMap") else sc.parallelize(list(splits))
    skf = sort_key_fn if sort_key_fn is not None else (lambda v: v)
    composite = rdd.flatMap(map_fn).map(lambda kv: ((kv[0], skf(kv[1])), kv[1]))
    out = (
        composite
        .repartitionAndSortWithinPartitions(
            numPartitions=num_partitions,
            # partition on the grouping key ONLY; sort on (key, sortkey)
            partitionFunc=lambda ck: portable_hash(ck[0]))
        .map(lambda ckv: (ckv[0][0], ckv[1]), preservesPartitioning=True)
        .mapPartitions(_group_runner(reduce_fn), preservesPartitioning=True)
    )
    return spark.createDataFrame(out, schema=KV_SCHEMA)


def run_job_df(
    df: DataFrame,
    text_col: str,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    num_partitions: int = 8,
) -> DataFrame:
    """``run_job`` where each row of ``df[text_col]`` is one input
    split — the fixture-table adapter (documents.text plays the role
    of a ``gut-{id}.txt`` file's contents)."""
    spark = df.sparkSession
    splits = df.select(text_col).rdd.map(lambda r: r[0])
    return run_job(spark, splits, map_fn, reduce_fn, num_partitions)
