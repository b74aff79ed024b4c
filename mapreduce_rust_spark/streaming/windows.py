"""Event-time streaming operators over the fixture tables.

Execution model: ``readStream`` over the parquet fixture with an
explicit schema (``ts`` arrives as raw nanos — same adapter story as
the batch path), ``Trigger.AvailableNow`` to drain the source
deterministically, memory sink, then the materialized table is
returned. In production the source is Kafka/files-in-motion and the
sink is a real table — the dataflow in the middle is identical, and
that's the part these operators define.

Watermarks: every aggregation declares ``withWatermark`` so the state
store is bounded (late data beyond the watermark is dropped — the
100 TB requirement; unbounded state OOMs long before that). With
AvailableNow + complete/update output the fixture results stay
deterministic and batch-equivalent, which is what the oracles check.

Twins are declarative: every ``stream_*`` query here is ONE row of
``TWINS`` and ``_make_twin`` builds its query function from the row
(the name-table → generated-function pattern of PySpark's
``functions._create_function``). Every twin has the same shape:
stream source (+ static dims) → cells → memory sink → optional lazy
checkpoint → closed form. Most rows plug in the batch op's own cells
and closed form, so twin and batch op share one oracle (kappa parity).

Post-sink checkpoints (round 13): every ``localCheckpoint`` that
breaks a closed form's MemorySink self-reference is LAZY
(``eager=False``, the bpe_train precedent) — the self-reference fix
is plan-level (the checkpoint's fresh LogicalRDD), not a function of
WHEN the RDD materializes, so the first closed-form action
materializes it inside its own job instead of paying a separate
eager job per twin. Results identical; one fewer Spark job each.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.core.runner import _ensure_self_shipping
from mapreduce_rust_spark.functions import spread
from mapreduce_rust_spark.llm.evaluation import (
    ISOTONIC_ORACLE, calibration_bin_counts, isotonic_closed_form,
    scored_from_docs)
from mapreduce_rust_spark.llm.multimodal import (
    AUDIO_ADPCM_ORACLE, AUDIO_ADPCM_SCHEMA, AUDIO_ALAW_ORACLE,
    AUDIO_FLOAT_ORACLE, AUDIO_PCM_ORACLE, AUDIO_PCM_SCHEMA,
    AUDIO_ULAW_ORACLE, _audio_adpcm_batches, _audio_alaw_batches,
    _audio_float_batches, _audio_pcm_batches, _audio_ulaw_batches,
    with_payload)
from mapreduce_rust_spark.llm.sharding import (
    SHUFFLE_QUALITY_ORACLE, shard_quality_cells, shard_quality_closed_form)
from mapreduce_rust_spark.llm.textanalysis import (
    LEN_QUANTILES_ORACLE, len_cells, len_quantiles_closed_form)
from mapreduce_rust_spark.operators.analytic import (
    GRID_MEDIAN_ORACLE, grid_median_cells, grid_median_readout)
from mapreduce_rust_spark.operators.dataquality import (
    T_CLOSENESS_ORACLE, TUKEY_FENCES_ORACLE, tclose_cells,
    tclose_closed_form, tukey_closed_form)
from mapreduce_rust_spark.operators.experiment import (
    BROWN_FORSYTHE_ORACLE, CA_TREND_ORACLE, COHENS_D_ORACLE,
    FRIEDMAN_ORACLE, HODGES_LEHMANN_ORACLE, JONCKHEERE_ORACLE,
    KENDALL_TAU_ORACLE, KRUSKAL_WALLIS_ORACLE, MANNWHITNEY_ORACLE,
    MCNEMAR_ORACLE, MEDIAN_SIGN_ORACLE, ODDS_RATIO_ORACLE, QTE_ORACLE,
    RANK_BISERIAL_ORACLE, SRM_ORACLE, STRAT_EFFECT_ORACLE,
    TWO_PROP_ORACLE, WINSORIZED_ORACLE, brown_forsythe_closed_form,
    ca_daypart_cells, ca_trend_closed_form, cohens_agg, cohens_readout,
    friedman_cells, friedman_closed_form, hl_closed_form, jt_cells,
    jt_closed_form, kruskal_wallis_closed_form, kw_value_counts,
    mcnemar_closed_form, mcnemar_user_flags, median_sign_closed_form,
    mw_closed_form, mw_value_counts, or_closed_form, qte_closed_form,
    rb_from_mw, srm_arm_counts, srm_closed_form, strat_effect_cells,
    strat_effect_closed_form, tau_closed_form, tau_user_cells,
    two_prop_closed_form, two_prop_user_conv, winsorized_closed_form)
from mapreduce_rust_spark.operators.monitoring import (
    BARTELS_ORACLE, CHISQ_ORACLE, COX_STUART_ORACLE, CRAMERS_V_ORACLE,
    DOW_ORACLE, FANO_ORACLE, HAMPEL_ORACLE, MANN_KENDALL_ORACLE,
    MOOD_MEDIAN_K_ORACLE, OLS_ORACLE_TAIL, PAGE_HINKLEY_ORACLE,
    PETTITT_ORACLE, RUNS_TEST_ORACLE, SEASONAL_KENDALL_ORACLE,
    WECO_ORACLE, bartels_closed_form, bartels_daily_cells,
    chisq_closed_form, cox_stuart_closed_form, cramers_v_cells,
    cramers_v_closed_form, dow_profile_closed_form, dow_profile_stats,
    fano_closed_form, fano_daily_counts, hampel_closed_form,
    mk_closed_form, mk_daily_cells, mood_k_cells, mood_k_closed_form,
    ols_closed_form, ols_stats_agg, pettitt_closed_form, ph_closed_form,
    ph_daily_cells, runs_closed_form, sk_closed_form, weco_closed_form)
from mapreduce_rust_spark.operators.olap import (
    ACTIVE_7D_ORACLE, ACTIVE_WINDOW_DAYS, GMD_ORACLE,
    RETENTION_TRIANGLE_ORACLE, SHIP_DELAY_ORACLE, SLA_BDAYS_ORACLE,
    gmd_cells, gmd_closed_form, retention_cells, retention_closed_form,
    ship_delay_cells, ship_delay_closed_form, sla_bday_cells,
    sla_closed_form)
from mapreduce_rust_spark.operators.relational import (
    DEC_FINE, hll_oracle_sql, hll_readout, hll_rho_select)
from mapreduce_rust_spark.operators.temporal import INTERVAL_JOIN_ORACLE
from mapreduce_rust_spark.tables import load_table, table_path

WATERMARK = "10 minutes"

# Session-scoped memo of stream-source schema probes (round 13, the
# tables._TABLE_MEMO discipline): every twin build batch-reads the
# fixture footer just to get an explicit schema for readStream —
# across 62 twins × reps that driver-side probe is pure fixed cost.
# Schemas only (no DataFrames, no rows); keyed by (applicationId,
# path); other-app entries evicted.
_SRC_SCHEMA_MEMO: dict[tuple[str, str], object] = {}


def _probe_schema(spark: SparkSession, path: str, nanos_fallback: bool):
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _SRC_SCHEMA_MEMO if k[0] != app_id]:
        del _SRC_SCHEMA_MEMO[k]
    key = (app_id, path)
    schema = _SRC_SCHEMA_MEMO.get(key)
    if schema is None:
        if nanos_fallback:
            try:
                schema = spark.read.parquet(path).schema
            except Exception:
                # TIMESTAMP(NANOS) parquet: readable as long only via
                # the legacy conf
                spark.conf.set(
                    "spark.sql.legacy.parquet.nanosAsLong", "true")
                schema = spark.read.parquet(path).schema
        else:
            schema = spark.read.parquet(path).schema
        _SRC_SCHEMA_MEMO[key] = schema
    return schema


def read_table_stream(spark: SparkSession, sf_dir: str,
                      name: str) -> DataFrame:
    """Streaming source over one fixture table (the CDC / crawler
    landing-directory feed shape in production). A file stream needs
    an explicit schema, so it is probed from the parquet footer —
    an encoding change breaks loudly in one place.

    ``events`` is schema-adaptive on ``ts`` exactly like the batch
    loader (``tables.load_table``): branch on the encoding era —
    INT64-nanos loads as long and converts; ``timestamp[us]`` passes
    through with an NTZ→local normalize. Hard-coding either era reads
    the other era's raw int64 as the wrong unit (silently, off by
    10^3). The other tables have kept one encoding across eras."""
    path = table_path(sf_dir, name)
    is_events = name == "events"
    src_schema = _probe_schema(spark, path, nanos_fallback=is_events)
    # file-stream source wants a directory/glob, not a bare file —
    # glob to the single fixture file (prod: a landing directory)
    raw = spark.readStream.schema(src_schema).parquet(path + "*")
    if is_events:
        ts_type = dict(raw.dtypes).get("ts")
        if ts_type == "bigint":
            raw = raw.withColumn(
                "ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events fixture (``read_table_stream``
    with the ``ts`` encoding adapter)."""
    return read_table_stream(spark, sf_dir, "events")


# Cost accounting for the most recent micro-batch run (VERDICT r9
# item 6): a stream_* query's wall time conflates fixed harness setup
# (plan/start/stop) with per-batch plan cost — bench.py reads this
# after each timed run and records it beside the wall time, so a
# regression can be attributed to batches vs harness.
LAST_STREAM_STATS: dict | None = None

# Shuffle (= state store) partition count bound at every twin's start.
# Round-12 measurement (OPTIMIZATION_r12.md): per-partition state-store
# overhead — store open, delta-file write+fsync, commit, memory-sink
# collect task — dominates the micro-batch at ANY parallelism the
# fixture can use, so "== cores" (the round-9 choice, 32 locally) pays
# ~1.2 s/query over 8 partitions on identical plans, and the
# stream-stream interval join (4 state stores per partition) pays 4x
# that (13.4 s → 3.7 s). Every stateful shape measured faster at 8
# (complete-mode aggs ~2.1 s → 0.9 s; applyInPandasWithState twins
# 2.5-4.4 s → 1.8-2.5 s — Python-worker reuse means task slots, not
# partitions, bound their parallelism). At production scale the state
# partition count must track keyspace/throughput instead — it is fixed
# at the query's FIRST start by the checkpoint; the constant keeps the
# local bench comparable across SPARK_GRAFT_CPUS values (the old
# cores-coupling made the driver's low-core bench time a different
# plan shape, not the same one slower).
STATE_PARTITIONS = 8


# Scratch base for the harness's THROWAWAY stream checkpoints
# (round 13). Each twin drains once into a memory sink and its
# checkpoint is never restarted, but Spark's default temp checkpoint
# lands under java.io.tmpdir — ext4 here — so every micro-batch pays
# real disk fsyncs for WAL/offsets/state deltas that are garbage
# seconds later. A tmpfs scratch (when the host has one) removes that
# I/O without touching semantics. PRODUCTION NOTE: a restartable
# deployment must point checkpointLocation at durable shared storage
# (recovery correctness depends on it) — this conf only governs the
# drain-once harness path. Without it the default is /dev/shm only
# when it is writable and has SCRATCH_MIN_FREE_BYTES free (a small or
# full tmpfs would fail the stream mid-run with ENOSPC), else the
# normal temp dir.
_SCRATCH_CONF = "spark.mapreduce_rust_spark.stream.scratchDir"
_SHM = "/dev/shm"
SCRATCH_MIN_FREE_BYTES = 256 << 20


def _free_bytes(path: str) -> int:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize


def _scratch_checkpoint_dir(spark: SparkSession) -> str:
    base = spark.conf.get(_SCRATCH_CONF, "")
    if not base:
        shm_ok = (os.path.isdir(_SHM) and os.access(_SHM, os.W_OK)
                  and _free_bytes(_SHM) >= SCRATCH_MIN_FREE_BYTES)
        base = _SHM if shm_ok else tempfile.gettempdir()
    return tempfile.mkdtemp(prefix="mrs-stream-ckpt-", dir=base)


def _run_to_table(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Drain the stream into a memory sink and return the result.

    The state store allocates one task per shuffle partition per
    micro-batch; a vanilla session's 200 is pathological for the
    fixture (and for any small topic). Pin a sane value for the
    stream's lifetime, restore afterwards — streaming queries bind
    confs at start, so this can't leak into the caller's queries.
    """
    global LAST_STREAM_STATS
    spark = df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    # recentProgress is a ring buffer capped by
    # spark.sql.streaming.numRecentProgressUpdates (default 100), so
    # num_batches/trigger_ms_sum would silently undercount any stream
    # exceeding 100 micro-batches at larger SFs; raise it for the
    # query's lifetime (bound at start) and flag saturation anyway.
    _PROG_CAP = 10_000
    old_prog = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100")
    ckpt = None
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(STATE_PARTITIONS))
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                       str(_PROG_CAP))
        ckpt = _scratch_checkpoint_dir(spark)
        q = (df.writeStream.outputMode(mode)
               .format("memory").queryName(name)
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True)
               .start())
        q.awaitTermination()
        try:
            prog = q.recentProgress
            LAST_STREAM_STATS = {
                "sink": name,
                "num_batches": len(prog),
                "trigger_ms_sum": sum(
                    int(p["durationMs"].get("triggerExecution", 0))
                    for p in prog),
                # True would mean the ring buffer saturated and the
                # two fields above are lower bounds, not totals.
                "progress_truncated": len(prog) >= _PROG_CAP,
            }
        except Exception:  # noqa: BLE001 — accounting must never fail a query
            LAST_STREAM_STATS = None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                       old_prog)
        # Round 12: drop the finished query's state-store providers.
        # Every twin drains into a FRESH temp checkpoint, so a stopped
        # query's providers are never reused — but Spark keeps them
        # loaded (state maps in memory + a maintenance thread listing
        # checkpoint dirs every 60 s), so a long multi-query session
        # (bench: 62 twins × ≥3 reps) accumulates hundreds of dead
        # providers whose churn shows up as one-sided stream-row noise
        # (measured ~0.3-0.5 s/query by the 12-twin A/B in
        # OPTIMIZATION_r12.md). StateStore.stop() unloads them all and
        # stops the maintenance pool; the next stream reloads its own
        # providers from scratch, which it would do anyway for a new
        # checkpoint. No other stream is active here by construction
        # (the harness is sequential and stops same-name queries).
        # ADVICE r12: StateStore.stop() is JVM-GLOBAL — it unloads
        # providers of ANY active streaming query — and a private
        # internal that may drift across Spark upgrades. Guard on
        # "no other stream active" instead of assuming it, and WARN
        # (not swallow) unexpected failures so API drift is visible;
        # cleanup still never fails the query.
        try:
            if not spark.streams.active:
                jvm = spark.sparkContext._jvm
                (jvm.org.apache.spark.sql.execution.streaming
                    .state.StateStore.stop())
        except Exception as exc:  # noqa: BLE001 — never fail the query
            warnings.warn(f"StateStore.stop() unavailable: {exc!r}",
                          stacklevel=2)
        # an EXPLICIT checkpointLocation is not auto-deleted the way
        # Spark's temporary one is — remove the drained scratch dir
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


# --- window / join twins: cells and readouts with no batch-op share ---

def _hourly_cells(ev: DataFrame) -> DataFrame:
    return (ev.withWatermark("ts", WATERMARK)
              .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count("*").alias("n"),
                   F.sum(F.col("value").cast(DEC_FINE)).cast("double")
                    .alias("sum_value")))


def _hourly_readout(out: DataFrame) -> DataFrame:
    return out.select(F.unix_timestamp(F.col("w.start"))
                      .alias("bucket_start"),
                      "event_type", "n", "sum_value")


def _sliding_cells(ev: DataFrame) -> DataFrame:
    return (ev.withWatermark("ts", WATERMARK)
              .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
              .agg(F.count("*").alias("n")))


def _sliding_readout(out: DataFrame) -> DataFrame:
    return out.select(F.unix_timestamp(F.col("w.start"))
                      .alias("win_start"), "n")


def _session_cells(ev: DataFrame) -> DataFrame:
    return (ev.withWatermark("ts", WATERMARK)
              .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                       "user_id")
              .agg(F.count("*").alias("n_events")))


def _session_readout(out: DataFrame) -> DataFrame:
    return out.select("user_id",
                      F.unix_timestamp(F.col("w.start")).alias("sess_start"),
                      F.unix_timestamp(F.col("w.end")).alias("sess_end"),
                      "n_events")


def _interval_join(how: str) -> Callable[[DataFrame], DataFrame]:
    """Purchases joined to same-user clicks within 30 minutes, both
    sides watermarked (1 hour) so each side's buffered state is
    bounded by watermark + interval."""
    def cells(ev: DataFrame) -> DataFrame:
        clicks = (ev.filter(F.col("event_type") == "click")
                    .select("user_id", F.col("event_id").alias("click_id"),
                            F.col("ts").alias("click_ts"))
                    .withWatermark("click_ts", "1 hour"))
        buys = (ev.filter(F.col("event_type") == "purchase")
                  .select(F.col("user_id").alias("b_user_id"),
                          F.col("event_id").alias("purchase_id"),
                          F.col("ts").alias("buy_ts"))
                  .withWatermark("buy_ts", "1 hour"))
        return clicks.join(
            buys,
            F.expr("""user_id = b_user_id AND
                      buy_ts >= click_ts AND
                      buy_ts <= click_ts + INTERVAL 30 MINUTES"""),
            how)
    return cells


def _interval_readout(out: DataFrame) -> DataFrame:
    return out.select("user_id", "click_id", "purchase_id")


def _dedup_cells(ev: DataFrame) -> DataFrame:
    return (ev.withWatermark("ts", WATERMARK)
              .dropDuplicatesWithinWatermark(["user_id", "event_type"])
              .select("user_id", "event_type"))


def _user_day_cells(ev: DataFrame) -> DataFrame:
    return (ev.select("user_id", F.to_date("ts").alias("day"))
              .groupBy("user_id", "day").agg(F.count("*").alias("n")))


def _active_7d_readout(out: DataFrame) -> DataFrame:
    ud = out.select("user_id", "day")
    grid = ud.select("day").distinct().withColumnRenamed("day", "gday")
    j = ud.join(grid,
                (F.col("day") <= F.col("gday"))
                & (F.col("day") >= F.date_sub("gday",
                                              ACTIVE_WINDOW_DAYS - 1)))
    return (j.groupBy("gday")
            .agg(F.countDistinct("user_id").alias("active_users"))
            .select(F.col("gday").cast("string").alias("day"),
                    "active_users"))


def _enrich_cells(ev: DataFrame, customer: DataFrame) -> DataFrame:
    cust = customer.select(F.col("c_custkey"), F.col("c_mktsegment"))
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    return (joined.withWatermark("ts", WATERMARK)
                  .groupBy(F.window("ts", "6 hours").alias("w"),
                           "c_mktsegment")
                  .agg(F.count("*").alias("n"),
                       F.sum(F.col("value").cast(DEC_FINE)).cast("double")
                        .alias("sum_value")))


def _enrich_readout(out: DataFrame) -> DataFrame:
    return out.select(F.unix_timestamp(F.col("w.start"))
                      .alias("bucket_start"),
                      "c_mktsegment", "n", "sum_value")


def _hll_cells(ev: DataFrame) -> DataFrame:
    rho = hll_rho_select(
        ev.withWatermark("ts", WATERMARK)
          .withColumn("w", F.window("ts", "6 hours")),
        ["w"], "user_id")
    return (rho.groupBy("w", "bucket")
               .agg(F.max("rho").alias("reg"),
                    F.count("*").alias("cnt")))


def _hll_readout(out: DataFrame) -> DataFrame:
    per = out.select(F.unix_timestamp(F.col("w.start"))
                     .alias("bucket_start"), "bucket", "reg", "cnt")
    return hll_readout(per, ["bucket_start"])


# Fixed x-origin for the streaming OLS twin: 2024-01-01T00:00:00 as
# epoch microseconds. The batch op (monitoring.trend_ols_events) uses
# the GLOBAL min event time — a second aggregation a single streaming
# query cannot nest — so the stream pins the origin to the fixture
# window's start instead; slope and R² are origin-invariant, the
# intercept is 'cents at 2024-01-01'.
TREND_T0_US = 1_704_067_200_000_000


def _ols_cells(ev: DataFrame) -> DataFrame:
    dec = "decimal(38,0)"
    # Integer DIV like the batch op and the oracle's `//` — no float
    # rounding in the x path even for extreme epoch ranges. (A
    # pre-2024 event would still differ trunc-vs-floor; the fixture
    # and the fixed-origin design keep diffs nonnegative.)
    x = F.expr(f"(unix_micros(ts) - {TREND_T0_US}) DIV 1000000").cast(dec)
    y = F.round(F.col("value") * 100).cast("long").cast(dec)
    return ols_stats_agg(ev.select("event_type", x.alias("x"),
                                   y.alias("y")))


# --- shared projections feeding the batch ops' own cells ---

def _cents() -> Column:
    return F.round(F.col("value") * 100).cast("long").alias("vc")


def _dow() -> Column:
    return (F.weekday("ts") + 1).cast("long").alias("dow")


def _treat_vc(ev: DataFrame) -> DataFrame:
    """The Mann–Whitney family's (treat, vc) arm/cents projection."""
    return ev.select((F.col("user_id") % 2 == 1).alias("treat"), _cents())


def _mw_cells(ev: DataFrame) -> DataFrame:
    """The (vc, ct, cc) value-count cells — one mergeable dims-grid
    state shared by the MW, winsorized, median-sign, rank-biserial,
    QTE, Brown–Forsythe and Hodges–Lehmann twins."""
    return mw_value_counts(_treat_vc(ev))


def _chisq_cells(ev: DataFrame) -> DataFrame:
    return (ev.select("event_type", _dow())
              .groupBy("event_type", "dow").agg(F.count("*").alias("o")))


def _tukey_cells(orders: DataFrame) -> DataFrame:
    o = orders.select("o_orderpriority",
                      F.round(F.col("o_totalprice") * 100).cast("long")
                       .alias("vc"))
    return (o.groupBy("o_orderpriority", "vc")
             .agg(F.count("*").cast("long").alias("c")))


def _decode_cells(kernel, schema) -> Callable[[DataFrame], DataFrame]:
    """A stateless append-mode ingest transform: an Arrow-batched
    audio decode kernel applied per micro-batch."""
    def cells(docs: DataFrame) -> DataFrame:
        _ensure_self_shipping()
        docs = docs.where(F.length("text") >= 1)
        # round 12: the file-stream source is one partition (single-
        # row-group fixture), so the decode kernel ran serially inside
        # the micro-batch; a stateless repartition parallelizes it
        # (measured 4.2 s -> 1.5 s on the ADPCM twin; functions.spread
        # rationale)
        return spread(with_payload(docs), "doc_id").mapInPandas(
            kernel, schema)
    return cells


STREAM_TUMBLING_ORACLE = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bucket_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

STREAM_TUMBLING_APPEND_ORACLE = """
WITH wm AS (
  SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events
)
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
         AS bucket_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS sum_value
FROM events, wm
GROUP BY 1, 2, wm.w
HAVING time_bucket(INTERVAL '1 hour', MAX(ts)) + INTERVAL '1 hour'
         <= wm.w
"""

# each event belongs to exactly 4 slide offsets of its 15-min bucket
STREAM_SLIDING_ORACLE = """
SELECT CAST(epoch(time_bucket(INTERVAL '15 minutes', ts)) AS BIGINT)
         - k * 900 AS win_start,
       COUNT(*) AS n
FROM events, UNNEST(range(0, 4)) AS t(k)
GROUP BY 1
"""

STREAM_SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w IS NULL
               OR epoch(ts) - LAG(epoch(ts)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_id
  FROM marked
)
SELECT user_id,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS sess_start,
       CAST(FLOOR(epoch(MAX(ts) + INTERVAL '30 minutes')) AS BIGINT) AS sess_end,
       COUNT(*) AS n_events
FROM islands GROUP BY user_id, sess_id
"""

STREAM_INTERVAL_LEFT_ORACLE = """
WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
           FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS purchase_id, ts AS buy_ts
      FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT least((SELECT MAX(click_ts) FROM c),
               (SELECT MAX(buy_ts) FROM p))
         - INTERVAL '1 hour' AS w
),
matched AS (
  SELECT c.user_id, c.click_id, p.purchase_id
  FROM c JOIN p
    ON c.user_id = p.user_id
   AND p.buy_ts >= c.click_ts
   AND p.buy_ts <= c.click_ts + INTERVAL '30 minutes'
),
unmatched AS (
  SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id
  FROM c, wm
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND p.buy_ts >= c.click_ts
            AND p.buy_ts <= c.click_ts + INTERVAL '30 minutes')
    AND c.click_ts + INTERVAL '30 minutes' < wm.w
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""

STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""

STREAM_STATIC_ENRICH_ORACLE = """
SELECT CAST(epoch(time_bucket(INTERVAL '6 hours', ts)) AS BIGINT)
         AS bucket_start,
       c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""

STREAM_APPROX_DISTINCT_ORACLE = hll_oracle_sql(
    "events",
    "CAST(FLOOR(epoch(ts)) AS BIGINT)"
    " - CAST(FLOOR(epoch(ts)) AS BIGINT) % 21600",
    "user_id", "bucket_start")

STREAM_TREND_ORACLE = f"""
WITH xy AS (
  SELECT event_type,
         CAST((epoch_us(ts) - {TREND_T0_US}) // 1000000 AS DECIMAL(38,0))
           AS x,
         CAST(CAST(round(value * 100, 0) AS BIGINT) AS DECIMAL(38,0)) AS y
  FROM events
),
{OLS_ORACLE_TAIL}
"""


class Twin(NamedTuple):
    """One stream twin. ``source`` is the streamed table followed by
    any static dimension tables; ``cells(stream, *dims)`` builds the
    streaming aggregate drained into memory sink ``sink`` in output
    ``mode``; ``self_join_ckpt`` lazily checkpoints the sink table
    first (breaks the MemorySink self-reference a branching or
    self-joining closed form can't resolve, and keeps the sink lineage
    from being recomputed per branch); ``closed_form`` (None =
    identity) finishes the result batch-side."""
    name: str
    source: tuple[str, ...]
    cells: Callable[..., DataFrame]
    sink: str
    mode: str
    closed_form: Callable[[DataFrame], DataFrame] | None
    self_join_ckpt: bool
    oracle: str
    doc: str


EVENTS = ("events",)
ORDERS = ("orders",)
DOCS = ("documents",)
LINEITEM_X_ORDERS = ("lineitem", "orders")

# In registration order. A row naming a batch op's oracle constant
# shares it on purpose (kappa parity: twin and batch op must agree).
TWINS = [
    Twin("stream_tumbling_counts", EVENTS, _hourly_cells,
         "stream_tumbling", "complete", _hourly_readout, False,
         STREAM_TUMBLING_ORACLE,
         """Tumbling 1-hour windowed aggregation with watermark,
         complete mode (deterministic under AvailableNow).
         Batch-equivalent to ``tumbling_event_counts`` — and checked
         against the same oracle."""),
    Twin("stream_tumbling_append", EVENTS, _hourly_cells,
         "stream_tumbling_append", "append", _hourly_readout, False,
         STREAM_TUMBLING_APPEND_ORACLE,
         """Tumbling 1-hour aggregation in APPEND mode — the
         FINALIZATION semantics the complete-mode twin cannot
         exercise, and the production default for append-only sinks
         (files, Kafka): a window's row emits ONCE, only after the
         watermark passes the window end and its state is dropped.
         Deterministic under AvailableNow: every window whose end ≤
         final watermark (max event time − delay) emits; the trailing
         windows stay in state and never appear. The oracle mirrors
         that cutoff exactly — the batch aggregate FILTERED to
         finalized windows — so the emit-once machinery is
         hash-checkable (the stream_interval_join_left discipline
         applied to aggregation).

         Output: ``(bucket_start, event_type, n, sum_value)`` for
         finalized windows only."""),
    Twin("stream_trend_ols", EVENTS, _ols_cells, "stream_trend_ols",
         "complete", ols_closed_form, False, STREAM_TREND_ORACLE,
         """Streaming twin of ``monitoring.trend_ols_events`` — the OLS
         sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are classic
         mergeable streaming state: one complete-mode aggregate per
         event type, updated per micro-batch, with the closed-form
         combination applied on top. Same exactness discipline as the
         batch op (integer seconds/cents, DECIMAL(38) products), so
         the float outputs hash-match the oracle bit-for-bit. The x
         origin is the fixed ``TREND_T0_US``."""),
    Twin("stream_dow_profile", EVENTS,
         lambda ev: dow_profile_stats(
             ev.select("event_type", _dow(), _cents())),
         "stream_dow_profile", "complete", dow_profile_closed_form,
         False, DOW_ORACLE,
         """Streaming twin of ``monitoring.dow_seasonality_events`` —
         fourth leg of the kappa-parity family (tumbling, z-score, OLS
         trend, now seasonality): per-(event_type, ISO weekday) count
         and Σcents are mergeable sums maintained as one complete-mode
         aggregate; the shared closed form divides on top (and
         checkpoints internally, which also breaks the MemorySink
         lineage its self-join can't otherwise resolve). Checked
         against the IDENTICAL DuckDB oracle as the batch op, and
         unlike the OLS twin there is no origin parameter, so twin and
         batch agree bit-for-bit."""),
    Twin("stream_chisq_cells", EVENTS, _chisq_cells,
         "stream_chisq_cells", "complete", chisq_closed_form, False,
         CHISQ_ORACLE,
         """Streaming twin of ``monitoring.chisq_cells_events`` (fifth
         leg of the kappa-parity family): the contingency cells are
         one complete-mode count aggregate; the shared closed form
         computes expected counts and χ² terms on top. Same oracle as
         the batch op; bit-identical (pure counts, no origin
         parameter)."""),
    Twin("stream_approx_distinct_users", EVENTS, _hll_cells,
         "stream_approx_distinct", "complete", _hll_readout, False,
         STREAM_APPROX_DISTINCT_ORACLE,
         """Windowed APPROXIMATE distinct users on the stream — a
         deterministic HLL register table inside a watermarked
         tumbling window. The sketch state is constant-size per window
         (≤ 512 register cells vs an exact distinct whose state grows
         with cardinality — the difference between bounded and
         unbounded state at 100 TB/day). Register maxima are
         commutative/associative, so the result is identical under any
         micro-batching.

         ORACLED since round 12 (previously rows-only on the engine's
         built-in approx_count_distinct, whose HLL++ internals DuckDB
         cannot mirror): the in-stream aggregate is the engine's own
         register algebra (``relational.sketch_distinct_parts``), the
         per-window readout runs batch-side, and the oracle re-derives
         both exactly. Estimation note: ~70 users per 6 h window fill
         m = 512 sparsely, so consumers apply the standard
         linear-counting correction m·ln(m/zero_regs) client-side (ln
         is libm, excluded from oracle-checked output); ``est_raw`` is
         the standard-regime estimator, exact-DAG-checked like the
         batch op's."""),
    Twin("stream_static_enrich", ("events", "customer"), _enrich_cells,
         "stream_static_enrich", "complete", _enrich_readout, False,
         STREAM_STATIC_ENRICH_ORACLE,
         """Stream-static enrichment join: the event stream joined to
         the static ``customer`` dimension (user_id = c_custkey),
         aggregated to windowed per-segment revenue. The canonical
         serving-layer pattern — the dim table is a plain batch
         DataFrame re-read per micro-batch, needs no watermark on the
         static side, and Catalyst BROADCASTS it under the stream (no
         stream-side shuffle for the join). The windowed agg carries
         the usual watermark so state stays bounded."""),
    Twin("stream_sliding_counts", EVENTS, _sliding_cells,
         "stream_sliding", "complete", _sliding_readout, False,
         STREAM_SLIDING_ORACLE,
         """Sliding windows (1 hour / 15 min slide): each event lands
         in 4 overlapping windows."""),
    Twin("stream_session_windows", EVENTS, _session_cells,
         "stream_sessions", "complete", _session_readout, False,
         STREAM_SESSION_ORACLE,
         """Per-user session windows (30-min inactivity gap) — the
         streaming-native form of ``sessionize_events``. Session end =
         last event + gap (Spark's session_window contract)."""),
    Twin("stream_interval_join", EVENTS, _interval_join("inner"),
         "stream_interval_join", "append", _interval_readout, False,
         INTERVAL_JOIN_ORACLE,
         """Stream-stream interval join: purchases attributed to
         same-user clicks within 30 minutes, both sides watermarked so
         each side's buffered state is bounded by watermark + interval
         (the 100 TB requirement for an unbounded stream pair).
         Driver-checked against the BATCH interval join's oracle — the
         stream and batch dataflows must agree exactly."""),
    Twin("stream_interval_join_left", EVENTS, _interval_join("leftOuter"),
         "stream_interval_join_left", "append", _interval_readout, False,
         STREAM_INTERVAL_LEFT_ORACLE,
         """Stream-stream LEFT OUTER interval join — the
         state-eviction semantics ``stream_interval_join`` (inner)
         cannot exercise: a click with no same-user purchase within 30
         minutes emits a NULL-padded row only when the GLOBAL
         watermark passes the end of its join window (click_ts + 30
         min), i.e. when Spark can prove no future match exists and
         evicts the buffered row. State stays bounded by watermark +
         interval on both sides.

         Determinism under AvailableNow: matched pairs are the batch
         inner join; unmatched clicks emit iff their join window
         closed strictly before the FINAL watermark = min(max
         click_ts, max buy_ts) − 1 h (per-side maxima — each
         withWatermark tracks its own input; the trailing ~90 min of
         clicks stay in state and never emit). The oracle mirrors
         exactly that cutoff, so the stream is hash-checkable even
         though a pure batch left join would disagree on the
         watermark tail.

         Output: ``(user_id, click_id, purchase_id)`` — purchase_id
         NULL on the emitted unmatched rows."""),
    Twin("stream_dedup_users", EVENTS, _dedup_cells, "stream_dedup",
         "append", None, False, STREAM_DEDUP_ORACLE,
         """Streaming deduplication: first-seen (user_id, event_type)
         pairs, state bounded by the watermark
         (``dropDuplicatesWithinWatermark`` — duplicates later than
         watermark + delay can resurface, the documented contract; the
         fixture's duplicates all fall inside it, so the result equals
         the batch DISTINCT, which is what the oracle checks). The
         streaming twin of ``exact_dedup_docs``'s shuffle-on-key
         shape: state is one entry per distinct key, not per
         event."""),
    Twin("stream_active_users_7d", EVENTS, _user_day_cells,
         "stream_active_7d", "complete", _active_7d_readout, False,
         ACTIVE_7D_ORACLE,
         """Streaming twin of ``olap.active_users_7d``: the
         trailing-WAU metric's streaming state is just the distinct
         (user_id, day) set — one complete-mode count aggregate
         (state: one entry per user-day, NOT per event); the day-grid
         range join and the exact distinct count finish batch-side on
         the ≤ \\|users\\|·\\|days\\| output table. Same DuckDB oracle
         as the batch op."""),
    Twin("stream_mannwhitney", EVENTS, _mw_cells, "stream_mannwhitney",
         "complete", mw_closed_form, False, MANNWHITNEY_ORACLE,
         """Streaming twin of ``experiment.mannwhitney_events`` — the
         experimentation wing joins the kappa family: the
         per-distinct-value arm counts are plain mergeable sums (ONE
         complete-mode aggregate over the cents grid), and the shared
         closed form ranks and divides on top batch-side. Same DuckDB
         oracle as the batch op; bit-identical (pure integer counts,
         one final division)."""),
    Twin("stream_fano_burstiness", EVENTS, fano_daily_counts,
         "stream_fano_burstiness", "complete", fano_closed_form, False,
         FANO_ORACLE,
         """Streaming twin of ``monitoring.fano_burstiness_events`` —
         seventh leg of the kappa-parity family: the per-(type, UTC
         day) arrival counts are ONE complete-mode mergeable count
         aggregate (day grain, so state is dims-sized: types × span
         days, never events), and the shared closed form clears
         variance/mean to the all-integer (n·Σc² − (Σc)²)/(n·Σc) on
         top batch-side. Same DuckDB oracle as the batch op;
         bit-identical (pure integer counts, one final division per
         output column)."""),
    Twin("stream_strat_effect", EVENTS, strat_effect_cells,
         "stream_strat_effect", "complete", strat_effect_closed_form,
         False, STRAT_EFFECT_ORACLE,
         """Streaming twin of ``experiment.strat_effect_events`` —
         eighth leg of the kappa-parity family: the 7×2 per-stratum
         cell sums are ONE complete-mode mergeable aggregate; the
         shared closed form (int÷int means, effect, weight) runs on
         top batch-side. Bit-identical to the batch op; same DuckDB
         oracle."""),
    Twin("stream_two_proportion", EVENTS, two_prop_user_conv,
         "stream_two_proportion", "complete", two_prop_closed_form,
         False, TWO_PROP_ORACLE,
         """Streaming twin of ``experiment.two_proportion_test_events``
         — ninth kappa pair: the per-user conversion flag is ONE
         complete-mode idempotent-max aggregate (state = one bit per
         user, the stream_dedup_users shape, honestly
         user-dims-sized), and the shared closed form computes the
         four arm integers and the fixed IEEE z-tree on top
         batch-side. Bit-identical to the batch op; same DuckDB
         oracle."""),
    Twin("stream_retention_triangle", ORDERS, retention_cells,
         "stream_retention_triangle", "complete", retention_closed_form,
         True, RETENTION_TRIANGLE_ORACLE,
         """Streaming twin of ``olap.retention_triangle_orders`` —
         tenth kappa pair, and the first over the ORDERS feed: the
         (customer, active month) order counts are ONE complete-mode
         count aggregate (state = customers × active months — honestly
         user-dims-sized, the stream_two_proportion argument), and the
         shared closed form derives cohorts and ages batch-side (it
         joins the cells against their own cohort aggregate, hence the
         checkpoint). Bit-identical to the batch op (pure integer
         counts and month arithmetic); same DuckDB oracle."""),
    Twin("stream_winsorized_delta", EVENTS, _mw_cells,
         "stream_winsorized_delta", "complete", winsorized_closed_form,
         True, WINSORIZED_ORACLE,
         """Streaming twin of ``experiment.winsorized_mean_delta`` —
         eleventh kappa pair: the per-distinct-value arm counts are
         the SAME mergeable sufficient statistic Mann–Whitney streams
         (one complete-mode aggregate over the cents grid), and the
         shared closed form computes the exact pooled P5/P95 bounds,
         clipping and means batch-side. Bit-identical to the batch op;
         same DuckDB oracle."""),
    Twin("stream_isotonic_calibration", DOCS,
         lambda docs: calibration_bin_counts(scored_from_docs(docs)),
         "stream_isotonic_calibration", "complete", isotonic_closed_form,
         True, ISOTONIC_ORACLE,
         """Streaming twin of ``llm.evaluation.isotonic_calibration_docs``
         — twelfth kappa pair, and the first over the DOCUMENTS feed:
         the per-bin (count, positives) cells are ONE complete-mode
         aggregate over ≤21 fixed-width score bins (dims state — the
         smallest state store in the engine), and the shared minimax
         closed form fits the monotone curve batch-side. Bit-identical
         to the batch op (integer bin counts, identical
         division/min/max DAG); same DuckDB oracle."""),
    Twin("stream_sla_business_days", LINEITEM_X_ORDERS, sla_bday_cells,
         "stream_sla_business_days", "complete", sla_closed_form, False,
         SLA_BDAYS_ORACLE,
         """Streaming twin of ``olap.sla_business_days_lineitem`` —
         thirteenth kappa pair, and the first STREAM-STATIC-JOIN
         member: the lineitem FEED joins the static orders dimension
         per micro-batch (the serving-layer enrich shape of
         stream_static_enrich), and the (bdays, n_lines) cells are ONE
         complete-mode count aggregate (state ≤ max-latency rows); the
         shared closed form adds the breach flag. Bit-identical to the
         batch op (pure integer date arithmetic); same DuckDB
         oracle."""),
    Twin("stream_shuffle_quality", DOCS, shard_quality_cells,
         "stream_shuffle_quality", "complete", shard_quality_closed_form,
         True, SHUFFLE_QUALITY_ORACLE,
         """Streaming twin of ``llm.sharding.shuffle_quality_stats`` —
         fourteenth kappa pair: the per-(shard, source) doc/token
         cells are ONE complete-mode aggregate (state = shards ×
         sources — dims), and the shared closed form computes the
         argmax/rollup batch-side. The shard audit as a LIVE ingest
         monitor. Same DuckDB oracle; bit-identical (integer counts,
         one final division)."""),
    Twin("stream_t_closeness", ORDERS, tclose_cells,
         "stream_t_closeness", "complete", tclose_closed_form, True,
         T_CLOSENESS_ORACLE,
         """Streaming twin of ``dataquality.t_closeness_orders`` —
         fifteenth kappa pair, second over the ORDERS feed: the (QI
         class, sensitive bucket) counts are ONE complete-mode
         aggregate (state = classes × B buckets — the same class-dims
         size the batch op groups to), and the shared closed form
         derives the global distribution and the integer EMD
         batch-side. Bit-identical to the batch op (pure integer
         cross-multiplied prefix sums); same DuckDB oracle."""),
    Twin("stream_median_sign_test", EVENTS, _mw_cells,
         "stream_median_sign_test", "complete", median_sign_closed_form,
         True, MEDIAN_SIGN_ORACLE,
         """Streaming twin of ``experiment.median_sign_test_events`` —
         sixteenth kappa pair: the per-distinct-value arm counts are
         the SAME mergeable Mann–Whitney sufficient statistic (one
         complete-mode aggregate over the cents grid), and the shared
         closed form selects the pooled median and splits the 2×3
         table batch-side. Bit-identical to the batch op (order
         statistics and integer basis points only); same DuckDB
         oracle."""),
    Twin("stream_ship_delay_percentiles", LINEITEM_X_ORDERS,
         ship_delay_cells, "stream_ship_delay_percentiles", "complete",
         ship_delay_closed_form, True, SHIP_DELAY_ORACLE,
         """Streaming twin of ``olap.ship_delay_percentiles_priority``
         — seventeenth kappa pair, second stream-static-join member:
         the lineitem FEED joins the static orders dimension per
         micro-batch and the (priority, days) counts are ONE
         complete-mode aggregate (state ≤ priorities × max-latency
         days); the shared closed form selects the exact nearest-rank
         percentiles batch-side. Bit-identical to the batch op (pure
         integer order statistics); same DuckDB oracle."""),
    Twin("stream_len_quantiles", DOCS, len_cells, "stream_len_quantiles",
         "complete", len_quantiles_closed_form, True,
         LEN_QUANTILES_ORACLE,
         """Streaming twin of ``llm.textanalysis.len_quantiles_sources``
         — nineteenth kappa pair, second over the DOCUMENTS feed: the
         (source, len) counts are ONE complete-mode aggregate (state =
         sources × distinct lengths, the bounded value grid), and the
         shared closed form selects the exact nearest-rank percentiles
         batch-side. Bit-identical to the batch op (pure integer order
         statistics); same DuckDB oracle."""),
    Twin("stream_audio_pcm_stats", DOCS,
         _decode_cells(_audio_pcm_batches, AUDIO_PCM_SCHEMA),
         "stream_audio_pcm_stats", "append", None, False,
         AUDIO_PCM_ORACLE,
         """Streaming twin of
         ``llm.multimodal.multimodal_audio_pcm_stats`` — twentieth
         kappa pair, third over the DOCUMENTS feed and the first
         STATELESS one: media decode is the canonical ingest-time
         transform (decode on arrival, store features), so the twin is
         the same Arrow-batched RIFF/PCM kernel applied per
         micro-batch in append mode — no state store at all, the kappa
         architecture's map-only degenerate case. Per-document windows
         never span batches, so output is row-identical to the batch
         op (the batch op's per-DISTINCT-text duplicate collapse is a
         batch-side cost optimization, not a semantic one); same
         DuckDB oracle."""),
    Twin("stream_audio_adpcm_stats", DOCS,
         _decode_cells(_audio_adpcm_batches, AUDIO_ADPCM_SCHEMA),
         "stream_audio_adpcm_stats", "append", None, False,
         AUDIO_ADPCM_ORACLE,
         """Streaming twin of ``multimodal_audio_adpcm_stats`` —
         twenty-ninth kappa pair, the second STATELESS one: the
         IMA-ADPCM decode kernel as an append-mode ingest transform,
         same map-only shape as ``stream_audio_pcm_stats``
         (per-document blocks never span batches, so output is
         row-identical to the batch op); same DuckDB oracle."""),
    Twin("stream_mann_kendall", EVENTS, mk_daily_cells,
         "stream_mann_kendall", "complete", mk_closed_form, True,
         MANN_KENDALL_ORACLE,
         """Streaming twin of ``monitoring.mann_kendall_events`` —
         twenty-first kappa pair: the per-(type, day) count grid is
         ONE complete-mode mergeable aggregate (dims-sized state, the
         Fano twin's shape), and the shared closed form runs the
         day-pair sign sum + tie correction batch-side. Bit-identical
         (exact integer S / n / variance numerator, same 3-op IEEE z
         DAG); same DuckDB oracle. The closed form self-joins the
         cells, so the MemorySink table is checkpointed first
         (stream_retention_triangle lesson)."""),
    Twin("stream_page_hinkley", EVENTS, ph_daily_cells,
         "stream_page_hinkley", "complete", ph_closed_form, True,
         PAGE_HINKLEY_ORACLE,
         """Streaming twin of ``monitoring.page_hinkley_events`` —
         thirtieth kappa pair (registered round 10 after the ADPCM
         twin): the per-(type, day) value-sum grid is ONE
         complete-mode mergeable aggregate (dims-sized state), and the
         shared closed form runs the cleared running-min/argmax scan
         batch-side over the day grid. Bit-identical (pure BIGINT
         chain); same DuckDB oracle. The closed form branches the
         cells (totals + prefix), so the MemorySink table is
         checkpointed first."""),
    Twin("stream_rank_biserial", EVENTS, _mw_cells,
         "stream_rank_biserial", "complete",
         lambda out: rb_from_mw(mw_closed_form(out)), True,
         RANK_BISERIAL_ORACLE,
         """Streaming twin of ``experiment.rank_biserial_events`` —
         thirty-first kappa pair: the U test's twin already maintains
         the value-count cells; the effect-size readout rides the same
         state, so a live dashboard publishes significance AND
         magnitude from one aggregate. Bit-identical (pure integer
         chain); same oracle."""),
    Twin("stream_qte", EVENTS, _mw_cells, "stream_qte", "complete",
         qte_closed_form, True, QTE_ORACLE,
         """Streaming twin of ``experiment.qte_events`` — thirty-second
         kappa pair, third consumer of the MW cells: per-arm
         nearest-rank quantiles are a closed-form read of the
         complete-mode value grid (the stream_ship_delay_percentiles
         shape on the experiment surface). Bit-identical; same
         oracle."""),
    Twin("stream_runs_test", EVENTS, mk_daily_cells, "stream_runs_test",
         "complete", runs_closed_form, True, RUNS_TEST_ORACLE,
         """Streaming twin of ``monitoring.runs_test_events`` —
         thirty-third kappa pair, fifth consumer of the Mann–Kendall
         (type, day) count grid: the median, sign sequence, lag, and
         run count are all batch-side closed-form work over the
         dims-sized sink. Bit-identical; same oracle."""),
    Twin("stream_tukey_fences", ORDERS, _tukey_cells,
         "stream_tukey_fences", "complete", tukey_closed_form, True,
         TUKEY_FENCES_ORACLE,
         """Streaming twin of ``dataquality.tukey_fences_orders`` —
         thirty-fourth kappa pair, on the ORDERS feed: the (priority,
         cents) value-count cells are one complete-mode aggregate
         (range-bounded state), and the fence + tail-count readout is
         closed-form over the sink. Bit-identical; same oracle. The
         closed form branches the cells (quartiles + tail counts), so
         the MemorySink table is checkpointed first."""),
    Twin("stream_srm_check", EVENTS, srm_arm_counts, "stream_srm_check",
         "complete", srm_closed_form, False, SRM_ORACLE,
         """Streaming twin of ``experiment.srm_check_events`` —
         twenty-second kappa pair, and the guardrail's natural home:
         SRM is monitored LIVE during a rollout (catching broken
         randomization after the experiment ends is too late). The
         (type, arm) traffic counts are ONE complete-mode mergeable
         aggregate (types × 2 state rows — the smallest state grid in
         the engine alongside the two-proportion twin), and the shared
         closed form emits the chi-square + flag batch-side.
         Bit-identical; same DuckDB oracle."""),
    Twin("stream_weco_rules", EVENTS, mk_daily_cells, "stream_weco_rules",
         "complete", weco_closed_form, True, WECO_ORACLE,
         """Streaming twin of ``monitoring.weco_rules_events`` —
         twenty-third kappa pair, sharing the Mann–Kendall twin's
         (type, day) count cells (one complete-mode aggregate,
         dims-sized state) with the cleared-inequality zone tests run
         batch-side. This is how SPC alarms deploy in practice:
         maintain the daily grid live, evaluate the rule windows on
         read. Bit-identical (pure integer comparisons); same DuckDB
         oracle."""),
    Twin("stream_kruskal_wallis", EVENTS,
         lambda ev: kw_value_counts(ev.select("event_type", _cents())),
         "stream_kruskal_wallis", "complete", kruskal_wallis_closed_form,
         True, KRUSKAL_WALLIS_ORACLE,
         """Streaming twin of ``experiment.kruskal_wallis_events`` —
         twenty-fourth kappa pair: the per-(group, distinct cents
         value) counts are ONE complete-mode aggregate (state = groups
         × cents grid, the Mann–Whitney twin's dims bound times k),
         and the shared closed form derives the doubled midranks and
         the tie-corrected H batch-side (it fans the cells into
         pooled/per-group/tie branches). The k-sample rank test as a
         LIVE multi-variant monitor. Bit-identical to the batch op
         (pure integer floor-DIV ppm); same DuckDB oracle."""),
    Twin("stream_brown_forsythe", EVENTS, _mw_cells,
         "stream_brown_forsythe", "complete", brown_forsythe_closed_form,
         True, BROWN_FORSYTHE_ORACLE,
         """Streaming twin of ``experiment.brown_forsythe_events`` —
         twenty-fifth kappa pair: the (vc, ct, cc) arm counts are the
         SAME mergeable Mann–Whitney sufficient statistic (one
         complete-mode aggregate over the cents grid) that already
         backs the median-sign twin, and the shared closed form
         selects the per-arm medians and finishes W batch-side — a
         live dispersion guardrail next to the live location tests.
         Bit-identical to the batch op (order statistics and integer
         floor-DIV ppm only); same DuckDB oracle."""),
    Twin("stream_pettitt_changepoint", EVENTS, mk_daily_cells,
         "stream_pettitt_changepoint", "complete", pettitt_closed_form,
         True, PETTITT_ORACLE,
         """Streaming twin of ``monitoring.pettitt_changepoint_events``
         — twenty-sixth kappa pair, third consumer of the Mann–Kendall
         twin's (type, day) count cells (one complete-mode aggregate,
         dims-sized state), with the rank prefix statistic and the
         argmax run batch-side (the closed form SELF-JOINS the cells,
         grid ⋈ rank table). The homogeneity screen as a LIVE monitor:
         the detected split point updates as days accumulate.
         Bit-identical to the batch op (pure integer doubled-midrank
         prefix sums); same DuckDB oracle."""),
    Twin("stream_ca_trend", EVENTS, ca_daypart_cells, "stream_ca_trend",
         "complete", ca_trend_closed_form, False, CA_TREND_ORACLE,
         """Streaming twin of ``experiment.ca_trend_events`` —
         twenty-seventh kappa pair, and the SMALLEST state in the
         fleet: the per-daypart (traffic, successes) cells are one
         complete-mode aggregate with exactly 4 rows, and the shared
         closed form finishes the dose-response z² batch-side. A
         conversion-trend guardrail that is live by construction.
         Bit-identical to the batch op (integer sufficient
         statistics, one floor-DIV ppm); same DuckDB oracle."""),
    Twin("stream_seasonal_kendall", EVENTS, mk_daily_cells,
         "stream_seasonal_kendall", "complete", sk_closed_form, True,
         SEASONAL_KENDALL_ORACLE,
         """Streaming twin of ``monitoring.seasonal_kendall_events`` —
         twenty-eighth kappa pair, fourth consumer of the Mann–Kendall
         twin's (type, day) count cells (one complete-mode aggregate,
         dims-sized state); the season key and the within-season pair
         statistics derive batch-side (the closed form SELF-JOINS the
         day grid). The seasonality-proof trend test as a LIVE
         monitor. Bit-identical to the batch op (integer S/Var sums,
         the shared one-division/one-sqrt/one-division IEEE DAG);
         same DuckDB oracle."""),
    Twin("stream_mcnemar", EVENTS, mcnemar_user_flags, "stream_mcnemar",
         "complete", mcnemar_closed_form, False, MCNEMAR_ORACLE,
         """Streaming twin of ``experiment.mcnemar_events`` —
         thirty-fifth kappa pair: the per-user (pre, post) purchase
         flags are ONE complete-mode idempotent-max aggregate (two
         bits per user — the stream_two_proportion shape), and the
         shared closed form counts the discordant pairs and clears the
         (b−c)²/(b+c) statistic batch-side. Bit-identical (pure
         integer chain); same oracle."""),
    Twin("stream_jonckheere", EVENTS, jt_cells, "stream_jonckheere",
         "complete", jt_closed_form, False, JONCKHEERE_ORACLE,
         """Streaming twin of ``experiment.jonckheere_events`` —
         thirty-sixth kappa pair: the (daypart, cents) value-count
         cells are ONE complete-mode mergeable aggregate (4 × values
         grid — the mw_value_counts state shape with an ordered group
         key), and the shared closed form runs the doubled-tie-credit
         pair scan and the z DAG batch-side over the dims grid.
         Bit-identical; same oracle. The closed form branches the
         cells (grid + group sizes), so the MemorySink table is
         checkpointed inside it."""),
    Twin("stream_bartels_rank", EVENTS, bartels_daily_cells,
         "stream_bartels_rank", "complete", bartels_closed_form, False,
         BARTELS_ORACLE,
         """Streaming twin of ``monitoring.bartels_rank_events`` —
         thirty-seventh kappa pair, sixth consumer of the (type, day)
         grid family: the per-day value sums are ONE complete-mode
         mergeable aggregate (dims-sized state, the
         stream_page_hinkley shape), and the shared closed form runs
         the doubled-midrank differencing batch-side over the sink.
         Bit-identical (pure BIGINT chain); same oracle. The closed
         form branches the cells (ranks + counts), so it checkpoints
         internally."""),
    Twin("stream_audio_ulaw_stats", DOCS,
         _decode_cells(_audio_ulaw_batches, AUDIO_PCM_SCHEMA),
         "stream_audio_ulaw_stats", "append", None, False,
         AUDIO_ULAW_ORACLE,
         """Streaming twin of ``multimodal_audio_ulaw_stats`` —
         thirty-eighth kappa pair, the third STATELESS one: the G.711
         expansion kernel as an append-mode ingest transform, same
         map-only shape as ``stream_audio_pcm_stats`` (per-document
         windows never span batches, so output is row-identical to
         the batch op); same DuckDB oracle."""),
    Twin("stream_audio_alaw_stats", DOCS,
         _decode_cells(_audio_alaw_batches, AUDIO_PCM_SCHEMA),
         "stream_audio_alaw_stats", "append", None, False,
         AUDIO_ALAW_ORACLE,
         """Streaming twin of ``multimodal_audio_alaw_stats`` —
         forty-ninth kappa pair, the fourth STATELESS one: the G.711
         A-law expansion kernel as an append-mode ingest transform,
         same map-only shape as ``stream_audio_ulaw_stats``
         (per-document windows never span batches, so output is
         row-identical to the batch op); same DuckDB oracle."""),
    Twin("stream_audio_float_stats", DOCS,
         _decode_cells(_audio_float_batches, AUDIO_PCM_SCHEMA),
         "stream_audio_float_stats", "append", None, False,
         AUDIO_FLOAT_ORACLE,
         """Streaming twin of ``multimodal_audio_float_stats`` —
         fiftieth kappa pair, the fifth STATELESS one: the IEEE-float
         PCM decode + q16 quantization kernel as an append-mode ingest
         transform, same map-only shape as
         ``stream_audio_alaw_stats`` (per-document windows never span
         batches, so output is row-identical to the batch op); same
         DuckDB oracle."""),
    Twin("stream_grid_median", EVENTS, grid_median_cells,
         "stream_grid_median", "complete", grid_median_readout, False,
         GRID_MEDIAN_ORACLE,
         """Streaming twin of ``analytic.grid_median_event_value`` —
         fifty-first kappa pair: the per-type value-median monitor
         whose ENTIRE state is the fixed-boundary grid-cell table (≤
         ~200 (type, bucket) counts per type — bounded regardless of
         event cardinality, the state-size contrast to a reservoir or
         full value log). Cells are order-independent mergeable
         counts, so any micro-batching yields the identical table; the
         median readout runs batch-side on the result. Same
         integer-arithmetic oracle."""),
    Twin("stream_cramers_v", EVENTS,
         lambda ev: cramers_v_cells(ev.select("event_type", _dow())),
         "stream_cramers_v", "complete", cramers_v_closed_form, False,
         CRAMERS_V_ORACLE,
         """Streaming twin of ``monitoring.cramers_v_events`` —
         thirty-ninth kappa pair: the (type, weekday) contingency
         counts are ONE complete-mode aggregate (types × 7 state, the
         stream_chisq_cells grid), and the shared closed form
         completes the zero cells, runs the order-fixed fold, and
         takes the one sqrt batch-side. Bit-identical; same
         oracle."""),
    Twin("stream_mood_median_k", EVENTS, mood_k_cells,
         "stream_mood_median_k", "complete", mood_k_closed_form, False,
         MOOD_MEDIAN_K_ORACLE,
         """Streaming twin of ``monitoring.mood_median_k_events`` —
         fortieth kappa pair: the (type, cents) value counts are ONE
         complete-mode mergeable aggregate (the mw_value_counts state
         shape keyed by type), and the shared closed form derives the
         grand median and the cleared per-type terms batch-side.
         Bit-identical (pure integer chain); same oracle."""),
    Twin("stream_cox_stuart", EVENTS, bartels_daily_cells,
         "stream_cox_stuart", "complete", cox_stuart_closed_form, False,
         COX_STUART_ORACLE,
         """Streaming twin of ``monitoring.cox_stuart_events`` —
         forty-first kappa pair, seventh consumer of the (type, day)
         grid family: the per-day value sums are ONE complete-mode
         aggregate (``bartels_daily_cells``), and the shared closed
         form runs the half-offset sign scan batch-side.
         Bit-identical; same oracle."""),
    Twin("stream_hampel", EVENTS, bartels_daily_cells, "stream_hampel",
         "complete", hampel_closed_form, False, HAMPEL_ORACLE,
         """Streaming twin of ``monitoring.hampel_outliers_events`` —
         forty-second kappa pair, eighth consumer of the (type, day)
         grid family: same complete-mode daily cells, with the rolling
         median/MAD flag work batch-side over the dims-sized sink.
         Bit-identical; same oracle."""),
    Twin("stream_odds_ratio", EVENTS, two_prop_user_conv,
         "stream_odds_ratio", "complete", or_closed_form, False,
         ODDS_RATIO_ORACLE,
         """Streaming twin of ``experiment.odds_ratio_events`` —
         forty-third kappa pair: the per-user conversion flag is the
         SAME idempotent-max aggregate the two-proportion twin
         maintains (one bit per user), and the shared closed form
         clears OR/RR batch-side. Bit-identical; same oracle."""),
    Twin("stream_friedman", EVENTS, friedman_cells, "stream_friedman",
         "complete", friedman_closed_form, False, FRIEDMAN_ORACLE,
         """Streaming twin of ``experiment.friedman_events`` —
         forty-fourth kappa pair: the (user, daypart) value sums are
         ONE complete-mode mergeable aggregate (user×4 state — the
         user-dims-sized class), and the shared closed form filters to
         complete blocks and ranks within user batch-side.
         Bit-identical (pure integer chain); same oracle. The closed
         form branches the cells (complete-block filter + rank grid),
         so it checkpoints internally."""),
    Twin("stream_cohens_d", EVENTS, lambda ev: cohens_agg(_treat_vc(ev)),
         "stream_cohens_d", "complete", cohens_readout, False,
         COHENS_D_ORACLE,
         """Streaming twin of ``experiment.cohens_d_events`` —
         forty-fifth kappa pair, and the SMALLEST state in the fleet
         alongside the CA twin: the six exact sufficient statistics
         (n/Σx/Σx² per arm) are ONE no-key complete-mode aggregate,
         and the shared readout runs the fixed effect-size DAG
         batch-side. Bit-identical; same oracle."""),
    Twin("stream_hodges_lehmann", EVENTS, _mw_cells,
         "stream_hodges_lehmann", "complete", hl_closed_form, True,
         HODGES_LEHMANN_ORACLE,
         """Streaming twin of ``experiment.hodges_lehmann_events`` —
         forty-sixth kappa pair, fourth consumer of the Mann–Whitney
         value-count cells: the dime-grid difference cross join and
         the nearest-rank median run batch-side over the dims-sized
         sink. Bit-identical (pure integer chain); same oracle. The
         closed form branches the cells (two arm projections), so the
         MemorySink table is checkpointed first."""),
    Twin("stream_gmd", ORDERS, gmd_cells, "stream_gmd", "complete",
         gmd_closed_form, False, GMD_ORACLE,
         """Streaming twin of ``olap.gini_mean_difference_orders`` —
         forty-seventh kappa pair, on the ORDERS feed: the cents
         value-count grid is ONE complete-mode aggregate
         (range-bounded state, the stream_tukey_fences shape without
         the priority key), and the sorted-cumsum |diff| algebra runs
         batch-side. Bit-identical; same oracle."""),
    Twin("stream_kendall_tau", EVENTS, tau_user_cells,
         "stream_kendall_tau", "complete", tau_closed_form, False,
         KENDALL_TAU_ORACLE,
         """Streaming twin of ``experiment.kendall_tau_events`` —
         forty-eighth kappa pair: the per-user (activity, spend) sums
         are ONE complete-mode mergeable aggregate (user-dims-sized
         state, the stream_two_proportion class), and the shared
         closed form runs the decile ranking and the ≤100-cell pair
         scan batch-side. Bit-identical (exact pair counts + one
         shared IEEE DAG); same oracle."""),
]


def _make_twin(t: Twin) -> Callable[[SparkSession, str], DataFrame]:
    """Build the query function for one ``TWINS`` row — the one run
    path every twin shares."""
    stream, *dims = t.source

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        cells = t.cells(read_table_stream(spark, sf_dir, stream),
                        *(load_table(spark, sf_dir, d) for d in dims))
        out = _run_to_table(cells, t.sink, t.mode)
        if t.self_join_ckpt:
            out = out.localCheckpoint(eager=False)
        return t.closed_form(out) if t.closed_form else out

    query.__name__ = query.__qualname__ = t.name
    query.__doc__ = t.doc
    return query


for _t in TWINS:
    globals()[_t.name] = _make_twin(_t)

REGISTRATIONS = [(t.name, globals()[t.name], t.oracle) for t in TWINS]
