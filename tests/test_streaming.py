"""M4 — streaming slice: batch-equivalence and watermark behavior."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


def _collect_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_stream_tumbling_equals_batch(spark):
    from mapreduce_rust_spark.operators.relational import tumbling_event_counts
    from mapreduce_rust_spark.streaming.windows import stream_tumbling_counts
    cols = ["bucket_start", "event_type", "n", "sum_value"]
    got = _collect_set(stream_tumbling_counts(spark, SF_SMOKE), cols)
    want = _collect_set(tumbling_event_counts(spark, SF_SMOKE), cols)
    assert got == want


def test_stream_session_equals_batch_sessionize(spark):
    """Session-window streaming result must agree with the batch
    gap-based sessionization on session counts per user."""
    from mapreduce_rust_spark.operators.relational import sessionize_events
    from mapreduce_rust_spark.streaming.windows import stream_session_windows
    sess = stream_session_windows(spark, SF_SMOKE)
    got = {r.user_id: r.n for r in
           sess.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    want = {r.user_id: r.n_sessions for r in
            sessionize_events(spark, SF_SMOKE).collect()}
    assert got == want


def test_stateful_totals_match_batch(spark):
    from mapreduce_rust_spark.streaming.stateful import stateful_user_totals
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    want = {r.user_id: r.n for r in
            ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    got = {r.user_id: r.n_events for r in
           stateful_user_totals(spark, SF_SMOKE).collect()}
    assert got == want


def test_stateful_survives_multiple_microbatches(spark, tmp_path):
    """The stateful operator's final fold must be batch-count
    independent: split the source into 2 files, force 1 file per
    micro-batch, and the totals must still match the batch count."""
    from mapreduce_rust_spark.streaming.stateful import (
        OUT_SCHEMA, STATE_SCHEMA, _update_user_state)
    from pyspark.sql.streaming.state import GroupStateTimeout
    from mapreduce_rust_spark.tables import load_table

    src = tmp_path / "stream_src"
    src.mkdir()
    # split the fixture into two files (post-adaptation schema, so the
    # test is independent of the fixture's on-disk timestamp era)
    raw = load_table(spark, SF_SMOKE, "events")
    half1 = raw.filter(F.col("event_id") % 2 == 0)
    half2 = raw.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.parquet(str(src / "p1"))
    half2.coalesce(1).write.parquet(str(src / "p2"))

    stream = (spark.readStream.schema(raw.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/p*/*.parquet")
              .select("user_id", "value"))
    updated = (stream.groupBy("user_id")
               .applyInPandasWithState(_update_user_state, OUT_SCHEMA,
                                       STATE_SCHEMA, "update",
                                       GroupStateTimeout.NoTimeout))
    for q in spark.streams.active:
        if q.name == "multi_batch_test":
            q.stop()
    q = (updated.writeStream.outputMode("update").format("memory")
         .queryName("multi_batch_test").trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.table("multi_batch_test")
    assert q.lastProgress is not None
    got = {r.user_id: r.n for r in
           out.groupBy("user_id").agg(F.max("n_events").alias("n")).collect()}
    want = {r.user_id: r.n for r in
            raw.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_stream_stream_interval_join_equals_batch(spark):
    """Stream-stream interval join (clicks ⋈ purchases within 30 min,
    watermarked both sides) must equal the batch range join."""
    from mapreduce_rust_spark.operators.temporal import interval_join_click_purchase
    from mapreduce_rust_spark.streaming.windows import read_events_stream

    ev = read_events_stream(spark, SF_SMOKE)
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.col("event_id").alias("click_id"),
                        F.col("ts").alias("click_ts"))
                .withWatermark("click_ts", "1 hour"))
    buys = (ev.filter(F.col("event_type") == "purchase")
              .select(F.col("user_id").alias("b_user_id"),
                      F.col("event_id").alias("purchase_id"),
                      F.col("ts").alias("buy_ts"))
              .withWatermark("buy_ts", "1 hour"))
    joined = (clicks.join(
        buys,
        F.expr("""user_id = b_user_id AND
                  buy_ts >= click_ts AND
                  buy_ts <= click_ts + INTERVAL 30 MINUTES""")))
    for q in spark.streams.active:
        if q.name == "ss_join":
            q.stop()
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("ss_join").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id, r.click_id, r.purchase_id)
           for r in spark.table("ss_join")
                         .select("user_id", "click_id", "purchase_id").collect()}
    want = {(r.user_id, r.click_id, r.purchase_id)
            for r in interval_join_click_purchase(spark, SF_SMOKE).collect()}
    assert got == want and len(want) > 0


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Append-mode windowed agg: an event arriving after the watermark
    passed its window must be dropped, not re-opened."""
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("k", T.StringType())])
    src = tmp_path / "late_src"; src.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
             .write.parquet(str(src / name))

    import datetime as dt
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    ckpt = str(tmp_path / "late_ckpt")
    sink = str(tmp_path / "late_sink")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/b*/*.parquet")
        agg = (stream.withWatermark("ts", "10 minutes")
                     .groupBy(F.window("ts", "1 hour").alias("w"))
                     .agg(F.count("*").alias("n")))
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # run 1: events up to 02:00 → watermark persists at 01:50; the
    # 00:00 window finalizes and is emitted with ONLY the on-time row
    write_batch("b1", [(base + dt.timedelta(hours=2), "fresh"),
                       (base + dt.timedelta(minutes=30), "ontime")])
    run_once()
    # run 2 (restart from checkpoint): a very late 00:00 event + fresh
    write_batch("b2", [(base, "late"),
                       (base + dt.timedelta(hours=2, minutes=5), "fresh2")])
    run_once()
    rows = {(r["w"]["start"].hour, r["n"])
            for r in spark.read.parquet(sink).collect()}
    assert (0, 1) in rows      # finalized with the on-time event only
    assert (0, 2) not in rows  # the late event was dropped, not merged


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Exactly-once file source: after a stop/restart with the same
    checkpoint, already-processed files are not re-counted."""
    import shutil
    from pyspark.sql import types as T

    src = tmp_path / "src"; src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    df1 = spark.range(10).select(F.col("id"))
    df1.coalesce(1).write.parquet(str(src / "f1"))

    schema = T.StructType([T.StructField("id", T.LongType())])

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/f*/*.parquet")
        q = (stream.writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == 10
    # second batch of data arrives, restart with same checkpoint
    spark.range(100, 105).coalesce(1).write.parquet(str(src / "f2"))
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == 15  # 10 + 5, no duplicates from f1
    assert out.select(F.countDistinct("id")).collect()[0][0] == 15


def test_watermark_bounds_state(spark):
    """The windowed agg must declare an event-time watermark (bounded
    state at scale); assert it's present in the analyzed plan."""
    from mapreduce_rust_spark.streaming.windows import WATERMARK, read_events_stream
    ev = read_events_stream(spark, SF_SMOKE)
    agg = (ev.withWatermark("ts", WATERMARK)
             .groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n")))
    assert "EventTimeWatermark" in agg._jdf.queryExecution().analyzed().toString()


def test_foreachbatch_incremental_rollup_refresh(spark, tmp_path):
    """The WRITE side of the continuous-aggregate pattern
    (rollup_merge_events reads such a table): each micro-batch appends
    its own hourly DECIMAL partials to the rollup table via
    foreachBatch; re-summing the partials must equal aggregating all
    raw events. Partials stay decimal until the final cast, so the
    merge is exact for any batch boundary — the same discipline the
    batch rollup-merge uses for its cutoff."""
    from mapreduce_rust_spark.operators.relational import (
        DEC_FINE, tumbling_event_counts)
    from mapreduce_rust_spark.streaming.windows import read_events_stream

    out = str(tmp_path / "rollup")
    ev = read_events_stream(spark, SF_SMOKE)

    def refresh(batch_df, batch_id):
        (batch_df
         .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
         .agg(F.count("*").alias("n"),
              F.sum(F.col("value").cast(DEC_FINE)).alias("sum_dec"))
         .select(F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
                 "event_type", "n", "sum_dec")
         .write.mode("append").parquet(out))

    q = (ev.writeStream.foreachBatch(refresh)
           .trigger(availableNow=True)
           .option("checkpointLocation", str(tmp_path / "ckpt"))
           .start())
    q.awaitTermination()

    merged = (spark.read.parquet(out)
              .groupBy("bucket_start", "event_type")
              .agg(F.sum("n").alias("n"),
                   F.sum("sum_dec").cast("double").alias("sum_value")))
    cols = ["bucket_start", "event_type", "n", "sum_value"]
    got = _collect_set(merged, cols)
    want = _collect_set(tumbling_event_counts(spark, SF_SMOKE), cols)
    assert got == want


def test_stream_approx_distinct_batch_equivalent(spark):
    """HLL register maxima are order-independent, so the streaming
    windowed sketch must EQUAL the batch register computation on the
    same data — and the ESTIMATE must sit within 15% of exact. The
    fixture's ~70 users per window fill m = 512 registers sparsely
    (linear-counting regime), so the test applies the standard
    client-side correction n̂ = m·ln(m/zero_regs) the op's docstring
    prescribes (ln is libm and therefore lives outside the
    oracle-checked columns)."""
    from pyspark.sql import functions as F
    from mapreduce_rust_spark.operators.relational import (
        hll_readout, hll_rho_select)
    from mapreduce_rust_spark.streaming.windows import (
        stream_approx_distinct_users)
    from mapreduce_rust_spark.tables import load_table
    from tests.conftest import SF_CORRECT
    got = {r.bucket_start: (r.sum_scaled, r.reg_sum, r.n_rows, r.est_raw)
           for r in stream_approx_distinct_users(spark, SF_CORRECT).collect()}
    ev = load_table(spark, SF_CORRECT, "events")
    per = (hll_rho_select(ev.withColumn("w", F.window("ts", "6 hours")),
                          ["w"], "user_id")
           .groupBy("w", "bucket")
           .agg(F.max("rho").alias("reg"), F.count("*").alias("cnt")))
    batch = hll_readout(
        per.select(F.unix_timestamp(F.col("w.start"))
                   .alias("bucket_start"), "bucket", "reg", "cnt"),
        ["bucket_start"])
    exact = {int(r.w.start.timestamp()): r.x
             for r in ev.groupBy(F.window("ts", "6 hours").alias("w"))
                        .agg(F.countDistinct("user_id").alias("x"))
                        .collect()}
    rows = batch.collect()
    assert rows and len(rows) == len(got)
    for r in rows:
        assert got[r.bucket_start] == (r.sum_scaled, r.reg_sum,
                                       r.n_rows, r.est_raw)
        x = exact[r.bucket_start]
        # standard HLL estimator switch: linear counting when the
        # raw estimate is below 2.5m and zero registers remain
        import math
        est = r.est_raw
        if r.zero_regs > 0 and est <= 2.5 * r.m:
            est = r.m * math.log(r.m / r.zero_regs)
        assert abs(est - x) <= 0.15 * x, (r.bucket_start, est, x)


def test_foreachbatch_streaming_upsert(spark, tmp_path):
    """Streaming CDC-style upsert: each micro-batch MERGEs its
    latest-state-per-user rows into a parquet target via
    merge_upsert in foreachBatch. After the stream drains, the
    target must equal the batch answer (each user's latest event by
    (ts, event_id)) — exactly the 'apply a changelog to a serving
    table' pattern; at 100 TB the same code writes a key-bucketed
    table so each merge joins without an exchange."""
    from mapreduce_rust_spark.operators.merge import merge_upsert
    from mapreduce_rust_spark.streaming.windows import read_events_stream
    from mapreduce_rust_spark.tables import load_table

    target = str(tmp_path / "user_state")

    def latest_per_user(df):
        pick = F.struct(F.col("epoch_us").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("event_type").alias("ty"),
                        F.col("value").alias("v"))
        return (df.withColumn("epoch_us", F.unix_micros(F.col("ts")))
                  .groupBy("user_id").agg(F.max(pick).alias("m"))
                  .select("user_id", F.col("m.e").alias("last_event_id"),
                          F.col("m.ty").alias("last_type"),
                          F.col("m.v").alias("last_value")))

    def upsert(batch_df, batch_id):
        src = latest_per_user(batch_df)
        try:
            tgt = spark.read.parquet(target)
        except Exception:  # first batch: no target yet
            src.write.mode("overwrite").parquet(target)
            return
        merged = merge_upsert(tgt, src, "user_id")
        # parquet has no transactional overwrite-while-reading;
        # materialize then swap (a real lakehouse table format makes
        # this atomic — the merge PLAN is what is under test)
        merged.localCheckpoint(eager=True).write.mode(
            "overwrite").parquet(target)

    q = (read_events_stream(spark, SF_SMOKE)
         .writeStream.foreachBatch(upsert)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.awaitTermination()

    got = {r.user_id: (r.last_event_id, r.last_type, r.last_value)
           for r in spark.read.parquet(target).collect()}
    want = {r.user_id: (r.last_event_id, r.last_type, r.last_value)
            for r in latest_per_user(
                load_table(spark, SF_SMOKE, "events")).collect()}
    assert got == want


def test_stream_trend_equals_batch_invariants(spark):
    """Third leg of the streaming-twin pattern (tumbling and zscore
    above assert exact row equality; trend is the approximate leg):
    the OLS twin pins x to a FIXED origin while the batch op uses the
    global min event time. Slope/R² are origin-invariant in exact
    arithmetic, but BOTH ops truncate x to whole seconds (integer
    DIV) from their own origin, so each point's x carries ±1 s of
    origin-dependent quantization jitter — over a ~month fixture
    range that bounds slope/R² agreement to ~1e-4 relative, not ulps.
    Compare n exactly and slope/R² to 1e-3; the intercept is
    origin-dependent by design and excluded. Exact evidence for each
    side separately is its own shared-OLS_ORACLE_TAIL driver oracle
    (both are in the r5 window)."""
    import pytest as _pytest
    from mapreduce_rust_spark.operators.monitoring import trend_ols_events
    from mapreduce_rust_spark.streaming.windows import stream_trend_ols
    from tests.conftest import SF_CORRECT
    got = {r.event_type: (r.n, r.slope_cents_per_sec, r.r2)
           for r in stream_trend_ols(spark, SF_CORRECT).collect()}
    want = {r.event_type: (r.n, r.slope_cents_per_sec, r.r2)
            for r in trend_ols_events(spark, SF_CORRECT).collect()}
    assert set(got) == set(want) and got
    for et, (n, slope, r2) in want.items():
        gn, gslope, gr2 = got[et]
        assert gn == n
        assert gslope == _pytest.approx(slope, rel=1e-3)
        assert gr2 == _pytest.approx(r2, rel=1e-3)


def test_stream_zscore_equals_batch(spark):
    """Kappa parity, asserted directly (not just via the shared
    oracle): the stateful streaming scorer must emit exactly the
    batch window operator's rows."""
    from mapreduce_rust_spark.operators.monitoring import (
        zscore_anomaly_events)
    from mapreduce_rust_spark.streaming.stateful import (
        stream_zscore_anomaly)
    from tests.conftest import SF_CORRECT
    got = {r.event_id: (r.event_type, r.day, r.n_prev, r.is_anomaly)
           for r in stream_zscore_anomaly(spark, SF_CORRECT).collect()}
    want = {r.event_id: (r.event_type, r.day, r.n_prev, r.is_anomaly)
            for r in zscore_anomaly_events(spark, SF_CORRECT).collect()}
    assert got == want and got


def test_stream_event_pattern_equals_batch(spark):
    """The 1-bit automaton twin must be row-identical to the batch
    regexp op (kappa parity for the sequence-matching class)."""
    from mapreduce_rust_spark.operators.olap import event_pattern_funnel
    from mapreduce_rust_spark.streaming.stateful import stream_event_pattern
    from tests.conftest import SF_SMOKE
    batch = {(r.user_id, r.n_events, r.n_funnels)
             for r in event_pattern_funnel(spark, SF_SMOKE).collect()}
    twin = {(r.user_id, r.n_events, r.n_funnels)
            for r in stream_event_pattern(spark, SF_SMOKE).collect()}
    assert twin == batch and batch


def test_stream_mannwhitney_equals_batch(spark):
    """The complete-mode counts twin must be bit-identical to the
    batch rank-sum op (pure integer counts + one shared division)."""
    from mapreduce_rust_spark.operators.experiment import mannwhitney_events
    from mapreduce_rust_spark.streaming.windows import stream_mannwhitney
    from tests.conftest import SF_SMOKE
    b = mannwhitney_events(spark, SF_SMOKE).collect()[0]
    t = stream_mannwhitney(spark, SF_SMOKE).collect()[0]
    assert (b.n_treat, b.n_ctrl, b.u2, b.u, b.auc) \
        == (t.n_treat, t.n_ctrl, t.u2, t.u, t.auc)


def test_twin_table_integrity():
    """Every TWINS row binds a module-level query of the same name
    (the one the registry serves), documented, in a known output mode;
    memory-sink names are unique across windows and stateful — a
    shared sink would make ``spark.table(name)`` read another twin's
    result."""
    import ast
    import inspect

    from mapreduce_rust_spark import registry
    from mapreduce_rust_spark.streaming import stateful, windows
    served = registry.queries()
    for t in windows.TWINS:
        fn = getattr(windows, t.name)
        assert fn.__name__ == t.name and served[t.name] is fn
        assert (fn.__doc__ or "").strip(), t.name
        assert t.mode in ("complete", "append"), t.name
    assert [n for n, _, _ in windows.REGISTRATIONS] \
        == [t.name for t in windows.TWINS]
    stateful_sinks = [
        c.args[1].value
        for c in ast.walk(ast.parse(inspect.getsource(stateful)))
        if isinstance(c, ast.Call)
        and getattr(c.func, "id", None) == "_run_to_table"]
    assert len(stateful_sinks) == len(stateful.REGISTRATIONS)
    sinks = [t.sink for t in windows.TWINS] + stateful_sinks
    assert len(set(sinks)) == len(sinks)


def test_scratch_checkpoint_falls_back_when_shm_is_full(
        spark, monkeypatch, tmp_path):
    """With no explicit scratch conf, a tmpfs below the free-space
    floor is skipped: the throwaway checkpoint lands under the normal
    temp dir instead of failing the stream mid-run with ENOSPC. An
    explicit scratch conf is honoured as given."""
    import os
    import shutil
    import tempfile

    from mapreduce_rust_spark.streaming import windows
    assert not spark.conf.get(windows._SCRATCH_CONF, "")
    monkeypatch.setattr(windows, "_free_bytes", lambda path: 0)
    ckpt = windows._scratch_checkpoint_dir(spark)
    try:
        assert os.path.dirname(ckpt) == tempfile.gettempdir()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    spark.conf.set(windows._SCRATCH_CONF, str(tmp_path))
    try:
        ckpt = windows._scratch_checkpoint_dir(spark)
        assert os.path.dirname(ckpt) == str(tmp_path)
    finally:
        spark.conf.unset(windows._SCRATCH_CONF)


def test_state_partitions_one_per_arrow_batch():
    """One state partition per Arrow batch of streamed rows, clamped
    to [1, ceiling]."""
    from mapreduce_rust_spark.streaming.windows import _state_partitions
    assert _state_partitions(0, 10_000, 8) == 1
    assert _state_partitions(10_000, 10_000, 8) == 1
    assert _state_partitions(10_001, 10_000, 8) == 2
    assert _state_partitions(10**12, 10_000, 8) == 8
    assert _state_partitions(10**12, 0, 8) == 1  # Arrow "no limit"


def test_twin_drains_record_derived_state_partitions(spark):
    """A JVM-state twin drains on one state partition. An
    applyInPandasWithState twin gets one per Arrow batch of the events
    it streams (sf0.01: 10 000 rows, one batch by default), never more
    than the task slots even when the caller's shuffle partitions
    allow it. The count is read back from the stream's progress, and
    the caller's confs are restored."""
    from mapreduce_rust_spark.streaming import windows
    from mapreduce_rust_spark.streaming.stateful import stateful_user_totals
    shuffle = "spark.sql.shuffle.partitions"
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(shuffle), spark.conf.get(batch)
    slots = spark.sparkContext.defaultParallelism

    def drain(fn):
        windows.LAST_STREAM_STATS = None
        fn(spark, SF_CORRECT)
        stats = windows.LAST_STREAM_STATS
        return (stats["source_rows"], stats["state_partitions"],
                spark.conf.get(shuffle))

    assert drain(windows.stream_tumbling_counts) == (None, 1, before[0])
    assert drain(stateful_user_totals) == (10_000, 1, before[0])
    # 1 000-row batches make 10 batches; the caller allows 32
    spark.conf.set(shuffle, "32")
    spark.conf.set(batch, "1000")
    try:
        assert drain(windows.stream_tumbling_counts) == (None, 1, "32")
        assert drain(stateful_user_totals) == (
            10_000, min(10, slots), "32")
    finally:
        spark.conf.set(shuffle, before[0])
        spark.conf.set(batch, before[1])


def test_nanos_era_events_leave_caller_conf_unchanged(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file is read through the legacy
    nanosAsLong conf, which is bound for the read only: the caller's
    (unset) value survives the batch load and a twin drain, the loaded
    DataFrame still collects, and the twin matches its result over the
    microsecond-era fixture."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_rust_spark.streaming.windows import stream_tumbling_counts
    from mapreduce_rust_spark.tables import load_table, table_path
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(conf, None) is None
    src = pq.read_table(table_path(SF_SMOKE, "events"))
    i = src.schema.get_field_index("ts")
    nanos = src.set_column(i, "ts", src.column(i).cast(pa.timestamp("ns")))
    pq.write_table(nanos, table_path(str(tmp_path), "events"),
                   version="2.6")

    ev = load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(conf, None) is None
    assert len(ev.collect()) == src.num_rows
    cols = ["bucket_start", "event_type", "n", "sum_value"]
    got = _collect_set(stream_tumbling_counts(spark, str(tmp_path)), cols)
    assert spark.conf.get(conf, None) is None
    assert got == _collect_set(stream_tumbling_counts(spark, SF_SMOKE), cols)


def test_nanos_fallback_retries_only_a_nanos_rejection(
        spark, tmp_path, monkeypatch):
    """The nanosAsLong retry runs only when Spark rejects a
    TIMESTAMP(NANOS) column: a missing file raises its own error from
    one read with the conf never set, and a nanos file reads twice with
    the conf bound for the second read only."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException
    from pyspark.sql.readwriter import DataFrameReader

    from mapreduce_rust_spark.tables import read_parquet_nanos_fallback
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(conf, None) is None
    reads, real = [], DataFrameReader.parquet

    def counting(self, *paths, **options):
        reads.append(spark.conf.get(conf, None))
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    with pytest.raises(AnalysisException) as err:
        read_parquet_nanos_fallback(spark, str(tmp_path / "missing.parquet"))
    assert err.value.getCondition() == "PATH_NOT_FOUND"
    assert reads == [None]
    assert spark.conf.get(conf, None) is None

    reads.clear()
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ns"))}),
                   nanos, version="2.6")
    assert dict(read_parquet_nanos_fallback(spark, nanos).dtypes) == {
        "ts": "bigint"}
    assert reads == [None, "true"]
    assert spark.conf.get(conf, None) is None


@pytest.mark.parametrize("name", ["events", "orders"])
def test_stream_source_reuses_the_batch_scan(spark, tmp_path, name):
    """After ``load_table``, building ``read_table_stream`` over the
    same table runs no Spark job: the stream's source schema is the
    memoized raw batch scan's. A fresh sf_dir makes the batch load the
    session's first, which does run the parquet schema job."""
    import json

    from pyspark.sql.types import StructType

    from mapreduce_rust_spark.tables import (
        load_table, read_table_stream, table_path)
    from tests.test_plans import _jobs_during
    sf_dir, path = str(tmp_path), table_path(str(tmp_path), name)
    os.symlink(table_path(SF_SMOKE, name), path)
    batch, load_jobs = _jobs_during(
        spark, lambda: load_table(spark, sf_dir, name))
    stream, stream_jobs = _jobs_during(
        spark, lambda: read_table_stream(spark, sf_dir, name))
    assert load_jobs >= 1
    assert stream_jobs == 0
    leaf = stream._jdf.queryExecution().analyzed().collectLeaves().head()
    assert StructType.fromJson(json.loads(leaf.schema().json())) \
        == spark.read.parquet(path).schema
    assert stream.schema == batch.schema
