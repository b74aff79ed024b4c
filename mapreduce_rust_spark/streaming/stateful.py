"""Custom stateful streaming — ``applyInPandasWithState``.

Per-user cumulative event counter: the state store keeps one (count,
sum) pair per user; each micro-batch folds its Arrow batches into the
state and emits the updated totals. This is the operator shape for
anything Spark's built-in aggregations can't express (per-key custom
accumulators, decaying counters, online sketches) — state is
partitioned by the group key, so it scales with keys, not events.

Emission is per-batch cumulative; the registry query folds the sink
with a final max() so the result is batch-count-independent (and
therefore deterministic under any AvailableNow batching).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreduce_rust_spark.streaming.windows import _run_to_table
from mapreduce_rust_spark.tables import read_events_stream_rows

OUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, v double"


def _update_user_state(key, pdfs: Iterator[pd.DataFrame],
                       state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, v = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        v += float(pdf["value"].sum())
    state.update((n, v))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                        "total_value": [v]})


def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals via custom state. Output: final
    cumulative row per user (max over per-batch emissions)."""
    src, rows = read_events_stream_rows(spark, sf_dir)
    ev = src.select("user_id", "value")
    updated = (ev.groupBy("user_id")
                 .applyInPandasWithState(
                     _update_user_state, OUT_SCHEMA, STATE_SCHEMA,
                     "update", GroupStateTimeout.NoTimeout))
    out = _run_to_table(updated, "stream_stateful", "update", rows)
    return (out.groupBy("user_id")
               .agg(F.max("n_events").alias("n_events")))


# value totals are float-accumulated in Python state (order-dependent),
# so only the count is oracle-checked; totals are covered in pytest.
STATEFUL_ORACLE = """
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
"""


SESS_GAP_S = 1800       # 30-min inactivity gap
SESS_WM_DELAY_S = 600   # watermark delay (matches WATERMARK)

SESS_OUT_SCHEMA = ("user_id long, sess_start long, sess_end long, "
                   "n_events long")
SESS_STATE_SCHEMA = "start long, last long, n long"


def _update_sessions(key, pdfs: Iterator[pd.DataFrame],
                     state: GroupState) -> Iterator[pd.DataFrame]:
    """Split each user's events into inactivity-gap sessions; emit
    every CLOSED session immediately, keep the trailing open session
    in state with an event-time timeout of last_ts + gap. When the
    watermark passes that, the timeout invocation flushes it — the
    state-EVICTION path a custom stateful operator needs to not
    accumulate keys forever."""
    (user_id,) = key
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame({"user_id": [user_id], "sess_start": [start],
                            "sess_end": [last], "n_events": [n]})
        return
    cur = state.get if state.exists else None  # (start, last, n)
    out = []
    for pdf in pdfs:
        for us in sorted(int(x) for x in pdf["us"]):
            if cur is None:
                cur = (us, us, 1)
            elif us - cur[1] > SESS_GAP_S * 1_000_000:
                out.append(cur)
                cur = (us, us, 1)
            else:
                cur = (cur[0], us, cur[2] + 1)
    state.update(cur)
    state.setTimeoutTimestamp(cur[1] // 1000 + SESS_GAP_S * 1000)
    if out:
        yield pd.DataFrame(
            {"user_id": [user_id] * len(out),
             "sess_start": [s for s, _, _ in out],
             "sess_end": [e for _, e, _ in out],
             "n_events": [n for _, _, n in out]})


def stateful_session_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUT
    eviction: closed sessions emit inline; each user's trailing
    session sits in state until the watermark passes last_ts + gap,
    then flushes via the timeout path (the no-data micro-batch).
    Deterministic under AvailableNow: the final watermark is
    max(ts) − delay, so exactly the trailing sessions older than
    that flush — which is what the oracle computes. Output is in
    exact epoch micros (no float state)."""
    src, rows = read_events_stream_rows(spark, sf_dir)
    ev = (src.withWatermark("ts", f"{SESS_WM_DELAY_S} seconds")
          .select("user_id", "ts", F.unix_micros("ts").alias("us")))
    sessions = (ev.groupBy("user_id")
                  .applyInPandasWithState(
                      _update_sessions, SESS_OUT_SCHEMA, SESS_STATE_SCHEMA,
                      "append", GroupStateTimeout.EventTimeTimeout))
    return _run_to_table(sessions, "stream_session_flush", "append", rows)


STATEFUL_SESSION_ORACLE = f"""
WITH marked AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                  > {SESS_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
), islands AS (
  SELECT user_id, us,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sess_id
  FROM marked
), sess AS (
  SELECT user_id, sess_id,
         MIN(us) AS sess_start, MAX(us) AS sess_end,
         COUNT(*) AS n_events,
         MAX(sess_id) OVER (PARTITION BY user_id) AS last_sess
  FROM islands GROUP BY user_id, sess_id
), wm AS (
  SELECT MAX(epoch_us(ts)) - {SESS_WM_DELAY_S} * 1000000 AS w FROM events
)
SELECT user_id, sess_start, sess_end, n_events
FROM sess, wm
WHERE sess_id < last_sess
   OR sess_end / 1000 + {SESS_GAP_S} * 1000 < w / 1000
"""


Z_OUT_SCHEMA = ("event_id long, event_type string, day string, "
                "n_prev long, is_anomaly boolean")
Z_STATE_SCHEMA = "vals array<long>"

# imported at MODULE level so the state fn references plain-int
# globals (shipped by value with the function); an import inside the
# fn body would execute on the Python worker, where the package is
# not on sys.path when the driver loads __spark_entry__ by file path
from mapreduce_rust_spark.operators.monitoring import Z_MIN_N, Z_WIN  # noqa: E402


def _update_zscore(key, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-(event_type, day) trailing z-score scoring with the last
    ``Z_WIN`` cent-values carried in state (bounded: 100 longs per
    key, regardless of stream length). Rows are sorted by
    (us, event_id) within the batch; state seeds the window across
    micro-batches, which is exact as long as batches arrive in
    event-time order (one fixture file ⇒ one AvailableNow batch;
    prod: time-ordered landing files). All arithmetic is Python int
    ≡ BIGINT — the same integral 3σ test as the batch operator, so
    the two stay bit-identical."""
    etype, day = key
    window = list(state.get[0]) if state.exists else []
    rows = []
    for pdf in pdfs:
        rows += list(zip((int(x) for x in pdf["us"]),
                         (int(x) for x in pdf["event_id"]),
                         (int(x) for x in pdf["vc"])))
    rows.sort()
    out_id, out_n, out_a = [], [], []
    for _us, eid, vc in rows:
        n = len(window)
        if n >= Z_MIN_N:
            s = sum(window)
            q = sum(v * v for v in window)
            d = vc * n - s
            out_id.append(eid)
            out_n.append(n)
            out_a.append(d * d > 9 * (n * q - s * s))
        window.append(vc)
        if len(window) > Z_WIN:
            window.pop(0)
    state.update((window,))
    if out_id:
        yield pd.DataFrame({"event_id": out_id,
                            "event_type": [etype] * len(out_id),
                            "day": [day] * len(out_id),
                            "n_prev": out_n, "is_anomaly": out_a})


def stream_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``monitoring.zscore_anomaly_events`` —
    kappa-architecture parity: the SAME trailing-3σ semantics, run as
    a custom stateful operator instead of a batch window, checked
    against the SAME DuckDB oracle. State is the trailing 100-value
    deque per (event_type, day) — bounded per key and evicted
    naturally as day keys go stale; the Python loop is the
    custom-accumulator extension point (an online sketch or decaying
    counter drops into the same harness)."""
    src, rows = read_events_stream_rows(spark, sf_dir)
    ev = (src.select("event_id",
                     F.col("event_type"),
                     F.date_format("ts", "yyyy-MM-dd").alias("day"),
                     F.unix_micros("ts").alias("us"),
                     F.round(F.col("value") * 100).cast("long").alias("vc")))
    scored = (ev.groupBy("event_type", "day")
                .applyInPandasWithState(
                    _update_zscore, Z_OUT_SCHEMA, Z_STATE_SCHEMA,
                    "update", GroupStateTimeout.NoTimeout))
    return _run_to_table(scored, "stream_zscore", "update", rows)


EWMA_OUT_SCHEMA = "user_id long, n_events long, ewma double"
EWMA_STATE_SCHEMA = "n long, s double"


def _update_ewma(key, pdfs: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user sequential EWMA (α = 1/2) carried across micro-batches
    as one (n, s) pair — THE canonical stateful-streaming accumulator
    (state is two scalars per key, never a window). Python floats are
    IEEE doubles and the update (vc + s) / 2.0 is the identical op
    sequence as the batch op's JVM fold, so twin and batch stay
    bit-identical under in-order batches (the zscore twin's ordering
    contract)."""
    (user_id,) = key
    n, s = state.get if state.exists else (0, 0.0)
    rows = []
    for pdf in pdfs:
        rows += list(zip((int(x) for x in pdf["us"]),
                         (int(x) for x in pdf["event_id"]),
                         (int(x) for x in pdf["vc"])))
    rows.sort()
    for _us, _eid, vc in rows:
        s = float(vc) if n == 0 else (float(vc) + s) / 2.0
        n += 1
    state.update((n, s))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                        "ewma": [s / 100.0]})


def stream_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``temporal.ewma_user_value`` — kappa parity
    for the order-sensitive recurrence class (the prior twins cover
    mergeable aggregates; this one has NO commutative partial form,
    which is exactly why its streaming shape is per-key scalar state
    rather than a complete-mode agg). Emissions are per-batch
    cumulative; the final row per user is the one with the largest
    n_events (struct-max — n strictly increases). Same DuckDB oracle
    as the batch op."""
    src, rows = read_events_stream_rows(spark, sf_dir)
    ev = (src.select("user_id", F.unix_micros("ts").alias("us"), "event_id",
                     F.bround(F.col("value") * 100).cast("long").alias("vc")))
    updated = (ev.groupBy("user_id")
                 .applyInPandasWithState(
                     _update_ewma, EWMA_OUT_SCHEMA, EWMA_STATE_SCHEMA,
                     "update", GroupStateTimeout.NoTimeout))
    out = _run_to_table(updated, "stream_ewma", "update", rows)
    last = F.max(F.struct("n_events", "ewma")).alias("m")
    return (out.groupBy("user_id").agg(last)
               .select("user_id", F.col("m.n_events").alias("n_events"),
                       F.col("m.ewma").alias("ewma")))


HOLT_OUT_SCHEMA = ("user_id long, n_events long, level double, "
                   "trend double, forecast1 double")
HOLT_STATE_SCHEMA = "n long, l double, t double"


def _update_holt(key, pdfs: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user Holt level+trend state (α = β = 1/2) carried across
    micro-batches as (n, l, t). Python floats are IEEE doubles and
    the update runs the identical op sequence as the batch op's JVM
    fold and the oracle's recursive CTE, so all three stay
    bit-identical under in-order batches."""
    (user_id,) = key
    n, l, t = state.get if state.exists else (0, 0.0, 0.0)
    rows = []
    for pdf in pdfs:
        rows += list(zip((int(x) for x in pdf["us"]),
                         (int(x) for x in pdf["event_id"]),
                         (int(x) for x in pdf["vc"])))
    rows.sort()
    for _us, _eid, vc in rows:
        if n == 0:
            l, t = float(vc), 0.0
        else:
            newl = (float(vc) + (l + t)) / 2.0
            t = ((newl - l) + t) / 2.0
            l = newl
        n += 1
    state.update((n, l, t))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                        "level": [l / 100.0], "trend": [t / 100.0],
                        "forecast1": [(l + t) / 100.0]})


def stream_holt_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``temporal.holt_user_value`` — the
    two-component member of the order-sensitive kappa class (EWMA
    carries one scalar; Holt carries level AND trend, still O(1)
    state per key). Emissions are per-batch cumulative; final row
    per user = max n_events. Same recursive-CTE DuckDB oracle as
    the batch op."""
    src, rows = read_events_stream_rows(spark, sf_dir)
    ev = (src.select("user_id", F.unix_micros("ts").alias("us"), "event_id",
                     F.bround(F.col("value") * 100).cast("long").alias("vc")))
    updated = (ev.groupBy("user_id")
                 .applyInPandasWithState(
                     _update_holt, HOLT_OUT_SCHEMA, HOLT_STATE_SCHEMA,
                     "update", GroupStateTimeout.NoTimeout))
    out = _run_to_table(updated, "stream_holt", "update", rows)
    last = F.max(F.struct("n_events", "level", "trend", "forecast1")).alias("m")
    return (out.groupBy("user_id").agg(last)
               .select("user_id", F.col("m.n_events").alias("n_events"),
                       F.col("m.level").alias("level"),
                       F.col("m.trend").alias("trend"),
                       F.col("m.forecast1").alias("forecast1")))


MARKOV_OUT_SCHEMA = "from_type string, to_type string, n long"
MARKOV_STATE_SCHEMA = "last_us long, last_eid long, last_type string"
MARKOV_GAP_US = 1800 * 1_000_000   # sessionize/olap 30-min gap


def _update_markov(key, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user last-event state (3 scalars per key): each event in
    (us, event_id) order emits a (last_type → type) transition iff
    the gap stays inside the session, then becomes the new last
    event. Transitions are pre-counted per batch so the sink holds
    (from, to, n) partials, not per-event rows."""
    from collections import Counter
    last = state.get if state.exists else None
    rows = []
    for pdf in pdfs:
        rows += list(zip((int(x) for x in pdf["us"]),
                         (int(x) for x in pdf["event_id"]),
                         pdf["event_type"]))
    rows.sort()
    counts: Counter = Counter()
    for us, eid, etype in rows:
        if last is not None and us - last[0] <= MARKOV_GAP_US:
            counts[(last[2], etype)] += 1
        last = (us, eid, etype)
    if last is not None:
        state.update(last)
    if counts:
        ks = sorted(counts)
        yield pd.DataFrame({"from_type": [k[0] for k in ks],
                            "to_type": [k[1] for k in ks],
                            "n": [counts[k] for k in ks]})


def stream_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``olap.markov_transitions_events`` — the
    transition counts are per-key sequential state (last event per
    user, 3 scalars), the second member of the order-sensitive kappa
    class beside stream_ewma; the normalization P(to|from) is a
    batch finish over the bounded |types|² count table. Emitted
    partials are per-batch increments (append semantics), so the
    final aggregate is a plain SUM — no struct-max dance. Same
    DuckDB oracle as the batch op."""
    from pyspark.sql import Window as W
    src, rows = read_events_stream_rows(spark, sf_dir)
    ev = (src.select("user_id", F.unix_micros("ts").alias("us"), "event_id",
                     "event_type"))
    updated = (ev.groupBy("user_id")
                 .applyInPandasWithState(
                     _update_markov, MARKOV_OUT_SCHEMA, MARKOV_STATE_SCHEMA,
                     "update", GroupStateTimeout.NoTimeout))
    out = _run_to_table(updated, "stream_markov", "update", rows)
    counts = out.groupBy("from_type", "to_type").agg(
        F.sum("n").alias("n_trans"))
    w_from = W.partitionBy("from_type")
    return (counts
            .withColumn("n_from", F.sum("n_trans").over(w_from))
            .select("from_type", "to_type", "n_trans",
                    (F.col("n_trans").cast("double")
                     / F.col("n_from").cast("double")).alias("p_cond")))


ATTR_OUT_SCHEMA = "touch_type string, n long"
ATTR_STATE_SCHEMA = "last_us long, touch_type string"


def _update_attribution(key, pdfs: Iterator[pd.DataFrame],
                        state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user 2-scalar state: last event time (session-gap test)
    and the current session's most recent non-purchase touch. A
    purchase emits a credit to the stored touch ('direct' when the
    session has none); a session gap clears the touch. Credits are
    pre-counted per batch."""
    from collections import Counter
    last_us, touch = state.get if state.exists else (None, None)
    rows = []
    for pdf in pdfs:
        rows += list(zip((int(x) for x in pdf["us"]),
                         (int(x) for x in pdf["event_id"]),
                         pdf["event_type"]))
    rows.sort()
    counts: Counter = Counter()
    for us, _eid, etype in rows:
        if last_us is not None and us - last_us > MARKOV_GAP_US:
            touch = None
        if etype == "purchase":
            counts[touch if touch is not None else "direct"] += 1
        else:
            touch = etype
        last_us = us
    state.update((last_us, touch))
    if counts:
        ks = sorted(counts)
        yield pd.DataFrame({"touch_type": ks,
                            "n": [counts[k] for k in ks]})


def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``olap.attribution_last_touch`` — third
    member of the order-sensitive kappa class (EWMA: numeric
    recurrence; Markov: last-event pair state; this: a small state
    MACHINE with session-reset semantics). Per-batch credit
    increments sum to the final report; same DuckDB oracle as the
    batch op."""
    src, rows = read_events_stream_rows(spark, sf_dir)
    ev = (src.select("user_id", F.unix_micros("ts").alias("us"), "event_id",
                     "event_type"))
    updated = (ev.groupBy("user_id")
                 .applyInPandasWithState(
                     _update_attribution, ATTR_OUT_SCHEMA,
                     ATTR_STATE_SCHEMA, "update",
                     GroupStateTimeout.NoTimeout))
    out = _run_to_table(updated, "stream_attribution", "update", rows)
    return (out.groupBy("touch_type")
               .agg(F.sum("n").alias("n_conversions")))


PATTERN_OUT_SCHEMA = "user_id long, n_events long, n_funnels long"
PATTERN_STATE_SCHEMA = "n long, nf long, open boolean"


def _update_pattern(key, pdfs: Iterator[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user automaton state for the ``v[vc]*p`` funnel pattern:
    one boolean ("an unclosed v[vc]* prefix is open") plus two
    counters, carried across micro-batches. For this pattern class
    (character class with a required terminal literal — see the batch
    op's determinism note) the regex's non-overlapping match set
    equals this 1-bit automaton exactly: a match is a maximal v/c run
    containing a v, closed by the first following p; any other
    character closes the prefix unmatched. A prefix left open at a
    batch boundary completes on the next batch's p — exactly the
    cross-batch continuation the batch op's whole-history regexp
    implies."""
    (user_id,) = key
    n, nf, opn = state.get if state.exists else (0, 0, False)
    rows = []
    for pdf in pdfs:
        rows += list(zip((int(x) for x in pdf["us"]),
                         (int(x) for x in pdf["event_id"]),
                         pdf["tc"]))
    rows.sort()
    for _us, _eid, tc in rows:
        if tc == "v":
            opn = True
        elif tc == "p":
            if opn:
                nf += 1
            opn = False
        elif tc != "c":
            opn = False
        n += 1
    state.update((n, nf, opn))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                        "n_funnels": [nf]})


def stream_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``olap.event_pattern_funnel`` — the kappa
    family's regex/sequence-matching member: the batch op regexps the
    whole per-user history; the twin runs the equivalent automaton as
    per-key state (1 bit + 2 counters — the smallest state in the
    family). Emissions are per-batch cumulative; final row per user =
    struct-max on n_events; same DuckDB oracle as the batch op."""
    src, rows = read_events_stream_rows(spark, sf_dir)
    ev = (src.select("user_id", F.unix_micros("ts").alias("us"), "event_id",
                     F.substring("event_type", 1, 1).alias("tc")))
    updated = (ev.groupBy("user_id")
                 .applyInPandasWithState(
                     _update_pattern, PATTERN_OUT_SCHEMA,
                     PATTERN_STATE_SCHEMA, "update",
                     GroupStateTimeout.NoTimeout))
    out = _run_to_table(updated, "stream_event_pattern", "update", rows)
    last = F.max(F.struct("n_events", "n_funnels")).alias("m")
    return (out.groupBy("user_id").agg(last)
               .select("user_id", F.col("m.n_events").alias("n_events"),
                       F.col("m.n_funnels").alias("n_funnels"))
               .filter(F.col("n_funnels") > 0))


from mapreduce_rust_spark.operators.monitoring import ZSCORE_ORACLE  # noqa: E402
from mapreduce_rust_spark.operators.olap import ATTRIBUTION_ORACLE, EVENT_PATTERN_ORACLE, MARKOV_ORACLE  # noqa: E402
from mapreduce_rust_spark.operators.temporal import EWMA_ORACLE, HOLT_ORACLE  # noqa: E402


BOTGAP_OUT_SCHEMA = "user_id long, gap long, n long"
BOTGAP_STATE_SCHEMA = "last_sec long, last_eid long"


def _update_botgap(key, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user last-event state (2 scalars per key): each event in
    (sec, event_id) order emits its integer-second gap to the
    previous event. Gaps are pre-counted per batch so the sink holds
    (user, gap, n) partials, not per-event rows — the _update_markov
    discipline on the timing axis instead of the type axis."""
    from collections import Counter
    last = state.get if state.exists else None
    rows = []
    for pdf in pdfs:
        rows += list(zip((int(x) for x in pdf["sec"]),
                         (int(x) for x in pdf["event_id"])))
    rows.sort()
    counts: Counter = Counter()
    for sec, eid in rows:
        if last is not None:
            counts[sec - last[0]] += 1
        last = (sec, eid)
    if last is not None:
        state.update(last)
    if counts:
        ks = sorted(counts)
        yield pd.DataFrame({"user_id": [int(key[0])] * len(ks),
                            "gap": ks,
                            "n": [counts[k] for k in ks]})


def stream_bot_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``monitoring.bot_gap_regularity_events`` —
    eighteenth kappa pair, third member of the order-sensitive
    stateful class (beside stream_ewma / stream_markov): the per-user
    gap derivation is 2-scalar sequential state, the (user, gap)
    counts are mergeable per-batch increments, and the shared closed
    form picks the modal gap batch-side. Bit-identical to the batch
    op (integer seconds, deterministic mode tie-break); same DuckDB
    oracle."""
    from mapreduce_rust_spark.operators.monitoring import (
        bot_gap_closed_form)
    src, rows = read_events_stream_rows(spark, sf_dir)
    ev = (src.select("user_id", F.col("ts").cast("long").alias("sec"),
                     "event_id"))
    updated = (ev.groupBy("user_id")
                 .applyInPandasWithState(
                     _update_botgap, BOTGAP_OUT_SCHEMA, BOTGAP_STATE_SCHEMA,
                     "update", GroupStateTimeout.NoTimeout))
    out = _run_to_table(updated, "stream_bot_gap", "update", rows)
    cnt = out.groupBy("user_id", "gap").agg(F.sum("n").alias("c"))
    return bot_gap_closed_form(cnt)


def _botgap_oracle() -> str:
    from mapreduce_rust_spark.operators.monitoring import BOT_GAP_ORACLE
    return BOT_GAP_ORACLE


REGISTRATIONS = [
    ("stateful_user_totals", stateful_user_totals, STATEFUL_ORACLE),
    ("stateful_session_flush", stateful_session_flush,
     STATEFUL_SESSION_ORACLE),
    # streaming twin of the batch operator — same oracle on purpose
    ("stream_zscore_anomaly", stream_zscore_anomaly, ZSCORE_ORACLE),
    ("stream_ewma_user_value", stream_ewma_user_value, EWMA_ORACLE),
    ("stream_holt_user_value", stream_holt_user_value, HOLT_ORACLE),
    ("stream_markov_transitions", stream_markov_transitions, MARKOV_ORACLE),
    ("stream_attribution", stream_attribution, ATTRIBUTION_ORACLE),
    ("stream_event_pattern", stream_event_pattern, EVENT_PATTERN_ORACLE),
    ("stream_bot_gap_regularity", stream_bot_gap_regularity,
     _botgap_oracle()),
]
