"""Fixture schema-drift canary.

Round 2 lost 9 driver rows, 41 tests, and the bench to a silent
testdata regeneration that changed ``events.ts`` from INT64-nanos to
plain ``timestamp[us]`` parquet. This module pins the POST-LOAD dtypes
every operator relies on, at all three scale factors, so the next
regeneration fails in one obvious place instead of 41 confusing ones.

It also pins the loader's schema-adaptivity: a synthetic nanos-era
events file must load to the same ``timestamp`` dtype as the current
micros-era fixture, and ``register_views`` must survive one broken
table without taking down the rest.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce_rust_spark.tables import TABLES, load_table, register_views

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# Post-load dtypes the operator surface depends on. Only the
# load-bearing columns — adding a new fixture column must not break this.
EXPECTED_DTYPES = {
    "events": {"event_id": "bigint", "ts": "timestamp", "user_id": "bigint",
               "event_type": "string", "value": "double", "props": "string"},
    "orders": {"o_orderkey": "bigint", "o_custkey": "bigint",
               "o_orderstatus": "string", "o_totalprice": "double",
               "o_orderdate": "timestamp_ntz", "o_orderpriority": "string"},
    "lineitem": {"l_orderkey": "bigint", "l_partkey": "bigint",
                 "l_suppkey": "bigint", "l_quantity": "double",
                 "l_extendedprice": "double", "l_discount": "double",
                 "l_tax": "double", "l_returnflag": "string",
                 "l_linestatus": "string", "l_shipdate": "timestamp_ntz"},
    "customer": {"c_custkey": "bigint", "c_nationkey": "int",
                 "c_acctbal": "double", "c_mktsegment": "string"},
    "part": {"p_partkey": "bigint", "p_size": "int", "p_retailprice": "double"},
    "supplier": {"s_suppkey": "bigint", "s_nationkey": "int", "s_acctbal": "double"},
    "nation": {"n_nationkey": "int", "n_regionkey": "int"},
    "region": {"r_regionkey": "int"},
    "documents": {"doc_id": "bigint", "text": "string", "lang": "string",
                  "source": "string", "n_chars": "bigint"},
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
}


def test_load_table_returns_one_object_per_session_dir_and_name(spark):
    """Self-join invariant: repeated loads of one table in one session
    are the identical DataFrame; another directory is not."""
    a = load_table(spark, SF_DIRS[1], "events")
    assert load_table(spark, SF_DIRS[1], "events") is a
    assert load_table(spark, SF_DIRS[0], "events") is not a
    assert load_table(spark, SF_DIRS[1], "orders") is not a


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=lambda d: os.path.basename(d))
def test_load_table_dtypes_stable(spark, sf_dir):
    for name in TABLES:
        got = dict(load_table(spark, sf_dir, name).dtypes)
        for col, dtype in EXPECTED_DTYPES.get(name, {}).items():
            assert got.get(col) == dtype, (
                f"{sf_dir}/{name}.{col}: expected {dtype!r}, loaded {got.get(col)!r} "
                "— testdata fixtures regenerated with a new physical schema? "
                "Adapt mapreduce_rust_spark/tables.py:load_table."
            )


def test_events_loader_adapts_to_nanos_era(spark, tmp_path):
    """A nanos-epoch INT64 ``ts`` (the round-1 fixture encoding) must load
    to the identical ``timestamp`` dtype and wall-clock values as the
    current ``timestamp[us]`` encoding."""
    ns = [1_704_067_200_000_000_000, 1_704_067_260_500_000_000]  # 2024-01-01T00:00[:01].5Z
    tbl = pa.table({
        "event_id": pa.array([0, 1], pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
        "user_id": pa.array([1, 2], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.0, 2.0]),
        "props": pa.array(["{}", "{}"]),
    })
    nano_dir = tmp_path / "nanos"
    nano_dir.mkdir()
    pq.write_table(tbl, nano_dir / "events.parquet",
                   coerce_timestamps=None, use_deprecated_int96_timestamps=False)
    assert pq.read_schema(nano_dir / "events.parquet").field("ts").type == pa.timestamp("ns")

    df = load_table(spark, str(nano_dir), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    rows = {r["event_id"]: r["ts"] for r in df.orderBy("event_id").collect()}
    assert rows[0].isoformat() == "2024-01-01T00:00:00"
    assert rows[1].isoformat() == "2024-01-01T00:01:00.500000"


def test_events_operators_survive_empty_table(spark, tmp_path):
    """A ZERO-ROW events table (valid schema, no data) must produce
    empty results, not crashes — the day-one state of any production
    landing table, and a case even the sf0.001 sweep can't hit."""
    from mapreduce_rust_spark.operators.relational import sessionize_events
    from mapreduce_rust_spark.operators.temporal import (
        asof_last_error, twa_user_value)
    empty_dir = tmp_path / "empty_sf"
    empty_dir.mkdir()
    (load_table(spark, "/root/testdata/sf0.001", "events").limit(0)
     .coalesce(1).write.parquet(str(empty_dir / "events.parquet")))
    for fn in (sessionize_events, asof_last_error, twa_user_value):
        assert fn(spark, str(empty_dir)).count() == 0


def test_register_views_isolates_broken_table(spark, tmp_path):
    """One unreadable fixture must not take down views for the others."""
    sf = "/root/testdata/sf0.001"
    broken = tmp_path / "broken_sf"
    broken.mkdir()
    for name in TABLES:
        if name == "events":
            bad = broken / "events.parquet"
            bad.write_bytes(b"this is not parquet")
        else:
            os.symlink(os.path.join(sf, f"{name}.parquet"),
                       broken / f"{name}.parquet")
    # Prime the memo at the real dir BEFORE breaking things — this is
    # the regression shape: a partial registration must invalidate the
    # memo, or the restore below would be skipped and every later SQL
    # query in the session would silently read the broken dir's data.
    register_views(spark, SF_DIRS[1])
    with pytest.warns(UserWarning, match="events"):
        register_views(spark, str(broken))
    # Queries not touching events still run against the registered views.
    n = spark.sql("SELECT count(*) AS c FROM orders JOIN customer ON o_custkey = c_custkey").collect()[0]["c"]
    assert n > 0
    # The broken table must be LOUDLY ABSENT, not silently stale: the
    # sf0.01 events view registered above would otherwise keep serving
    # and a query would mix events@sf0.01 with orders@broken-dir.
    with pytest.raises(Exception, match="(?i)events"):
        spark.sql("SELECT count(*) FROM events").collect()
    # Restore the real views; MUST actually re-register (memo was
    # invalidated by the partial registration), proven by the sf0.01
    # row count differing from the sf0.001 symlinks just registered.
    register_views(spark, SF_DIRS[1])
    n_orders = spark.sql("SELECT count(*) AS c FROM orders").collect()[0]["c"]
    assert n_orders == 15000, (
        f"views still point at the broken dir (orders={n_orders}) — "
        "register_views memo failed to invalidate on partial registration")
