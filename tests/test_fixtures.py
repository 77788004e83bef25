"""Fixture-vintage guards.

The driver's parquet fixtures have changed encoding between rounds (round 3:
``events.ts`` flipped from parquet TIMESTAMP(NANOS) to ``timestamp[us]``,
silently breaking every events reader). These tests pin (a) the loader
contract — ``tables.table`` must yield a canonical ``TIMESTAMP_NTZ`` ``ts``
regardless of the on-disk encoding — and (b) a pyarrow schema snapshot of
every fixture table, so the next driver-side change fails loudly by name
instead of surfacing as thirty cryptic plan-time errors.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from air_quality_data_pipeline_spark.streaming.jobs import read_events_stream
from air_quality_data_pipeline_spark.tables import TABLE_NAMES, raw_schema, table

from conftest import SF_SMALL

# The encodings of events.ts the loader supports. If a new vintage appears,
# add it here AND teach tables.table() to normalise it.
_SUPPORTED_EVENTS_TS = {"timestamp[ns]", "timestamp[us]", "int64"}

# Full column:type snapshot per fixture table (order-insensitive names),
# taken from the round-4 driver fixtures. Round 3 broke on a silent
# RETYPING (events.ts nanos→µs), not a rename — so types are pinned too.
# events.ts is special-cased: any encoding in _SUPPORTED_EVENTS_TS is fine.
_EXPECTED_SCHEMA = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"},
    "customer": {
        "c_custkey": "int64", "c_name": "string", "c_nationkey": "int32",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64", "s_name": "string", "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int32", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64", "o_custkey": "int64", "o_orderstatus": "string",
        "o_totalprice": "double", "o_orderdate": "timestamp[us]",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64", "l_partkey": "int64", "l_suppkey": "int64",
        "l_linenumber": "int32", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
        "l_returnflag": "string", "l_linestatus": "string",
        "l_shipdate": "timestamp[us]",
    },
    "events": {
        "event_id": "int64", "ts": "*supported*", "user_id": "int64",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "int64", "text": "string", "lang": "string",
        "source": "string", "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64", "embedding": "list<element: float>", "label": "int32",
    },
}


def _sf_dirs() -> list[str]:
    dirs = []
    for sf in ("0.001", "0.01", "0.1"):
        d = f"/root/testdata/sf{sf}"
        if os.path.isdir(d):
            dirs.append(d)
    return dirs or [SF_SMALL]


@pytest.mark.parametrize("sf_dir_any", _sf_dirs())
def test_events_ts_encoding_is_supported(sf_dir_any):
    """The on-disk events.ts encoding must be one the loader normalises."""
    arrow_type = str(pq.read_schema(f"{sf_dir_any}/events.parquet").field("ts").type)
    assert arrow_type in _SUPPORTED_EVENTS_TS, (
        f"{sf_dir_any}/events.parquet stores ts as {arrow_type!r}; "
        f"tables.table() only handles {sorted(_SUPPORTED_EVENTS_TS)} — "
        "teach the loader about the new vintage."
    )


@pytest.mark.parametrize("sf_dir_any", _sf_dirs())
def test_events_loader_yields_timestamp_ntz(spark, sf_dir_any):
    """tables.table() must canonicalise ts to TIMESTAMP_NTZ on any vintage."""
    ev = table(spark, sf_dir_any, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampNTZType), (
        f"events.ts loaded as {ev.schema['ts'].dataType}; expected TIMESTAMP_NTZ"
    )
    # and it must actually evaluate (plan-time type errors surface here)
    row = ev.selectExpr("min(ts) AS lo", "max(ts) AS hi").first()
    assert row.lo is not None and row.hi >= row.lo


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_fixture_schema_snapshot(name):
    """Every fixture table keeps its column inventory AND types; a silent
    driver-side rename or retyping fails here by name."""
    schema = pq.read_schema(f"{SF_SMALL}/{name}.parquet")
    got = {f.name: str(f.type) for f in schema}
    expected = _EXPECTED_SCHEMA[name]
    assert set(got) == set(expected), (
        f"{name}.parquet columns drifted: missing={sorted(set(expected) - set(got))} "
        f"extra={sorted(set(got) - set(expected))}"
    )
    for col, typ in expected.items():
        if typ == "*supported*":
            assert got[col] in _SUPPORTED_EVENTS_TS, (
                f"{name}.{col} encoding {got[col]!r} not handled by the loader"
            )
        else:
            assert got[col] == typ, (
                f"{name}.{col} retyped: {got[col]!r} (snapshot: {typ!r})"
            )


_MICROS = [1_704_500_000_000_000, 1_704_500_060_500_000]  # 2024-01-05-ish


def _events_vintages():
    """A tiny events table in the legacy long-nanos and the modern
    timestamp[us] encodings of ts, with the same instants."""
    import pyarrow as pa

    legacy = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([m * 1000 for m in _MICROS], pa.int64()),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(['{"k": 1}', '{"k": 2}']),
        }
    )
    modern = legacy.set_column(
        1, "ts", pa.array(_MICROS, pa.int64()).cast(pa.timestamp("us"))
    )
    return legacy, modern


def test_events_loader_handles_legacy_long_nanos(spark, tmp_path):
    """The old fixture vintage (BIGINT epoch-nanos under nanosAsLong — still
    produced by scripts/make_sf1.py) must keep loading: synthesize a tiny
    events.parquet with a long ts and assert the loader rebuilds the same
    TIMESTAMP_NTZ values a native timestamp[us] file would give."""
    legacy, modern = _events_vintages()
    d_legacy, d_modern = tmp_path / "legacy", tmp_path / "modern"
    for d, t in ((d_legacy, legacy), (d_modern, modern)):
        d.mkdir()
        pq.write_table(t, d / "events.parquet")

    df_legacy = table(spark, str(d_legacy), "events")
    df_modern = table(spark, str(d_modern), "events")
    for df in (df_legacy, df_modern):
        assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    assert (
        [r.ts for r in df_legacy.orderBy("event_id").collect()]
        == [r.ts for r in df_modern.orderBy("event_id").collect()]
    )


# --- schema cache: tables.raw_schema -----------------------------------------


def _jobs_run(spark, group, fn):
    """Run fn under a fresh job group; return the number of Spark jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["events", "lineitem"])
def test_second_table_open_runs_no_job(spark, sf_dir, name):
    table(spark, sf_dir, name)  # may infer
    assert _jobs_run(spark, f"reopen_{name}", lambda: table(spark, sf_dir, name)) == 0


def test_second_events_stream_open_runs_no_job(spark, sf_dir):
    read_events_stream(spark, sf_dir)
    assert _jobs_run(spark, "reopen_stream", lambda: read_events_stream(spark, sf_dir)) == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A file rewritten in place (modern -> legacy vintage) is a new cache
    key: the loader must see the long-nanos dtype, not the cached one."""
    legacy, modern = _events_vintages()
    d = tmp_path / "rewrite"
    d.mkdir()
    pq.write_table(modern, d / "events.parquet")
    ts_modern = [r.ts for r in table(spark, str(d), "events").orderBy("event_id").collect()]
    pq.write_table(legacy, d / "events.parquet")
    assert isinstance(raw_schema(spark, str(d), "events")["ts"].dataType, T.LongType)
    ts = [r.ts for r in table(spark, str(d), "events").orderBy("event_id").collect()]
    # a fresh read: the same bytes under a path the cache has never seen
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    pq.write_table(legacy, fresh / "events.parquet")
    ts_fresh = [r.ts for r in table(spark, str(fresh), "events").orderBy("event_id").collect()]
    assert ts == ts_fresh == ts_modern


def test_schema_follows_inference_confs(spark, sf_dir):
    """The conversion confs are part of the key: under each value of
    inferTimestampNTZ the cached schema equals a bare inference."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    seen = {}
    try:
        for value in ("true", "false", "true"):
            spark.conf.set(key, value)
            bare = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
            seen[value] = raw_schema(spark, sf_dir, "orders")
            assert seen[value] == bare
    finally:
        spark.conf.set(key, before)
    assert seen["true"]["o_orderdate"].dataType == T.TimestampNTZType()
    assert seen["false"]["o_orderdate"].dataType == T.TimestampType()
