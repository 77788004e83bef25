"""Filter / predicate operators (SURVEY.md §2.B).

Each covers a predicate family the reference applies imperatively:
freshness interval (reference main.py:89-97, 258-259), set membership
(main.py:162, 242-243), null skips (main.py:137-139, 238, 246-247),
cast-validity (main.py:249-252), geo-radius (main.py:140-141) and
non-empty-group existence (main.py:162-163, 227-228).

All are plain Catalyst predicates, so they push down to the parquet scan
(visible as PushedFilters in the physical plan) — at 100 TB these prune
row groups before any data moves.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.geo import (
    HAVERSINE_SQL,
    SYNTH_LAT_SQL,
    SYNTH_LON_SQL,
    haversine_m,
    synthetic_lat,
    synthetic_lon,
)
from ..registry import register
from ..tables import table

_FLT_FRESH_ORACLE = """
SELECT event_id, ts, event_type, value
FROM events, (SELECT max(ts) AS max_ts FROM events) mx
WHERE ts >= max_ts - INTERVAL 7 DAY
"""


@register("flt_fresh", oracle=_FLT_FRESH_ORACLE, tags=("filter",))
def flt_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-interval freshness predicate (reference main.py:89-97).

    "now" is the table's max timestamp so the result is deterministic; the
    reference uses wall-clock now. The max is a 1-row broadcast, not a
    driver collect.
    """
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.join(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 7 DAYS"))
        .select("event_id", "ts", "event_type", "value")
    )


_FLT_ISIN_ORACLE = """
SELECT event_id, event_type, value FROM events
WHERE event_type IN ('error', 'purchase')
"""


@register("flt_isin", oracle=_FLT_ISIN_ORACLE, tags=("filter",))
def flt_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-membership predicate (parameter allowlist, reference main.py:162, 242)."""
    ev = table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("error", "purchase")).select(
        "event_id", "event_type", "value"
    )


_FLT_NOTNULL_ORACLE = """
SELECT l_orderkey, l_linenumber, l_returnflag
FROM lineitem
WHERE NULLIF(l_returnflag, 'A') IS NOT NULL
  AND NULLIF(l_linenumber, 1) IS NOT NULL
"""


@register("flt_notnull", oracle=_FLT_NOTNULL_ORACLE, tags=("filter",))
def flt_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-skip predicate (reference main.py:137-139, 246-247).

    The fixtures carry no physical nulls, so nulls are derived with NULLIF —
    the IS NOT NULL semantics are exercised for real.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.nullif(F.col("l_returnflag"), F.lit("A")).isNotNull())
        .filter(F.nullif(F.col("l_linenumber"), F.lit(1)).isNotNull())
        .select("l_orderkey", "l_linenumber", "l_returnflag")
    )


_FLT_NUMERIC_ORACLE = """
SELECT event_id, TRY_CAST(s AS DOUBLE) AS num
FROM (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN CAST(value AS VARCHAR) ELSE event_type END AS s
  FROM events
)
WHERE TRY_CAST(s AS DOUBLE) IS NOT NULL
"""


@register("flt_numeric", oracle=_FLT_NUMERIC_ORACLE, tags=("filter",))
def flt_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast-validity predicate: keep numeric-castable strings only
    (reference main.py:249-252's try/float). ANSI-safe via TRY_CAST.
    """
    ev = table(spark, sf_dir, "events")
    mixed = ev.withColumn(
        "s",
        F.when(F.col("event_id") % 3 == 0, F.col("value").cast("string")).otherwise(
            F.col("event_type")
        ),
    )
    return (
        mixed.withColumn("num", F.expr("try_cast(s AS double)"))
        .filter(F.col("num").isNotNull())
        .select("event_id", "num")
    )


_DIST_SQL = HAVERSINE_SQL.format(
    lat1=SYNTH_LAT_SQL.format(key="c_custkey"),
    lon1=SYNTH_LON_SQL.format(key="c_custkey"),
    lat2="52.2297",
    lon2="21.0122",
)

_FLT_GEO_ORACLE = f"""
SELECT c_custkey, ROUND({_DIST_SQL}, 0) AS dist_m
FROM customer
WHERE {_DIST_SQL} <= 5000000.0
"""


@register("flt_geo", oracle=_FLT_GEO_ORACLE, tags=("filter", "geo"))
def flt_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-radius predicate via pure-expression haversine (reference
    main.py:140-141): customers' synthetic coordinates within 5000 km of
    Warsaw. Distance rounded to whole meters (trig libms differ in the last
    ulp across engines).
    """
    cust = table(spark, sf_dir, "customer")
    dist = haversine_m(
        synthetic_lat(F.col("c_custkey")),
        synthetic_lon(F.col("c_custkey")),
        F.lit(52.2297),
        F.lit(21.0122),
    )
    return (
        cust.withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= F.lit(5000000.0))
        .select("c_custkey", F.round("dist_m", 0).alias("dist_m"))
    )


_FLT_EXISTS_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0
)
"""


@register("flt_exists", oracle=_FLT_EXISTS_ORACLE, tags=("filter", "join"))
def flt_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-empty-group existence predicate as a left-semi join (reference
    main.py:162-163, 227-228: keep stations with ≥1 match)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 300000.0)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


# --- proj_select (SURVEY §2.B) ----------------------------------------------

_PROJ_SELECT_ORACLE = """
SELECT l_orderkey AS order_id,
       l_linenumber AS line_no,
       lower(l_returnflag) AS return_flag,
       l_quantity AS qty,
       l_extendedprice * (1 - l_discount) AS net_price,
       l_shipdate AS ship_date
FROM lineitem
"""


@register("proj_select", oracle=_PROJ_SELECT_ORACLE, tags=("projection",))
def proj_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection to a fixed output schema with renames and computed columns
    (the reference's 6-column row build, main.py:262-269). Catalyst's
    ColumnPruning pushes the 6-of-16 column selection into the parquet scan
    (ReadSchema) — at 100 TB the scan reads ~1/3 of the bytes."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.lower("l_returnflag").alias("return_flag"),
        F.col("l_quantity").alias("qty"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.col("l_shipdate").alias("ship_date"),
    )
