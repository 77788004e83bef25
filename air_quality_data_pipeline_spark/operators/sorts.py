"""Sort / limit / top-k operators (SURVEY.md §2.E).

Top-k always carries a unique tiebreak column so results are deterministic
under any partitioning — on a cluster, a LIMIT over ties is otherwise
free to return different rows per run. Spark plans orderBy+limit as
TakeOrderedAndProject: each partition keeps its local top-k and only k rows
per partition reach the driver-side merge, never a global sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.geo import HAVERSINE_SQL, SYNTH_LAT_SQL, SYNTH_LON_SQL, haversine_m, synthetic_lat, synthetic_lon
from ..registry import register
from ..tables import table

_DIST_SQL = HAVERSINE_SQL.format(
    lat1=SYNTH_LAT_SQL.format(key="s_suppkey"),
    lon1=SYNTH_LON_SQL.format(key="s_suppkey"),
    lat2="40.7128",
    lon2="-74.006",
)

_SORT_ASC_ORACLE = f"""
SELECT s_suppkey, s_name, ROUND({_DIST_SQL}, 0) AS dist_m
FROM supplier
ORDER BY dist_m ASC, s_suppkey ASC
"""


@register("sort_asc", oracle=_SORT_ASC_ORACLE, tags=("sort",))
def sort_asc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort by a computed key, ascending (the reference's distance sort of
    fallback candidates, main.py:144)."""
    sup = table(spark, sf_dir, "supplier")
    dist = haversine_m(
        synthetic_lat(F.col("s_suppkey")),
        synthetic_lon(F.col("s_suppkey")),
        F.lit(40.7128),
        F.lit(-74.006),
    )
    return (
        sup.withColumn("dist_m", F.round(dist, 0))
        .select("s_suppkey", "s_name", "dist_m")
        .orderBy(F.asc("dist_m"), F.asc("s_suppkey"))
    )


_TOPK_ORACLE = """
SELECT c_custkey, c_name, cnt FROM (
  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
) o JOIN customer ON o_custkey = c_custkey
ORDER BY cnt DESC, c_custkey ASC
LIMIT 40
"""


@register("topk", oracle=_TOPK_ORACLE, tags=("sort",))
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-desc + limit (the reference's top-40 candidate slice,
    main.py:171-172) — plans as TakeOrderedAndProject, no global sort."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.join(F.broadcast(cust), counts.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "cnt")
        .orderBy(F.desc("cnt"), F.asc("c_custkey"))
        .limit(40)
    )


_LIMIT_PAGE_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_orderkey, l_linenumber, l_extendedprice
LIMIT 100 OFFSET 100
"""


@register("limit_page", oracle=_LIMIT_PAGE_ORACLE, tags=("sort",))
def limit_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pagination: ORDER BY + LIMIT/OFFSET (the reference's
    page-size/page-cap scan, main.py:111, 126-127). The sort covers EVERY
    output column — the fixture's (l_orderkey, l_linenumber) is not unique,
    so a prefix sort would leave the page boundary tie-dependent (caught by
    the sf1 oracle replay); with a total key, boundary ties are identical
    rows and the page is a deterministic multiset on any engine."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
        .offset(100)
        .limit(100)
    )


_STOP_EARLY_ORACLE = """
WITH ranked AS (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
),
covered AS (
  SELECT c_mktsegment FROM customer
  GROUP BY c_mktsegment
  HAVING COUNT(DISTINCT c_nationkey) >= 5
)
SELECT r.c_mktsegment, r.c_custkey, r.c_acctbal, r.rn
FROM ranked r
WHERE r.rn <= 3 AND r.c_mktsegment IN (SELECT c_mktsegment FROM covered)
"""


@register("stop_early", oracle=_STOP_EARLY_ORACLE, tags=("sort", "window"))
def stop_early(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's imperative early-stop (main.py:278-279: break once ≥3
    stations used and all parameters covered) rewritten declaratively:
    window-rank keeps the top-3 per group, a coverage gate (semi join on a
    HAVING aggregate) keeps only sufficiently-covered groups. Equivalent
    output, no sequential control flow — fully parallel.
    """
    cust = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    ranked = cust.select(
        "c_mktsegment", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    covered = (
        cust.groupBy("c_mktsegment")
        .agg(F.countDistinct("c_nationkey").alias("n_nations"))
        .filter(F.col("n_nations") >= 5)
        .select("c_mktsegment")
    )
    return ranked.join(F.broadcast(covered), "c_mktsegment", "left_semi")
