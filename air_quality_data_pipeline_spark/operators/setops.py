"""Set operators (SURVEY.md §2.G).

The reference unions per-city row lists (main.py:206-271) and dedups with
Python sets (main.py:216-217). Spark's union is a zero-shuffle concatenation
of partitions; distinct/intersect/except shuffle on the full row — at scale,
project to the minimal column set first (done below) so the exchange carries
only what the semantics need.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import table

_SET_UNION_ORACLE = """
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH'
"""


@register("set_union", oracle=_SET_UNION_ORACLE, tags=("setop",))
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by column name (the reference's cross-city row accumulation,
    main.py:206-271)."""
    orders = table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority"
    )
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_orderkey", "o_orderpriority"
    )
    return urgent.unionByName(high)


_SET_DISTINCT_ORACLE = """
SELECT DISTINCT o_custkey, o_orderstatus FROM orders
"""


@register("set_distinct", oracle=_SET_DISTINCT_ORACLE, tags=("setop",))
def set_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (the reference's set-based dedup, main.py:216-217)."""
    return table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus").distinct()


_SET_INTERSECT_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@register("set_intersect", oracle=_SET_INTERSECT_ORACLE, tags=("setop",))
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers with both completed and open orders."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


_SET_EXCEPT_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@register("set_except", oracle=_SET_EXCEPT_ORACLE, tags=("setop",))
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference, preserves multiplicity)."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.exceptAll(o)


_SET_INTERSECT_ALL_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@register("set_intersect_all", oracle=_SET_INTERSECT_ALL_ORACLE, tags=("setop",))
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset intersection — each key appears
    min(count_left, count_right) times). Completes the §2.G bag/set
    semantics matrix: union-all / distinct / intersect / intersect-all /
    except-all / except-distinct are six genuinely different operators, and
    an engine claiming SQL completeness needs all six. Physically this
    plans like the distinct variant (one exchange on the projected key with
    per-side counts) — multiplicity tracking rides the same shuffle, so the
    ALL form costs no extra pass at any scale."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersectAll(o)


_SET_EXCEPT_DISTINCT_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@register("set_except_distinct", oracle=_SET_EXCEPT_DISTINCT_ORACLE, tags=("setop",))
def set_except_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct — ANSI default): customers with a completed order
    and NO open order, each once. The distinct form is a left-anti join
    after per-side dedup, NOT a multiplicity subtraction — the pair
    (set_except = EXCEPT ALL, this = EXCEPT) pins the semantic difference
    under oracle check so neither regresses into the other."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(o)
