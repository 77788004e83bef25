"""SQL-surface queries: the engine's ``spark.sql`` layer plus relational
forms beyond the SURVEY §2 minimum (grouping sets, pivot/unpivot,
deterministic sampling, subquery shapes).

The reference has no SQL layer (SURVEY §3: a single imperative function);
a complete analytics engine must accept declarative SQL, so these queries
run as SQL text against temp views of the fixture tables and go through
the full parse → analyze → optimize → execute path. TPC-H-shaped headliners
(q1/q3/q6 over the fixture schema) double as optimizer benchmarks: each is
the canonical pattern Catalyst must handle well (wide agg, join-then-topk,
selective scan).

Scale notes: sampling is content-hash based (deterministic, no seed
coordination across engines or executors — the property you want for
reproducible 100 TB subsets); pivot uses an explicit value list so the plan
is a single pass (no distinct-collect on the driver).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..session import scoped_view
from ..tables import table

# --- the SQL layer -----------------------------------------------------------


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each fixture table as a query-scoped temp view of its name."""
    for n in names:
        table(spark, sf_dir, n).createOrReplaceTempView(scoped_view(spark, n))


_SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20, 4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20, 4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4))) AS DOUBLE)
         AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("sql_q1", oracle=_SQL_Q1, tags=("sql",))
def sql_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape through the SQL layer: selective date scan + wide
    hash aggregate. Decimal-cast sums make the result order-independent
    (exact arithmetic), then cast back to double for the contract. Partial
    aggregation (map-side combine) happens automatically; the only exchange
    carries 6 aggregate cells per (flag, status) group."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_SQL_Q1)


_SQL_Q3 = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4))) AS DOUBLE)
         AS revenue,
       o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate > DATE '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("sql_q3", oracle=_SQL_Q3, tags=("sql",))
def sql_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered 3-way join → agg → top-10. Catalyst pushes
    each filter into its scan and plans TakeOrderedAndProject for the
    ORDER BY+LIMIT (no global sort). The customer side is broadcast at test
    scale by AQE; at 100 TB it flips to shuffle join on the same plan."""
    _views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_SQL_Q3)


_SQL_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(20, 4))) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@register("sql_q6", oracle=_SQL_Q6, tags=("sql",))
def sql_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-predicate benchmark. All four
    predicates reach the parquet reader as PushedFilters (row-group pruning
    at scale); the aggregate is a single global cell."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_SQL_Q6)


# --- grouping sets -----------------------------------------------------------

_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20, 4))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS cnt
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""

# The builder's SQL: the same grouping sets over a CTE that first aggregates
# on the finest set, so the Expand fans out one row per key pair.
_GROUPING_SETS_SQL = """
WITH pre AS (
  SELECT l_returnflag, l_linestatus,
         SUM(CAST(l_quantity AS DECIMAL(20, 4))) AS q,
         COUNT(*) AS n
  FROM lineitem
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(q) AS DOUBLE) AS sum_qty,
       SUM(n) AS cnt
FROM pre
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("agg_grouping_sets", oracle=_GROUPING_SETS, tags=("agg", "sql"))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (generalization of the cube/rollup pair,
    SURVEY §2.D note), planned in two levels: a hash aggregate on the
    finest set (l_returnflag, l_linestatus), then one Expand + one hash
    aggregate over those per-key partials, not one pass per set and not
    an Expand of every lineitem row. Exact: COUNT(*) partials add as
    integers and the DECIMAL(20,4) partial sums add exactly, so the result
    equals the one-level oracle's bit for bit."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_GROUPING_SETS_SQL)


# --- pivot / unpivot ---------------------------------------------------------

_PIVOT_ORACLE = """
SELECT n_name,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN CAST(o_totalprice AS DECIMAL(20, 4)) END) AS DOUBLE) AS urgent,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
                     THEN CAST(o_totalprice AS DECIMAL(20, 4)) END) AS DOUBLE) AS high,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                     THEN CAST(o_totalprice AS DECIMAL(20, 4)) END) AS DOUBLE) AS low
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@register("pivot_wide", oracle=_PIVOT_ORACLE, tags=("agg",))
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide with an EXPLICIT value list: a single-pass
    conditional aggregation. Without the list Spark first runs a distinct
    scan and collects pivot values to the driver — never do that at 100
    TB."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_orderpriority", F.col("o_totalprice").cast("decimal(20,4)").alias("p"))
    )
    return (
        joined.groupBy("n_name")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "5-LOW"])
        .sum("p")
        .select(
            "n_name",
            F.col("1-URGENT").cast("double").alias("urgent"),
            F.col("2-HIGH").cast("double").alias("high"),
            F.col("5-LOW").cast("double").alias("low"),
        )
    )


_UNPIVOT_ORACLE = """
SELECT c_custkey, metric, val FROM (
  SELECT c_custkey,
         'acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS val FROM customer
  UNION ALL
  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
)
"""


@register("unpivot_long", oracle=_UNPIVOT_ORACLE, tags=("agg",))
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide→long via the native unpivot (melt) operator — planned
    as Expand, one pass, output 2x rows, no shuffle."""
    cust = table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")


# --- deterministic sampling --------------------------------------------------

_SAMPLE_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
"""


@register("sample_hash", oracle=_SAMPLE_ORACLE, tags=("sample",))
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by content hash of the key — reproducible
    across engines, runs, and partitionings (unlike seed-based
    ``df.sample``, whose output depends on partition layout). This is how a
    100 TB pipeline takes an auditable subset; the predicate pushes to the
    scan and needs no shuffle."""
    orders = table(spark, sf_dir, "orders")
    bucket = F.expr(
        "cast(conv(substring(md5(cast(o_orderkey as string)), 1, 8), 16, 10) as bigint) % 100"
    )
    return orders.filter(bucket < 10).select("o_orderkey", "o_totalprice")


# --- subquery shapes ---------------------------------------------------------

_SUB_SCALAR = """
SELECT l_orderkey, l_linenumber,
       CAST(l_extendedprice AS DOUBLE) AS price
FROM lineitem
WHERE l_extendedprice > (SELECT 2 * AVG(l_extendedprice) FROM lineitem)
"""


@register("sub_scalar", oracle=_SUB_SCALAR, tags=("sql", "subquery"))
def sub_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: planned as a 1-row subquery broadcast
    into the filter — the scan streams once, no self-join."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_SUB_SCALAR)


_SUB_IN = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
)
"""


@register("sub_in", oracle=_SUB_IN, tags=("sql", "subquery"))
def sub_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery → planned as left-semi join (same physical shape as
    flt_exists, reached from SQL)."""
    _views(spark, sf_dir, "orders", "customer")
    return spark.sql(_SUB_IN)


_SUB_CORR_EXISTS = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0
)
"""


@register("sub_not_exists", oracle=_SUB_CORR_EXISTS, tags=("sql", "subquery"))
def sub_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS → decorrelated by Catalyst into a left-anti
    join; no per-row re-execution of the inner query."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SUB_CORR_EXISTS)


# --- sql_merge_upsert: batch MERGE / CDC upsert ------------------------------

# Deterministic change batch derived from the base table itself:
#  - UPDATE rows: every 7th customer gets +1000.0 balance, segment 'UPSERTED'
#  - INSERT rows: every 101st customer re-keyed +1000000 (net-new keys)
# Expected state = base rows overridden by key-matching batch rows, plus the
# net-new batch rows (classic MERGE WHEN MATCHED UPDATE / NOT MATCHED INSERT).
_MERGE_UPSERT = """
WITH batch AS (
  SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal,
         'UPSERTED' AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 101 = 0
),
merged AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment, src,
         row_number() OVER (PARTITION BY c_custkey ORDER BY src DESC) AS rn
  FROM (
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 0 AS src FROM customer
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 1 AS src FROM batch
  )
)
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM merged WHERE rn = 1
"""


@register("sql_merge_upsert", oracle=_MERGE_UPSERT, tags=("sql", "lakehouse"))
def sql_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE (CDC upsert) without a table format: base ∪ batch with a
    source-priority tag, then one row per key via a row_number window
    (batch wins). This is the engine's upsert primitive when the target is
    plain parquet — one shuffle on the merge key, linear in |base| + |batch|.
    On a cluster the window partitions by the same key the target is
    bucketed on, so the exchange co-locates with the subsequent write. With
    a transactional table format the same plan becomes MERGE INTO; the
    union+window formulation is the format-free equivalent (and what a
    MERGE compiles to physically: outer-join-shaped key alignment)."""
    _views(spark, sf_dir, "customer")
    return spark.sql(_MERGE_UPSERT)


# --- sql_q4 / sql_q14 / sql_q18: remaining TPC-H-shaped optimizer probes -----

_SQL_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@register("sql_q4", oracle=_SQL_Q4, tags=("sql",))
def sql_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS under a grouped count. Catalyst
    decorrelates the subquery into a LEFT SEMI join on l_orderkey with the
    l_shipdate > o_orderdate residual, so the inner query never re-executes
    per row; the date predicate prunes the orders scan first, making the
    (typically much larger) lineitem side probe a small build set. The
    final aggregate is 5 groups — the exchange after the semi join carries
    one cell per (task, priority)."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_SQL_Q4)


# Ratio determinism: numerator/denominator are DECIMAL-exact sums (identical
# in both engines), each cast to DOUBLE before one IEEE division — identical
# inputs + one identical operation = bit-identical ratio.
_SQL_Q14 = """
SELECT
  100.0 * CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END
              AS DECIMAL(20, 4))) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
              AS DECIMAL(20, 4))) AS DOUBLE) AS promo_revenue_pct,
  CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END
              AS DECIMAL(20, 4))) AS DOUBLE) AS promo_revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
"""


@register("sql_q14", oracle=_SQL_Q14, tags=("sql",))
def sql_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): conditional aggregation over
    a fact-dim join — the CASE WHEN lives INSIDE the sum, so one pass
    computes both branches of the ratio (no second scan, no self-join).
    The one-month shipdate predicate reaches the lineitem parquet scan;
    part is the broadcast side. The global aggregate is a single cell, so
    the post-join exchange carries one partial per task."""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_SQL_Q14)


_SQL_Q18 = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20, 4))) AS DOUBLE) AS sum_qty
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(20, 4))) > 300
)
GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register("sql_q18", oracle=_SQL_Q18, tags=("sql",))
def sql_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): IN over a grouped HAVING
    subquery → planned as an aggregate-then-semi-join, so the qualifying
    orderkey set is computed ONCE from a lineitem-only aggregate (map-side
    partials, exchange carries (orderkey, sum) cells) and then semi-joins
    the 3-way fact-dim join. The HAVING threshold makes the semi-join build
    side tiny at any scale — the classic needle-filter pattern. ORDER
    BY+LIMIT plans as TakeOrderedAndProject (per-partition top-100, no
    global sort)."""
    _views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_SQL_Q18)


# --- sql_lateral: correlated LATERAL subquery (top-N per row) ----------------

_SQL_LATERAL = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
"""


@register("sql_lateral", oracle=_SQL_LATERAL, tags=("sql", "subquery"))
def sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — top-2 orders PER customer, written the
    way an analyst writes it (a per-row subquery with ORDER BY+LIMIT).
    Catalyst decorrelates it: the inner query is NOT re-executed per
    customer row; the plan ranks orders within o_custkey once and joins —
    the same physical shape as the win_rank formulation, from declarative
    SQL. That decorrelation is the difference between O(|orders|) and
    O(|customer| x |orders|) at scale, and it's why LATERAL is safe to
    expose on a 100 TB warehouse. The identical text runs in DuckDB, which
    keeps the oracle a true dialect-shared query."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_LATERAL)


# --- TPC-H completion: the remaining 16 query shapes -------------------------
#
# With this block the engine runs all 22 TPC-H query SHAPES (q1/q3/q4/q6/
# q14/q18 above). The fixture schema is reduced TPC-H (TESTDATA.md: no
# partsupp, no l_commitdate / l_receiptdate / l_shipmode, no c_phone /
# p_container), so queries whose text depends on a missing column are
# ADAPTED: same relational shape — the join graph, subquery correlation
# pattern, and aggregate structure Catalyst must plan — with the missing
# column's predicate re-expressed over an existing one. Each docstring
# states the adaptation. Determinism rules shared with q1-q18: sums are
# DECIMAL-exact then cast to DOUBLE; ratios do ONE IEEE division on
# identical inputs; every LIMIT has a total-order tiebreaker.

_SQL_Q2 = """
SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal, n_name,
       p.p_partkey, p_name, CAST(x.unit_price AS DOUBLE) AS unit_price
FROM part p
JOIN (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
) x ON x.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = x.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size = 15 AND p.p_type = 'SMALL' AND r.r_name = 'EUROPE'
  AND x.unit_price = (
    SELECT MIN(l2.l_extendedprice / l2.l_quantity)
    FROM lineitem l2
    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("sql_q2", oracle=_SQL_Q2, tags=("sql", "subquery"))
def sql_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): correlated MIN subquery over a
    5-way dim join. Adaptation: no partsupp table, so the part-supplier
    relation is derived from lineitem and ps_supplycost becomes the
    observed min unit price (l_extendedprice / l_quantity — a single IEEE
    division on identical doubles, and MIN is order-independent, so the
    value is bit-identical across engines). Catalyst decorrelates the
    subquery into an aggregate on l_partkey joined back — computed once,
    not per row; region/nation are broadcast; the LIMIT has a 4-column
    total order."""
    _views(spark, sf_dir, "part", "supplier", "nation", "region", "lineitem")
    return spark.sql(_SQL_Q2)


_SQL_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("sql_q5", oracle=_SQL_Q5, tags=("sql",))
def sql_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume), unmodified: the 6-way snowflake
    join with the c_nationkey = s_nationkey side condition that makes join
    ORDER matter — customer cannot pre-reduce through region until it meets
    supplier. Catalyst's CBO + AQE pick the order; region/nation broadcast,
    the orderdate year predicate prunes the orders scan, and the final
    aggregate is ≤25 nation groups so the last exchange is cells, not
    rows."""
    _views(spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region")
    return spark.sql(_SQL_Q5)


_SQL_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4)) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("sql_q7", oracle=_SQL_Q7, tags=("sql",))
def sql_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping between two nations), unmodified shape:
    the SAME dimension table (nation) joined twice under different aliases
    with a symmetric OR pairing predicate. Both nation sides broadcast; the
    OR does NOT block pushdown because each branch references only joined
    columns, and the nation filters reduce each broadcast build to one row
    before the probe. EXTRACT(YEAR) is cast to INTEGER in both dialects so
    schemas agree (DuckDB's EXTRACT returns BIGINT)."""
    _views(spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation")
    return spark.sql(_SQL_Q7)


_SQL_Q8 = """
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                     ELSE CAST(0.0 AS DECIMAL(20, 4)) END) AS DOUBLE)
       / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4)) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@register("sql_q8", oracle=_SQL_Q8, tags=("sql",))
def sql_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share), unmodified shape: the deepest join
    graph in the suite — 8 relations, nation twice (customer side gates the
    market region, supplier side labels the share). Both aggregate branches
    are DECIMAL-exact sums; the share is ONE double division per year group
    so the ratio is bit-identical across engines. All five dims broadcast;
    the only real exchange is the (year) hash agg, carrying two cells per
    task per year."""
    _views(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "customer", "nation", "region"
    )
    return spark.sql(_SQL_Q8)


_SQL_Q9 = """
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4)) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register("sql_q9", oracle=_SQL_Q9, tags=("sql",))
def sql_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-line profit by nation and year): a 5-way
    join gated by an unanchored LIKE on the part name — the predicate
    cannot prune parquet row groups (no prefix), so the plan's merit is
    evaluating it on the SMALL dim (2k parts) before the fact join, never
    on 60k+ lineitems. Adaptation: no partsupp, so profit omits the
    ps_supplycost * l_quantity term (revenue-only); the join graph and
    (nation, year) rollup are unchanged. '%red%' replaces '%green%' —
    the fixture's p_name palette differs from stock dbgen."""
    _views(spark, sf_dir, "part", "lineitem", "supplier", "orders", "nation")
    return spark.sql(_SQL_Q9)


_SQL_Q10 = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4))) AS DOUBLE)
         AS revenue,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '1996-10-01' AND o_orderdate < DATE '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("sql_q10", oracle=_SQL_Q10, tags=("sql",))
def sql_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting), unmodified shape: quarter-
    bounded fact join, returnflag filter pushed to the lineitem scan,
    grouped by a WIDE key (custkey + 3 payload columns — carried through
    the aggregate instead of re-joined after, the classic wide-groupBy
    trade), then top-20 by revenue planned as TakeOrderedAndProject."""
    _views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(_SQL_Q10)


_SQL_Q11 = """
SELECT l_partkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20, 4))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING SUM(CAST(l_extendedprice AS DECIMAL(20, 4))) > (
  SELECT SUM(CAST(l_extendedprice AS DECIMAL(20, 4))) * 0.001 FROM lineitem
)
ORDER BY part_value DESC, l_partkey
"""


@register("sql_q11", oracle=_SQL_Q11, tags=("sql", "subquery"))
def sql_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): grouped aggregate filtered by a
    scalar subquery over the SAME table's global aggregate — the
    "share-of-total threshold" pattern. Adaptation: no partsupp, so value
    is lineitem revenue per part instead of supplycost*availqty; the
    group-vs-global structure is identical. Both aggregates are
    DECIMAL-exact and the 0.001 threshold multiply stays in decimal, so
    the HAVING comparison is exact in both engines (no double knife-edge).
    Spark plans the subquery once (1-row broadcast), not per group."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_SQL_Q11)


_SQL_Q12 = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@register("sql_q12", oracle=_SQL_Q12, tags=("sql",))
def sql_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-priority audit): fact-fact join with a
    CROSS-COLUMN residual predicate (shipdate vs orderdate + interval) that
    can only be evaluated AFTER the join — the year bound still pushes to
    the lineitem scan, the residual filters join output. Adaptation: no
    l_shipmode/l_commitdate/l_receiptdate, so "late" is shipped >90 days
    after order and the group key is l_linestatus; the dual conditional
    counts keep Q12's one-pass CASE-inside-SUM form (cast to BIGINT —
    DuckDB sums INTEGER into INT128)."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_SQL_Q12)


_SQL_Q13 = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("sql_q13", oracle=_SQL_Q13, tags=("sql",))
def sql_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join with
    a non-equi residual IN THE ON CLAUSE (filtering the right side without
    dropping unmatched customers — the semantics WHERE would break), a
    per-customer COUNT that counts only matches (COUNT(col) skips the
    NULLs outer join manufactures), then a second aggregate over the first
    — the two-level "distribution of counts" shape. Adaptation: the
    NOT LIKE '%special%requests%' o_comment filter becomes an
    o_orderpriority exclusion (no comment column); the plan shape is
    identical."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_Q13)


_SQL_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("sql_q15", oracle=_SQL_Q15, tags=("sql", "subquery"))
def sql_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier), unmodified: a named CTE consumed TWICE —
    once as the join input, once inside the MAX scalar subquery. The
    argmax-by-equality survives ties (all suppliers at the max are
    returned, per spec). Equality on a DECIMAL-exact sum is safe across
    engines; the CTE aggregate is computed from a 3-month pruned scan.
    Spark may re-expand the CTE per use — both expansions share the scan
    via exchange reuse."""
    _views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_SQL_Q15)


_SQL_Q16 = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%000000%'
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("sql_q16", oracle=_SQL_Q16, tags=("sql", "subquery"))
def sql_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier relationship count): NOT IN over a
    subquery (planned as null-aware anti join — s_suppkey is non-null so
    it degenerates to a plain anti join), negated/IN-list dim predicates,
    and COUNT(DISTINCT) per 3-column group (two-phase: dedup exchange on
    (group, suppkey), then count). Adaptation: the part-supplier relation
    comes from lineitem (no partsupp) and the excluded-supplier pattern
    matches s_name (no s_comment)."""
    _views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_SQL_Q16)


_SQL_Q17 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(20, 4))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23' AND p_size = 7
  AND l_quantity < (
    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(20, 4))) AS DOUBLE)
                  / COUNT(*))
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


@register("sql_q17", oracle=_SQL_Q17, tags=("sql", "subquery"))
def sql_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar AVG
    subquery — each lineitem compares against the mean quantity OF ITS OWN
    PART. Catalyst decorrelates into one aggregate over lineitem grouped
    by partkey joined back on the equality — O(n), not O(n x parts).
    The average is SUM(DECIMAL)/COUNT with ONE double division, so the
    threshold is bit-identical across engines and the < comparison cannot
    diverge. Adaptation: p_container predicate → p_size (no container
    column)."""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_SQL_Q17)


_SQL_Q19 = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@register("sql_q19", oracle=_SQL_Q19, tags=("sql",))
def sql_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the OR-of-ANDs predicate spanning
    BOTH join sides. The optimizer must (a) extract the common
    join key, (b) derive pushable per-table residuals from the
    disjunction — Spark pushes `p_brand IN (...)`-style implied filters to
    the part scan and the l_quantity range union to lineitem — and (c)
    evaluate the full disjunction post-join. Adaptation: p_container /
    l_shipmode / l_shipinstruct legs → p_size ranges (columns absent);
    the three-branch disjunction structure is stock."""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_SQL_Q19)


_SQL_Q20 = """
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l1.l_suppkey
  FROM lineitem l1
  JOIN part ON p_partkey = l1.l_partkey
  WHERE p_name LIKE 'small%'
  GROUP BY l1.l_suppkey, l1.l_partkey
  HAVING SUM(CAST(l1.l_quantity AS DECIMAL(20, 4))) > (
    SELECT 0.2 * SUM(CAST(l2.l_quantity AS DECIMAL(20, 4)))
    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
  )
)
ORDER BY s_name
"""


@register("sql_q20", oracle=_SQL_Q20, tags=("sql", "subquery"))
def sql_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (dominant suppliers): an IN whose subquery contains
    a HAVING with a CORRELATED scalar aggregate — supplier-part shipments
    compared against 20% of that part's total across all suppliers.
    Catalyst decorrelates the inner threshold into a per-part aggregate
    joined on the group key, then plans the outer IN as a semi join.
    Adaptation: ps_availqty > half of shipped (partsupp) becomes
    per-(supplier, part) share > 20% of the part total from lineitem; the
    nested IN → HAVING → correlated-scalar chain is the stock structure.
    Both sides of the threshold stay DECIMAL-exact."""
    _views(spark, sf_dir, "supplier", "nation", "lineitem", "part")
    return spark.sql(_SQL_Q20)


_SQL_Q21 = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("sql_q21", oracle=_SQL_Q21, tags=("sql", "subquery"))
def sql_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the suite's
    only query with BOTH a correlated EXISTS and a correlated NOT EXISTS
    against the same fact table — "another supplier participated in the
    order, but no OTHER supplier had the problem". Planned as a semi join
    plus an anti join on l_orderkey with the suppkey-inequality residual
    evaluated per matched row. Adaptation: "problem" is l_returnflag = 'R'
    (the fixture has no l_receiptdate/l_commitdate for the late-delivery
    predicate); the double-correlation structure and finished-order filter
    are stock. At 100 TB all three lineitem legs share one scan via
    exchange reuse."""
    _views(spark, sf_dir, "supplier", "lineitem", "orders", "nation")
    return spark.sql(_SQL_Q21)


_SQL_Q22 = """
SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(20, 4))) AS DOUBLE) AS totacctbal
FROM (
  SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode, c_acctbal
  FROM customer
  WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(20, 4))) AS DOUBLE) / COUNT(*)
    FROM customer c2 WHERE c2.c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= DATE '1999-01-01'
  )
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""


@register("sql_q22", oracle=_SQL_Q22, tags=("sql", "subquery"))
def sql_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): three subquery forms in
    one query — an uncorrelated scalar threshold (mean positive balance,
    SUM-DECIMAL/COUNT → one double division, bit-identical), a correlated
    NOT EXISTS anti join against orders, and a derived grouping column.
    Adaptation: country code substr(c_phone,1,2) → c_nationkey % 5 (no
    phone column) and "never ordered" → "no order since 1999" (the
    fixture's order coverage is dense); the
    scalar-filter + anti-join + re-aggregate pipeline is stock."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_Q22)


# --- sql_recursive: WITH RECURSIVE hierarchy walk ----------------------------

# The part "assembly tree" is the implicit binary hierarchy parent(k) =
# floor(k/2): real fixture keys, ~log2(|part|) depth, every part reachable
# from key 1. The parent step is spelled (node - node % 2) / 2 with a cast
# because `/` yields DOUBLE in both dialects (exact for key magnitudes) —
# the dialect-split `//` vs `DIV` never appears, keeping the text shared.
_SQL_RECURSIVE = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS part, p_partkey AS node, 0 AS depth FROM part
  UNION ALL
  SELECT a.part, CAST((a.node - a.node % 2) / 2 AS BIGINT), a.depth + 1
  FROM anc a WHERE a.node > 1
)
SELECT anc.part, CAST(MAX(anc.depth) AS INTEGER) AS depth,
       CAST(COUNT(*) AS BIGINT) AS chain_len,
       CAST(SUM(CAST(pp.p_retailprice AS DECIMAL(20, 4))) AS DOUBLE) AS path_value
FROM anc JOIN part pp ON pp.p_partkey = anc.node
GROUP BY anc.part
"""


@register(
    "sql_recursive",
    oracle=_SQL_RECURSIVE,
    tags=("sql", "recursive"),
    confs={"spark.sql.cteRecursionRowLimit": str(10**9)},
)
def sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4): ancestor-chain walk
    over the part hierarchy parent(k) = floor(k/2) — the BOM-explosion /
    org-chart query shape relational engines historically couldn't express.
    Each recursion level is ONE self-join of the frontier against the
    anchor rule, so total work is O(|part| x depth) with depth =
    log2(|part|) (~11 at sf0.01, ~18 at 100 TB scale — the recursion DEPTH
    grows logarithmically even when the data grows 1000x, which is what
    makes recursive hierarchy walks scale-safe; the per-level frontier is
    embarrassingly parallel). The aggregate then folds each part's full
    ancestor path into depth / chain length / DECIMAL-exact path value.
    Identical text runs in DuckDB — recursion is oracle-checked end to
    end.

    Spark guards runaway recursion with spark.sql.cteRecursionRowLimit
    (default 1M TOTAL rows across levels) and cteRecursionLevelLimit (100
    levels). The level limit is the semantically meaningful guard for this
    walk (depth is log2, never near 100); the ROW limit scales with DATA
    size — |part| x depth exceeds 1M already at sf1 (200k x 17) — so it is
    raised here to the 10^9 a large-cluster run would configure. A bounded
    total is still enforced: the WHERE node > 1 step strictly halves the
    key, so termination is structural, not limit-dependent.

    The raised limit is a declared query conf in the caller's session, so
    every conf the caller sets reaches this query too. Spark reads the
    limit when the query executes, and the next registered build resets
    it to the 1M default, which then guards every other recursive query
    in the same driver pass (ADVICE r5): materialize this DataFrame before
    building the next query."""
    _views(spark, sf_dir, "part")
    return spark.sql(_SQL_RECURSIVE)


# --- mv_incr_agg: incremental materialized-view maintenance ------------------

# The oracle recomputes the MV from scratch over the whole table — the
# correctness contract for ANY incremental maintenance strategy: merged
# partials must equal the full recompute exactly.
_MV_INCR_ORACLE = """
SELECT l_returnflag,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20, 4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4))) AS DOUBLE)
         AS revenue
FROM lineitem
GROUP BY l_returnflag, ship_year
"""

_MV_CUTOFF = "1999-01-01"


@register("mv_incr_agg", oracle=_MV_INCR_ORACLE, tags=("sql", "lakehouse", "agg"))
def mv_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the standing aggregate
    (count / sum-qty / revenue per (returnflag, ship-year)) is maintained
    by MERGING PARTIALS — the pre-cutoff "existing MV" (in production a
    stored table; here derived once from the historical slice) plus an
    aggregate over ONLY the new batch, re-reduced by key. Every aggregate
    in the MV is algebraic (count and DECIMAL-exact sums are associative
    and commutative), so partial-merge is EXACTLY the same math Spark's
    own partial+final hash aggregation performs between map and reduce —
    which is the proof the merged result equals the oracle's full
    recompute bit-for-bit.

    At 100 TB this is the difference between scanning the day's 100 GB
    batch and re-scanning seven years: maintenance cost is O(|delta| +
    |MV|), independent of table history. (Non-algebraic metrics — exact
    distinct, medians — need the mergeable-sketch forms instead:
    agg_sketch_union / agg_bitmap_distinct are this repo's versions.)"""
    li = table(spark, sf_dir, "lineitem")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "l_returnflag",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(20,4)")).alias("p_qty"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(20,4)"
                )
            ).alias("p_rev"),
        )

    cutoff = F.lit(_MV_CUTOFF).cast("date")
    mv = partials(li.filter(F.col("l_shipdate") < cutoff))  # the stored MV
    delta = partials(li.filter(F.col("l_shipdate") >= cutoff))  # the new batch
    return (
        mv.unionByName(delta)
        .groupBy("l_returnflag", "ship_year")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("p_qty").alias("p_qty"),
            F.sum("p_rev").alias("p_rev"),
        )
        .select(
            "l_returnflag",
            "ship_year",
            "cnt",
            F.col("p_qty").cast("double").alias("sum_qty"),
            F.col("p_rev").cast("double").alias("revenue"),
        )
    )


# --- sql_group_by_all: inferred grouping keys --------------------------------

# The IDENTICAL text runs in both engines: GROUP BY ALL (Spark >= 3.4,
# DuckDB native) infers the grouping keys as exactly the non-aggregate
# select items, so the inference rule itself is what the oracle checks.
_SQL_GROUP_BY_ALL = """
SELECT l_returnflag,
       l_linestatus,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4)))
            AS DOUBLE) AS revenue
FROM lineitem
GROUP BY ALL
"""


@register("sql_group_by_all", oracle=_SQL_GROUP_BY_ALL, tags=("sql",))
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL — the modern SQL surface where grouping keys are
    inferred from the non-aggregate select items (Spark 3.4+, DuckDB,
    Snowflake). Semantically identical to spelling the keys out, so the
    physical plan is the ordinary partial-agg -> exchange -> final-agg;
    what this query pins is the INFERENCE contract: both engines must
    classify the same three expressions (two columns + a derived year) as
    keys and the other two as aggregates. Running the one SQL text in
    both engines makes any divergence a hash mismatch."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_SQL_GROUP_BY_ALL)


# --- sample_bottomk: exact-size deterministic sample ---------------------------

# sample_hash gives a reproducible ~10% FRACTION; audits and fixture
# builders usually need an exact-SIZE subset ("give me exactly 1000
# auditable rows") that is stable across engines, runs, and
# partitionings. Bottom-k by content hash is the standard answer: order
# by md5(key) and keep the k smallest — a uniform random sample under
# the hash's mixing, reproducible anywhere md5 exists.
_BOTTOMK_K = 1000

_SAMPLE_BOTTOMK_ORACLE = f"""
SELECT o_orderkey, o_totalprice, md5(CAST(o_orderkey AS VARCHAR)) AS h
FROM orders
ORDER BY h, o_orderkey
LIMIT {_BOTTOMK_K}
"""


@register("sample_bottomk", oracle=_SAMPLE_BOTTOMK_ORACLE, tags=("sample",))
def sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size deterministic sample: the k = 1000 rows with the
    smallest md5(key) — reproducible across engines and partitionings
    (sample_hash's exact-count sibling; the hash column rides along so
    the selection is self-auditing).

    Scale shape: Spark plans ORDER BY + LIMIT as TakeOrderedAndProject —
    per-partition k-row heaps merged once on a single k-row exchange; no
    global sort at any scale (plan-gated). This is how a 100 TB table
    yields an exact-1000-row audit panel for the cost of one scan."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            F.md5(F.col("o_orderkey").cast("string")).alias("h"),
        )
        .orderBy("h", "o_orderkey")
        .limit(_BOTTOMK_K)
    )


# --- sample_strat_k: exact-size per-stratum deterministic sample ---------------

# Completes the sampling trio: sample_hash = reproducible fraction,
# sample_bottomk = exact global size, this = exact size PER STRATUM —
# "exactly 200 auditable orders per priority class", the shape every
# eval-set builder and class-balanced audit needs. Bottom-k by content
# hash within each stratum: row_number over (md5(key), key) per
# priority, keep rank <= k. Deterministic on any partitioning and in any
# engine with md5; the tie-break on the raw key closes the (vanishing)
# hash-collision case.
_STRAT_K = 200

_SAMPLE_STRAT_K_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         md5(CAST(o_orderkey AS VARCHAR)) AS h,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey)
           AS rk
  FROM orders
)
SELECT o_orderkey, o_orderpriority, o_totalprice, h, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_STRAT_K}
"""


@register("sample_strat_k", oracle=_SAMPLE_STRAT_K_ORACLE, tags=("sample",))
def sample_strat_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum deterministic sample: the 200 bottom-hash
    orders within each priority class — the class-balanced eval-set /
    audit-panel builder (sample_hash samples a fraction, sample_bottomk a
    global count). Stable across engines, runs, and partitionings; see
    header comment for the tie-break contract.

    Scale shape: ONE hash exchange on the stratum key, then a
    rank-and-filter window whose partitions are strata — each partition
    streams once and emits k rows; no global sort, no second pass. If a
    single stratum outgrows a task at 100 TB, the win_ntile two-level
    treatment (per-range bottom-k, then bottom-k of the k·|ranges|
    union) drops in."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    h = F.md5(F.col("o_orderkey").cast("string"))
    w = Window.partitionBy("o_orderpriority").orderBy("h", "o_orderkey")
    ranked = orders.select(
        "o_orderkey", "o_orderpriority", "o_totalprice", h.alias("h")
    ).withColumn("rk", F.row_number().over(w).cast("bigint"))
    return ranked.filter(F.col("rk") <= _STRAT_K)


# --- sample_neyman: variance-optimal stratified allocation -----------------------

# Neyman allocation is the sampling design that minimizes estimator
# variance for a fixed budget: n_h ∝ N_h·σ_h — strata that are BIG or
# NOISY get more of the sample (uniform per-stratum k, sample_strat_k,
# is the σ-blind special case). The estimator-design step every
# large-scale audit/eval sample should start from. Two passes, both
# bounded: (1) per-stratum N and σ from exact integer cent sums (the
# n·Σx²−(Σx)² form in DECIMAL(38,0) — BIGINT squares overflow near the
# petabyte decade); (2) a per-stratum bottom-hash rank window keeps the
# allocated n_h. σ's sqrt is IEEE-correctly-rounded (identical in both
# engines) and the allocation divides MICRO-QUANTIZED weights as exact
# integers — no double division decides a sample count.
_SAMPLE_NEYMAN_BUDGET = 1000

_SAMPLE_NEYMAN_ORACLE = f"""
WITH s AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                       AS DECIMAL(38,0))
                  * CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
  FROM customer GROUP BY c_mktsegment
),
w AS (
  SELECT c_mktsegment, n_h,
         -- N_h * sigma_h = N_h * sqrt(n*Sxx - Sx^2)/n = sqrt(n*Sxx - Sx^2)
         CAST(floor(sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)) / 100.0 + 0.5)
              AS BIGINT) AS w_cent
  FROM s
),
alloc AS (
  SELECT c_mktsegment, n_h, w_cent,
         ({_SAMPLE_NEYMAN_BUDGET} * w_cent)
           // CAST(SUM(w_cent) OVER () AS BIGINT) AS n_alloc
  FROM w
),
ranked AS (
  SELECT c.c_mktsegment, c.c_acctbal,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY md5(CAST(c.c_custkey AS VARCHAR)),
                                     c.c_custkey) AS rk
  FROM customer c
)
SELECT a.c_mktsegment, a.n_h, a.w_cent, a.n_alloc,
       CAST(COUNT(r.c_acctbal) AS BIGINT) AS n_sampled,
       ROUND(CAST(SUM(CAST(CAST(floor(r.c_acctbal * 100 + 0.5) AS BIGINT)
                           AS DECIMAL(38,0))) AS DOUBLE)
             / COUNT(r.c_acctbal) / 100.0, 9) AS sample_mean
FROM alloc a JOIN ranked r
  ON r.c_mktsegment = a.c_mktsegment AND r.rk <= a.n_alloc
GROUP BY a.c_mktsegment, a.n_h, a.w_cent, a.n_alloc
"""


@register("sample_neyman", oracle=_SAMPLE_NEYMAN_ORACLE, tags=("sample", "stats"))
def sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (variance-optimal) stratified allocation of a 1000-row
    budget across market segments — n_h ∝ N_h·σ_h(acctbal) — then the
    deterministic bottom-hash sample of each allocation, reporting the
    per-stratum weight, allocation, and sample mean.

    Scale shape: pass 1 collapses the corpus map-side to one
    (N, Σx, Σx²) row per stratum (cent-exact integers in DECIMAL(38,0));
    the weight table is 5 rows and BROADCASTS onto pass 2's per-stratum
    bottom-hash rank window (the sample_strat_k exchange). σ comes from
    one correctly-rounded sqrt, weights are micro-quantized to exact
    BIGINT cents, and the allocation is an exact integer division — no
    double ever decides a sample count."""
    from pyspark.sql import Window

    cust = table(spark, sf_dir, "customer")
    cents = F.expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)")
    dec = "decimal(38,0)"
    s = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(cents.cast(dec)).cast(dec).alias("sx"),
        F.sum(cents.cast(dec) * cents.cast(dec)).cast(dec).alias("sxx"),
    )
    w = s.select(
        "c_mktsegment",
        "n_h",
        # N_h * sigma_h = N_h * sqrt(n*Sxx - Sx^2)/n = sqrt(n*Sxx - Sx^2)
        F.floor(
            F.sqrt(
                (F.col("n_h") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
            )
            / F.lit(100.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("w_cent"),
    )
    alloc = w.select(
        "c_mktsegment",
        "n_h",
        "w_cent",
        F.expr(
            f"({_SAMPLE_NEYMAN_BUDGET} * w_cent) div "
            "cast(sum(w_cent) over () as bigint)"
        ).alias("n_alloc"),
    )
    wr = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    ranked = cust.select(
        "c_mktsegment", "c_acctbal", F.row_number().over(wr).alias("rk")
    )
    joined = ranked.join(
        F.broadcast(alloc).withColumnRenamed("c_mktsegment", "seg"),
        (F.col("c_mktsegment") == F.col("seg")) & (F.col("rk") <= F.col("n_alloc")),
    )
    return joined.groupBy("c_mktsegment", "n_h", "w_cent", "n_alloc").agg(
        F.count("c_acctbal").cast("bigint").alias("n_sampled"),
        F.round(
            F.sum(cents.cast(dec)).cast("double")
            / F.count("c_acctbal")
            / F.lit(100.0),
            9,
        ).alias("sample_mean"),
    )
