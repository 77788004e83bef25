"""Aggregation operators (SURVEY.md §2.D).

The reference aggregates with Python sets and len() (main.py:162-167,
216-217, 274, 305). Spark plans every groupBy here as partial (map-side)
aggregation before the shuffle, so at 100 TB the exchange carries one row
per (partition, group), not per input row.

Reproducibility: money sums go through functions/exact.py (BIGINT limbs);
``l_quantity`` is integral so plain double sums are already exact;
set-valued results are canonicalized to sorted CSV strings.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..functions.exact import exact_sum, exact_sum_sql
from ..registry import register
from ..session import scoped_persist
from ..tables import rebalance_for_map, table

_AGG_COUNT_GRP_ORACLE = """
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
"""


@register("agg_count_grp", oracle=_AGG_COUNT_GRP_ORACLE, tags=("agg",))
def agg_count_grp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group count (reference main.py:162-167's matches_count)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_AGG_COLLECT_SET_ORACLE = """
SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
FROM events GROUP BY user_id
"""


@register("agg_collect_set", oracle=_AGG_COLLECT_SET_ORACLE, tags=("agg",))
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set accumulation (reference main.py:216's covered-set),
    canonicalized to a sorted CSV string so both engines hash identically."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"))
    )


_AGG_COUNT_DISTINCT_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS users
FROM events GROUP BY event_type
"""


@register("agg_count_distinct", oracle=_AGG_COUNT_DISTINCT_ORACLE, tags=("agg",))
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count (reference main.py:217's used_locations set)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
    )


_AGG_APPROX_DISTINCT_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS users,
       1 AS within_5pct
FROM events GROUP BY event_type
"""


@register("agg_approx_distinct", oracle=_AGG_APPROX_DISTINCT_ORACLE, tags=("agg",))
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct count — the 100 TB-scale variant of
    agg_count_distinct (sketch-mergeable, one pass, bounded memory).
    HLL estimates are engine-specific, so the oracle checks an accuracy
    gate instead of the raw sketch: the exact count plus a within-5%
    flag (deterministic on fixed data — HLL++ hashing has no RNG); the
    DuckDB side recomputes exactly and hardcodes the flag true."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        )
        .select(
            "event_type",
            "users",
            F.when(
                F.abs(F.col("approx_users") - F.col("users"))
                / F.col("users")
                <= 0.05,
                1,
            )
            .otherwise(0)
            .alias("within_5pct"),
        )
    )


_AGG_GLOBAL_COUNT_ORACLE = "SELECT COUNT(*) AS n FROM lineitem"


@register("agg_global_count", oracle=_AGG_GLOBAL_COUNT_ORACLE, tags=("agg",))
def agg_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global count (reference main.py:305's len(all_rows))."""
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


_AGG_SUPERSET_ORACLE = """
SELECT user_id, COUNT(DISTINCT event_type) AS n_types
FROM events
WHERE event_type IN ('click', 'view', 'purchase', 'error')
GROUP BY user_id
HAVING COUNT(DISTINCT event_type) = 4
"""


@register("agg_superset", oracle=_AGG_SUPERSET_ORACLE, tags=("agg",))
def agg_superset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage gate: groups whose value-set covers the full allowlist
    (reference main.py:278's covered.issuperset(PARAMETERS))."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("click", "view", "purchase", "error"))
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("n_types"))
        .filter(F.col("n_types") == 4)
    )


_AGG_STATS_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS cnt,
       SUM(l_quantity) AS sum_qty,
       SUM(l_quantity) / COUNT(l_quantity) AS avg_qty,
       {exact_sum_sql('l_extendedprice')} AS sum_price,
       {exact_sum_sql('l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("agg_stats", oracle=_AGG_STATS_ORACLE, tags=("agg",))
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/avg/min/max hash aggregate (engine completeness beyond the
    reference, SURVEY §2.D note) — TPC-H Q1's shape."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
        exact_sum(F.col("l_extendedprice")).alias("sum_price"),
        (exact_sum(F.col("l_extendedprice")) / F.count("l_extendedprice")).alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


_AGG_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def _flag_status_partials(spark: SparkSession, sf_dir: str, qty: Column) -> DataFrame:
    """lineitem aggregated on the finest grouping set of the CUBE / ROLLUP
    builders below: one row per (l_returnflag, l_linestatus) with its row
    count ``n`` and partial quantity sum ``q``.

    Those builders re-aggregate this with SUM(n) and SUM(q), so their
    Expand fans out one row per key pair, not one per lineitem row (x4
    for a two-column CUBE, before any aggregation). The two levels are
    exact: counts add as integers, DECIMAL sums add exactly, and
    ``l_quantity`` holds integers below 2^53, so its double sums are exact
    in any order (Spark already splits them across tasks)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(qty).alias("q"))
    )


@register("agg_rollup", oracle=_AGG_ROLLUP_ORACLE, tags=("agg",))
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchical aggregate with grouping-id disambiguation,
    over the per-key partials of ``_flag_status_partials``."""
    pre = _flag_status_partials(spark, sf_dir, F.col("l_quantity"))
    return pre.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.sum("n").alias("cnt"),
        F.sum("q").alias("sum_qty"),
    )


_AGG_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@register("agg_cube", oracle=_AGG_CUBE_ORACLE, tags=("agg",))
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate over all grouping-set combinations, over the per-key
    partials of ``_flag_status_partials``."""
    pre = _flag_status_partials(spark, sf_dir, F.col("l_quantity"))
    return pre.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.sum("n").alias("cnt"),
        F.sum("q").alias("sum_qty"),
    )


# --- agg_quantiles (engine completeness, SURVEY §2.D note) -------------------

_AGG_QUANTILES_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS p50_qty,
       quantile_cont(l_quantity, 0.95) AS p95_qty,
       quantile_cont(l_extendedprice, 0.25) AS p25_price
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_quantiles", oracle=_AGG_QUANTILES_ORACLE, tags=("agg",))
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SQL PERCENTILE_CONT semantics): both
    engines compute index p*(n-1) with linear interpolation, so results are
    bit-exact. Exact percentiles require a per-group sort — fine on bounded
    groups; for 100 TB unbounded groups use agg_approx_quantiles."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5D)").alias("p50_qty"),
        F.expr("percentile(l_quantity, 0.95D)").alias("p95_qty"),
        F.expr("percentile(l_extendedprice, 0.25D)").alias("p25_price"),
    )


_AGG_APPROX_QUANTILES_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS p50_qty,
       quantile_cont(l_quantity, 0.95) AS p95_qty,
       1 AS p50_within_5pct,
       1 AS p95_within_5pct
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_approx_quantiles", oracle=_AGG_APPROX_QUANTILES_ORACLE, tags=("agg",))
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch): mergeable partial state, no
    per-group sort — the percentile you actually run on 100 TB. Sketch
    internals are engine-specific, so the oracle checks an accuracy gate:
    exact percentiles as value columns plus within-5% flags comparing the
    sketch against them (deterministic on fixed data); DuckDB recomputes
    exactly and hardcodes the flags true."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5D)").alias("p50_qty"),
        F.expr("percentile(l_quantity, 0.95D)").alias("p95_qty"),
        F.expr("approx_percentile(l_quantity, 0.5D, 10000)").alias("ap50"),
        F.expr("approx_percentile(l_quantity, 0.95D, 10000)").alias("ap95"),
    )
    within = lambda a, e: (  # noqa: E731
        F.when(F.abs(F.col(a) - F.col(e)) / F.col(e) <= 0.05, 1).otherwise(0)
    )
    return agg.select(
        "l_returnflag",
        "p50_qty",
        "p95_qty",
        within("ap50", "p50_qty").alias("p50_within_5pct"),
        within("ap95", "p95_qty").alias("p95_within_5pct"),
    )


# --- agg_corr -----------------------------------------------------------------

# Pearson correlation from EXACT fixed-point sums. Built-in corr() is a
# streaming/Welford-style aggregate in both engines whose float state depends
# on combine order — unverifiable cross-engine. Instead: quantize both
# columns to integer cents (quantities are integral, prices have cents — the
# double multiply+floor is the same IEEE op in both engines), accumulate the
# five sums in BIGINT/DECIMAL (exact, combine-order independent), then derive
# r with the SAME double expression in both engines.
_CORR_NUM = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
# greatest(0, ...) guards a zero-variance group: the double expression can
# round to a tiny negative, and DuckDB's sqrt raises Out of Range on it
# (aborting the whole oracle query) where Spark would return NaN. The clamp
# is shared by both engines since _CORR_EXPR is embedded in each.
_CORR_DEN_X = "sqrt(greatest(CAST(0 AS DOUBLE), CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
_CORR_DEN_Y = "sqrt(greatest(CAST(0 AS DOUBLE), CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
_CORR_EXPR = f"{_CORR_NUM} / ({_CORR_DEN_X} * {_CORR_DEN_Y})"

_AGG_CORR_ORACLE = f"""
WITH q AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 100.0) AS BIGINT) AS qx,
         CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS qy
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(qx) AS BIGINT) AS sx,
         CAST(SUM(qy) AS BIGINT) AS sy,
         SUM(CAST(qx AS DECIMAL(38, 0)) * qy) AS sxy,
         SUM(CAST(qx AS DECIMAL(38, 0)) * qx) AS sx2,
         SUM(CAST(qy AS DECIMAL(38, 0)) * qy) AS sy2
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag, n AS n_rows, {_CORR_EXPR} AS corr_qty_price
FROM s
"""


@register("agg_corr", oracle=_AGG_CORR_ORACLE, tags=("agg",))
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation as ONE hash aggregate of five exact
    fixed-point sums (map-side combinable BIGINT/DECIMAL state — the same
    exchange shape as a plain SUM), with the float math deferred to a final
    per-group scalar expression. The built-in ``corr()`` keeps float state
    whose result drifts with partition combine order; this formulation is
    bit-stable at any parallelism — on 32 cores or 1000 executors."""
    li = table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_returnflag",
        F.expr("CAST(floor(l_quantity * 100.0) AS BIGINT)").alias("qx"),
        F.expr("CAST(floor(l_extendedprice * 100.0) AS BIGINT)").alias("qy"),
    )
    s = q.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum(F.expr("CAST(qx AS DECIMAL(38,0)) * qy")).alias("sxy"),
        F.sum(F.expr("CAST(qx AS DECIMAL(38,0)) * qx")).alias("sx2"),
        F.sum(F.expr("CAST(qy AS DECIMAL(38,0)) * qy")).alias("sy2"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.expr(_CORR_EXPR).alias("corr_qty_price"),
    )


# --- agg_mode -----------------------------------------------------------------

_AGG_MODE_ORACLE = """
WITH c AS (
  SELECT event_type, user_id, COUNT(*) AS cnt
  FROM events GROUP BY event_type, user_id
)
SELECT event_type,
       (MAX(struct_pack(cnt := cnt, user_id := user_id))).user_id AS mode_user,
       (MAX(struct_pack(cnt := cnt, user_id := user_id))).cnt AS mode_cnt
FROM c GROUP BY event_type
"""


@register("agg_mode", oracle=_AGG_MODE_ORACLE, tags=("agg",))
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (most frequent user per event source) via
    two hash aggregates: count per (group, value), then argmax as
    ``max(struct(cnt, value))`` — deterministic tiebreak on the larger
    value, no window, no sort, both exchanges map-side combined. The
    built-in ``mode()`` has engine-specific ties; the struct-max contract
    is portable and is the formulation that survives 100 TB (the heavy
    first aggregate keys on (group, value), so hot groups still spread)."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    s = F.struct("cnt", "user_id")
    return c.groupBy("event_type").agg(
        F.max(s)["user_id"].alias("mode_user"),
        F.max(s)["cnt"].alias("mode_cnt"),
    )


# --- agg_histogram ------------------------------------------------------------

# fixed-width bins chosen from the TPC-H price domain (l_extendedprice spans
# ~900..110k); a literal bin spec keeps the operator a pure one-pass
# aggregate — a data-derived min/max would need a second scan, and at 100 TB
# the profile pass (dq_profile) already supplies the domain.
_HIST_BINS = 20
_HIST_WIDTH = 5_500.0
_HIST_LO = 0.0

_AGG_HISTOGRAM_ORACLE = f"""
WITH b AS (
  SELECT least({_HIST_BINS - 1},
               CAST(floor((l_extendedprice - {_HIST_LO}) / {_HIST_WIDTH}) AS INT)) AS bin,
         l_extendedprice
  FROM lineitem
)
SELECT bin,
       CAST({_HIST_LO} + bin * {_HIST_WIDTH} AS DOUBLE) AS bin_lo,
       CAST({_HIST_LO} + (bin + 1) * {_HIST_WIDTH} AS DOUBLE) AS bin_hi,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DOUBLE) AS total
FROM b GROUP BY bin
"""


@register("agg_histogram", oracle=_AGG_HISTOGRAM_ORACLE, tags=("agg",))
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the fact table's price column: bin id via a
    single ``floor((x - lo) / width)`` expression (clamped into the last
    bin), then ONE map-side-combined hash aggregate keyed on the bin — the
    exchange carries at most ``_HIST_BINS`` rows per map task regardless of
    input size, the exact shape a 100 TB profile scan wants. Per-bin sums
    go through DECIMAL so combine order cannot perturb them. Spark's own
    ``histogram_numeric`` is an approximating sketch with engine-specific
    centroids; this fixed-grid formulation is portable and exact."""
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr(
            f"least({_HIST_BINS - 1}, "
            f"CAST(floor((l_extendedprice - {_HIST_LO}) / {_HIST_WIDTH}) AS INT))"
        ).alias("bin"),
        "l_extendedprice",
    )
    return b.groupBy("bin").agg(
        F.expr(f"CAST({_HIST_LO} + bin * {_HIST_WIDTH} AS DOUBLE)").alias("bin_lo"),
        F.expr(f"CAST({_HIST_LO} + (bin + 1) * {_HIST_WIDTH} AS DOUBLE)").alias("bin_hi"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(18,2))"))
        .cast("double")
        .alias("total"),
    )


# --- agg_sketch_union ---------------------------------------------------------


@register("agg_sketch_union", oracle=None, tags=("agg", "scale"))
def agg_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-day HyperLogLog sketches of distinct
    users (``hll_sketch_agg``, the Apache DataSketches HLL), then
    ``hll_union_agg`` merges the daily partials into the period-wide
    distinct estimate — alongside the exact ``count_distinct`` so the
    query self-audits its error. This is THE 100 TB pattern for distinct
    counting over rolling windows: the daily rollup is computed once (a
    few-KB sketch per day instead of a user-id set), any date range is
    answered by unioning sketches — no re-scan of raw events, and the
    union is associative so 1000 executors merge partials in a tree.
    Rows-only: the sketch registers are deterministic for fixed input but
    DuckDB's HLL is a different implementation, so cross-engine value
    equality is not defined; tests/test_properties.py asserts the estimate
    lands within 5%% of exact (standard error at lgK=12 is ~1.6%%)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct_users"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct_users"))
    return merged.crossJoin(exact).select(
        "n_days",
        "n_events",
        "est_distinct_users",
        "exact_distinct_users",
        (
            F.abs(F.col("est_distinct_users") - F.col("exact_distinct_users"))
            / F.col("exact_distinct_users")
        ).alias("rel_err"),
    )


# --- agg_argmax: group-wise argmax via max_by --------------------------------

# Tie-break determinism: Spark orders by the PAIR struct(price, orderkey) —
# max struct = max price then max orderkey, so the winner is unique even when
# two orders share a price. The oracle proves the same answer with the
# two-scan join-back formulation (groupwise max, re-join, max key among the
# tied rows) — deliberately the SLOW shape, to document what the single-pass
# max_by replaces.
_ARGMAX_ORACLE = """
WITH m AS (
  SELECT o_custkey, max(o_totalprice) AS top_price, COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT m.o_custkey, max(o.o_orderkey) AS top_orderkey,
       m.top_price, m.n_orders
FROM orders o
JOIN m ON o.o_custkey = m.o_custkey AND o.o_totalprice = m.top_price
GROUP BY m.o_custkey, m.top_price, m.n_orders
"""


@register("agg_argmax", oracle=_ARGMAX_ORACLE, tags=("agg",))
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise argmax in ONE aggregate pass: ``max_by(key, struct(val,
    key))`` returns each customer's highest-value orderkey without the
    join-back (scan → groupwise max → re-join → re-aggregate) or the
    window (full sort per group) formulations — one map-side-combinable
    aggregate, one exchange carrying a single (pair, key) cell per (task,
    group). The struct ordering value makes ties deterministic; at 100 TB
    this is the difference between one shuffle and two full fact scans."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "max_by(o_orderkey, struct(o_totalprice, o_orderkey))"
            ).alias("top_orderkey"),
            F.max("o_totalprice").alias("top_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --- agg_string_agg: ordered string aggregation (LISTAGG) --------------------

# Order INSIDE the aggregate is engine-private (Spark's collect_list order is
# partition-dependent), so both sides sort explicitly: collect → sort_array →
# concat in Spark, string_agg(... ORDER BY ...) in DuckDB. Deterministic
# because the sort key (n_name) is unique within a region.
_STRING_AGG_ORACLE = """
SELECT r.r_name,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@register("agg_string_agg", oracle=_STRING_AGG_ORACLE, tags=("agg",))
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL LISTAGG / string_agg): collect the
    group's values, sort INSIDE the row (sort_array — no extra exchange),
    and join with a separator. The explicit in-aggregate sort is what makes
    the result deterministic under parallelism: collect_list order reflects
    task arrival and is NOT stable across runs or cluster sizes, so any
    string-agg that skips the sort is silently nondeterministic at scale.
    Grouping cardinality bounds memory (per-group list, not per-partition)."""
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    return (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


# --- agg_skew_kurt: higher moments from exact power sums ---------------------

# Same design as agg_corr: the aggregate carries ONLY exact integer power
# sums (combine-order independent), and skewness/kurtosis come from ONE
# shared double expression evaluated per group in both engines. sqrt of a
# product replaces pow(x, 1.5) — sqrt is IEEE-correctly-rounded, libm pow is
# not, and cross-engine pow ulp drift would break the bit-exact contract.
_SK_N = "CAST(n AS DOUBLE)"
_SK_M = f"(CAST(s1 AS DOUBLE) / {_SK_N})"
_SK_M2 = f"(CAST(s2 AS DOUBLE) / {_SK_N} - {_SK_M} * {_SK_M})"
_SK_M3 = (
    f"(CAST(s3 AS DOUBLE) / {_SK_N} - 3.0 * {_SK_M} * (CAST(s2 AS DOUBLE) / {_SK_N})"
    f" + 2.0 * {_SK_M} * {_SK_M} * {_SK_M})"
)
_SK_M4 = (
    f"(CAST(s4 AS DOUBLE) / {_SK_N} - 4.0 * {_SK_M} * (CAST(s3 AS DOUBLE) / {_SK_N})"
    f" + 6.0 * {_SK_M} * {_SK_M} * (CAST(s2 AS DOUBLE) / {_SK_N})"
    f" - 3.0 * {_SK_M} * {_SK_M} * {_SK_M} * {_SK_M})"
)
_SK_SKEW = (
    f"(CASE WHEN {_SK_M2} <= 0.0 THEN NULL"
    f" ELSE {_SK_M3} / sqrt({_SK_M2} * {_SK_M2} * {_SK_M2}) END)"
)
_SK_KURT = (
    f"(CASE WHEN {_SK_M2} <= 0.0 THEN NULL"
    f" ELSE {_SK_M4} / ({_SK_M2} * {_SK_M2}) - 3.0 END)"
)

_SKEW_KURT_ORACLE = f"""
WITH q AS (
  SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS x FROM lineitem
),
s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2,
         CAST(SUM(x * x * x) AS BIGINT) AS s3,
         CAST(SUM(x * x * x * x) AS BIGINT) AS s4
  FROM q GROUP BY l_returnflag
)
SELECT l_returnflag, n AS n_rows, {_SK_M} AS mean_qty,
       {_SK_SKEW} AS skew_qty, {_SK_KURT} AS kurtosis_qty
FROM s
"""


@register("agg_skew_kurt", oracle=_SKEW_KURT_ORACLE, tags=("agg",))
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per group as ONE hash aggregate of four
    exact integer power sums (quantities are integral, so BIGINT sums are
    exact and combine-order independent), with the third/fourth central
    moments derived in a shared final double expression. The built-in
    skewness()/kurtosis() carry float state that drifts with partition
    merge order; this is the parallelism-stable formulation — the exchange
    carries five BIGINT cells per (task, group), nothing more, at any
    scale. x^4 sums stay under 2^53 up to ~10^9 rows/group; beyond that the
    same query swaps BIGINT for DECIMAL(38,0) accumulators (as agg_corr)."""
    li = table(spark, sf_dir, "lineitem")
    q = li.select("l_returnflag", F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("x"))
    s = q.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
        F.sum(F.expr("x * x * x")).alias("s3"),
        F.sum(F.expr("x * x * x * x")).alias("s4"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.expr(_SK_M).alias("mean_qty"),
        F.expr(_SK_SKEW).alias("skew_qty"),
        F.expr(_SK_KURT).alias("kurtosis_qty"),
    )


# --- agg_bitmap_distinct: exact distinct counting via bitmap partials --------

_BITMAP_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


@register("agg_bitmap_distinct", oracle=_BITMAP_ORACLE, tags=("agg", "scale"))
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmap partials — the
    roaring-bitmap pattern: bucket each user_id (bitmap_bucket_number),
    build a fixed-size bitmap per (group, bucket) with
    bitmap_construct_agg, then SUM the per-bucket popcounts. Unlike
    count(DISTINCT), whose exchange carries every distinct VALUE to the
    reducer, the bitmap exchange carries at most one 4KB bitmap per
    (group, bucket) regardless of how many ids it encodes — the same
    partial-merge shape as agg_sketch_union but exact, which is why the
    result is fully oracle-checkable against COUNT(DISTINCT). The
    n_events recount rides the first aggregate for free."""
    ev = table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bkt")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return buckets.groupBy("event_type").agg(
        F.expr("CAST(SUM(bitmap_count(bm)) AS BIGINT)").alias("n_users"),
        F.sum("cnt").alias("n_events"),
    )


# --- agg_any_all: boolean aggregates (EVERY / SOME) --------------------------

_ANY_ALL_ORACLE = """
SELECT o_orderpriority,
       CAST(bool_and(o_totalprice > 1000.0) AS INT) AS all_over_1k,
       CAST(bool_or(o_totalprice > 400000.0) AS INT) AS any_over_400k,
       CAST(bool_and(o_orderstatus IN ('F', 'O', 'P')) AS INT) AS all_valid_status,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_any_all", oracle=_ANY_ALL_ORACLE, tags=("agg",))
def agg_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (SQL EVERY/SOME, i.e. bool_and/bool_or) — the
    assertion layer of data-quality checks expressed as ONE map-side-
    combinable aggregate: each partial carries a single bit per predicate
    per group, the cheapest possible exchange. Cast to INT for a portable
    hash contract (pandas bool vs int dtype). dq_rules is the applied
    composite; this pins the primitive itself."""
    od = table(spark, sf_dir, "orders")
    return od.groupBy("o_orderpriority").agg(
        F.expr("CAST(bool_and(o_totalprice > 1000.0D) AS INT)").alias("all_over_1k"),
        F.expr("CAST(bool_or(o_totalprice > 400000.0D) AS INT)").alias(
            "any_over_400k"
        ),
        F.expr("CAST(bool_and(o_orderstatus IN ('F', 'O', 'P')) AS INT)").alias(
            "all_valid_status"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --- agg_grouping_id: subtotal-row disambiguation in cubes -------------------

_GROUPING_ID_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT)
         AS grouping_level,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20, 4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("agg_grouping_id", oracle=_GROUPING_ID_ORACLE, tags=("agg", "sql"))
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() / grouping-level disambiguation: in a CUBE result a NULL
    group key is ambiguous — subtotal row, or a group whose key VALUE is
    null? GROUPING(col) is the only correct discriminator (1 = this row
    aggregates over col), and any report/BI layer on top of agg_cube needs
    it. The level column is the standard bit-packed grouping id
    (2·g_flag + g_status), computed identically in both engines from the
    per-column bits.

    Two-level plan, like agg_cube: lineitem is first aggregated on the
    finest grouping set (one DECIMAL partial sum per key pair), then the
    Expand + hash aggregate run over those few rows, and GROUPING() reads
    the Expand's bitmask as before. Exact because DECIMAL sums add
    exactly; a NULL key value stays its own group in the first level, so
    GROUPING() still tells it from a subtotal."""
    pre = _flag_status_partials(spark, sf_dir, F.col("l_quantity").cast("decimal(20,4)"))
    return (
        pre.cube("l_returnflag", "l_linestatus").agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            (
                2 * F.grouping("l_returnflag").cast("bigint")
                + F.grouping("l_linestatus").cast("bigint")
            ).alias("grouping_level"),
            F.sum("q").cast("double").alias("sum_qty"),
        )
    ).select(
        "l_returnflag", "l_linestatus", "g_flag", "g_status", "grouping_level", "sum_qty"
    )


# --- agg_weighted_avg: decimal-exact weighted average ------------------------

# The weight product runs at decimal(18,4) x decimal(9,2) -> (28,6): inside
# Spark's max precision 38, so the weighted power sum is EXACT in both
# engines (the ts_cusum width lesson applied up front). The final share is
# ONE double division — ROUND(6)-quantized: once the exact decimal sum's
# scaled integer exceeds 2^53 (first happens at sf1), DuckDB's
# int128/10^scale float conversion and Java's BigDecimal.doubleValue can
# differ by one ulp (caught by the full sf1 replay; 1.5e-11 absolute on a
# 5e4 mean).
_WEIGHTED_AVG_ORACLE = """
SELECT l_returnflag,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 4))
                * CAST(l_quantity AS DECIMAL(9, 2))) AS DOUBLE)
         / CAST(SUM(CAST(l_quantity AS DECIMAL(9, 2))) AS DOUBLE), 6) AS wavg_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(9, 2))) AS DOUBLE) AS total_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_weighted_avg", oracle=_WEIGHTED_AVG_ORACLE, tags=("agg",))
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag — the canonical
    weighted mean every pricing/mix report needs, in ONE map-side-
    combinable aggregate (no join-back, no window). SUM(w*x) and SUM(w)
    both travel the exchange as fixed-width decimals, so the shuffle
    carries two exact cells per (task, group) and the division happens
    once per group on the driver-facing side. Weighted means computed as
    running averages are order-dependent; the two-power-sum form is
    associative, which is what makes it identical on any partitioning
    and in DuckDB."""
    li = table(spark, sf_dir, "lineitem")
    wx = F.col("l_extendedprice").cast("decimal(18,4)") * F.col("l_quantity").cast(
        "decimal(9,2)"
    )
    w = F.col("l_quantity").cast("decimal(9,2)")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(wx).cast("double") / F.sum(w).cast("double"), 6).alias(
            "wavg_price"
        ),
        F.sum(w).cast("double").alias("total_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# --- agg_filtered: FILTER-clause conditional aggregation ---------------------

# One scan, one exchange: every conditional metric is a FILTER clause on
# the same aggregate node — the alternative (one filtered subquery per
# metric, joined back) scans the table once PER METRIC. The filtered sum
# uses the repo's exact decimal rule so the double is bit-stable.
_AGG_FILTERED_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (WHERE value > 75.0) AS BIGINT) AS n_hi,
       CAST(SUM(CAST(value AS DECIMAL(38, 6))) FILTER (WHERE value > 75.0)
            AS DOUBLE) AS sum_hi,
       CAST(COUNT(*) FILTER (WHERE value < 25.0) AS BIGINT) AS n_lo
FROM events
GROUP BY event_type
"""


@register("agg_filtered", oracle=_AGG_FILTERED_ORACLE, tags=("agg",))
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation with the SQL:2003 FILTER clause: high-band
    count/sum and low-band count per event type, all riding ONE hash
    aggregate over ONE scan. This is the segment-metrics workhorse (DAU
    vs paying DAU vs power users in a single pass); the naive formulation
    — one filtered subquery per metric union-joined back — multiplies
    full scans by the metric count, which at 100 TB is the whole budget.
    Each FILTER predicate evaluates map-side, so partial aggregation
    still combines before the exchange."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.expr("COUNT(*) FILTER (WHERE value > 75.0)").alias("n_hi"),
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(38, 6))) FILTER (WHERE value > 75.0)"
            " AS DOUBLE)"
        ).alias("sum_hi"),
        F.expr("COUNT(*) FILTER (WHERE value < 25.0)").alias("n_lo"),
    )


# --- agg_approx_topk: heavy hitters via the frequent-items sketch -------------

# approx_top_k (Spark 4) is the mergeable heavy-hitters sketch for
# vocabularies that DON'T fit an exact hash aggregate. Sketch internals
# aren't engine-reproducible, so the anchoring follows agg_approx_quantiles:
# the query emits the EXACT top-10 plus a per-item flag that the sketch
# recovered the same count; on the fixture the tracked-item budget exceeds
# the vocabulary, making the sketch provably exact and the flag
# deterministic (ties at the rank boundary cannot flip it — the flag
# checks counts, not ranks). DuckDB recomputes exactly and hardcodes the
# flag true.
_APPROX_TOPK_ORACLE = """
WITH w AS (
  SELECT t AS word, COUNT(*) AS c
  FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
  GROUP BY t
)
SELECT word, CAST(c AS BIGINT) AS cnt, CAST(1 AS INT) AS sketch_exact
FROM w ORDER BY c DESC, word LIMIT 10
"""


@register("agg_approx_topk", oracle=_APPROX_TOPK_ORACLE, tags=("agg", "llm", "scale"))
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: the corpus's top-10 words exactly, cross-checked
    against the approx_top_k frequent-items sketch — the aggregation you
    run when the key space outgrows an exact hash aggregate (trending
    items over billions of events: sketch state is fixed-size and
    mergeable, so partials combine map-side like any algebraic agg).
    The exact side is one hash aggregate + TakeOrderedAndProject; the
    sketch side is one global aggregate whose output (vocab-sized here,
    tracked-budget-sized at scale) broadcasts back onto the exact top-10
    for the count-equality audit. At 100 TB you keep the sketch and drop
    the exact branch; the fixture keeps both so correctness is
    value-hash-checkable."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    exact = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(10)
    )
    sk = (
        toks.agg(F.expr("approx_top_k(word, 1000, 100000)").alias("tk"))
        .select(F.explode("tk").alias("p"))
        .select(
            F.col("p.item").alias("word"), F.col("p.count").cast("bigint").alias("sk_cnt")
        )
    )
    return exact.join(F.broadcast(sk), "word", "left").select(
        "word",
        "cnt",
        F.when(F.col("sk_cnt") == F.col("cnt"), 1).otherwise(0).cast("int").alias(
            "sketch_exact"
        ),
    )


# --- agg_countmin_freq ----------------------------------------------------------

# Count-min sketch built entirely from DataFrame ops, with an exact anchor.
# d=3 hash rows × w=256 buckets; each hash is the repo's engine-portable
# md5-fold (functions/hashing.py rationale) salted by the row index, so the
# sketch — unlike JVM Murmur3-based sketches — is bit-reproducible in DuckDB
# and the whole estimate path is oracle-checkable, not just rows-only.
_CMS_D = 3
_CMS_W = 256
_CMS_PANEL = 24  # estimate the first 24 part keys


def _cms_bucket(x_sql: str, j: int) -> str:
    """Shared (Spark ∩ DuckDB) SQL: bucket of key expr ``x_sql`` in row j."""
    return (
        f"CAST(CAST(conv(substring(md5(concat('cms{j}|', CAST({x_sql} AS STRING))), 1, 14), "
        f"16, 10) AS BIGINT) % {_CMS_W} AS BIGINT)"
    )


def _cms_bucket_duck(x_sql: str, j: int) -> str:
    return (
        f"CAST(CAST(('0x' || substring(md5('cms{j}|' || CAST({x_sql} AS VARCHAR)), 1, 14)) "
        f"AS BIGINT) % {_CMS_W} AS BIGINT)"
    )


_CMS_ORACLE = f"""
WITH hashed AS (
  {" UNION ALL ".join(
      f"SELECT {j} AS j, {_cms_bucket_duck('l_partkey', j)} AS bucket FROM lineitem"
      for j in range(_CMS_D)
  )}
),
sketch AS (
  SELECT j, bucket, COUNT(*) AS c FROM hashed GROUP BY j, bucket
),
panel AS (SELECT unnest(range(1, {_CMS_PANEL + 1})) AS partkey),
probe_keys AS (
  {" UNION ALL ".join(
      f"SELECT partkey, {j} AS j, {_cms_bucket_duck('partkey', j)} AS bucket FROM panel"
      for j in range(_CMS_D)
  )}
),
probes AS (
  SELECT p.partkey, s.j, s.c
  FROM probe_keys p JOIN sketch s ON s.j = p.j AND s.bucket = p.bucket
),
est AS (SELECT partkey, MIN(c) AS est_count FROM probes GROUP BY partkey),
exact AS (
  SELECT l_partkey AS partkey, COUNT(*) AS exact_count
  FROM lineitem WHERE l_partkey BETWEEN 1 AND {_CMS_PANEL} GROUP BY l_partkey
)
SELECT e.partkey, x.exact_count, e.est_count,
       e.est_count - x.exact_count AS overestimate
FROM est e JOIN exact x USING (partkey)
"""


@register("agg_countmin_freq", oracle=_CMS_ORACLE, tags=("agg", "sketch"))
def agg_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation with an exact anchor: build a
    3×256 sketch over l_partkey, estimate a fixed 24-key panel as
    min-over-rows, and join back the exact counts (CMS guarantees
    overestimate ≥ 0 — carried as a column so the driver hash-checks the
    invariant itself). The sketch aggregate is map-side combinable — the
    exchange carries ≤ d·w = 768 rows per map task at ANY input size, which
    is the entire point of a sketch at 100 TB; the sketch then broadcasts to
    the constant-size probe panel. Hashes are the engine-portable md5 fold,
    so the full estimate path is value-checked cross-engine."""
    # one-row-group fixture scans are 1 task; spread before the heavy
    # per-row map work (profiled single-task stage; see OPTIMIZATION_r10.md)
    li = rebalance_for_map(
        table(spark, sf_dir, "lineitem").select("l_partkey"), spark
    )
    # One lineitem scan: posexplode the d per-row bucket hashes (array index
    # IS the hash-row id j) instead of d unioned full scans — at 100 TB the
    # union shape pays the scan d times for the same sketch.
    stacked = li.select(
        F.posexplode(
            F.array(*[F.expr(_cms_bucket("l_partkey", j)) for j in range(_CMS_D)])
        ).alias("j", "bucket")
    ).select(F.col("j").cast("int").alias("j"), "bucket")
    sketch = stacked.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    panel = spark.range(1, _CMS_PANEL + 1).select(F.col("id").alias("partkey"))
    probes = panel.select(
        "partkey",
        F.posexplode(
            F.array(*[F.expr(_cms_bucket("partkey", j)) for j in range(_CMS_D)])
        ).alias("j", "bucket"),
    ).select("partkey", F.col("j").cast("int").alias("j"), "bucket")
    est = (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("partkey")
        .agg(F.min("c").alias("est_count"))
    )
    exact = (
        li.filter(F.col("l_partkey").between(1, _CMS_PANEL))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(F.broadcast(exact), "partkey").select(
        "partkey",
        "exact_count",
        "est_count",
        (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
    )


# --- agg_entropy: Shannon entropy of a categorical distribution ---------------

# Label-balance / load-dispersion diagnostic: the hour-of-day activity
# entropy per event source. The only libm call (ln) is applied to IDENTICAL
# doubles in both engines (a division of two exact BIGINTs), and each
# per-cell term is FLOOR-quantized to integer micro-nats BEFORE the final
# sum, so partial aggregates combine order-free on any partitioning — the
# same fixed-point recipe as ts_autocorr / dq_drift. ln(24) is a shared
# double LITERAL (not recomputed) so the normalized column divides by the
# same bits in both engines.
_LN24 = "3.1780538303479458"

_ENTROPY_ORACLE = f"""
WITH cells AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, COUNT(*) AS cnt
  FROM events
  GROUP BY event_type, CAST(hour(ts) AS BIGINT)
),
t AS (
  SELECT event_type, hr, cnt,
         SUM(cnt) OVER (PARTITION BY event_type) AS total
  FROM cells
),
terms AS (
  SELECT event_type, cnt, total,
         CAST(floor(
           -(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
            * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0
         ) AS BIGINT) AS term_micro
  FROM t
)
SELECT event_type,
       CAST(MAX(total) AS BIGINT) AS n_events,
       COUNT(*) AS n_hours,
       CAST(SUM(term_micro) AS DOUBLE) / 1000000.0 AS entropy_nats,
       CAST(SUM(term_micro) AS DOUBLE) / 1000000.0 / {_LN24} AS norm_entropy
FROM terms
GROUP BY event_type
"""


@register("agg_entropy", oracle=_ENTROPY_ORACLE, tags=("agg", "window"))
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (and ln(24)-normalized entropy) of each event
    source's hour-of-day activity distribution — the dispersion diagnostic
    behind label-balance checks in training-data prep and traffic-shape
    monitoring (a source whose entropy collapses went bursty or died).

    Shape: ONE corpus scan pre-aggregates to the (source, hour) grain —
    at most sources x 24 rows cross the map-side-combined exchange at ANY
    input size; the per-source total window and the final aggregate both
    key on event_type so the window exchange is reused. Per-cell terms are
    FLOOR-quantized to integer micro-nats before summation (order-free
    partials; the single ln() sees identical doubles in both engines)."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    t = cells.withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    p = F.col("cnt").cast("double") / F.col("total").cast("double")
    term = F.floor(-p * F.log(p) * F.lit(1000000.0)).cast("bigint")
    terms = t.select("event_type", "total", term.alias("term_micro"))
    ent = F.sum("term_micro").cast("double") / F.lit(1000000.0)
    return terms.groupBy("event_type").agg(
        F.max("total").alias("n_events"),
        F.count(F.lit(1)).alias("n_hours"),
        ent.alias("entropy_nats"),
        (ent / F.expr(_LN24)).alias("norm_entropy"),
    )


# --- agg_weighted_median: cumulative-weight median ----------------------------

# The weighted quantile the plain percentile can't give: "the price at
# which half the VOLUME traded" (not half the rows). Classic rewrite:
# order by value within the group, running weight sum, first value whose
# doubled cumulative weight reaches the total. All integers — weights are
# exact BIGINT units, values exact cents — so the selection is
# engine-exact, and the window + final aggregate share one exchange on
# the group key.
_WMEDIAN_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS grp,
         CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS price_cents,
         CAST(floor(l_quantity) AS BIGINT) AS w
  FROM lineitem
),
cum AS (
  SELECT grp, price_cents, w,
         SUM(w) OVER (PARTITION BY grp ORDER BY price_cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(w) OVER (PARTITION BY grp) AS tw
  FROM base
)
SELECT grp AS l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(tw) AS BIGINT) AS total_weight,
       MIN(CASE WHEN 2 * cw >= tw THEN price_cents END) AS wmedian_cents,
       CAST(MIN(CASE WHEN 2 * cw >= tw THEN price_cents END) AS DOUBLE) / 100.0
         AS wmedian
FROM cum
GROUP BY grp
"""


@register("agg_weighted_median", oracle=_WMEDIAN_ORACLE, tags=("agg", "window"))
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile (half the VOLUME, not half the rows) that percentile()
    cannot express. Rewrite: per-group value sort, running weight sum,
    first value whose doubled cumulative weight reaches the group total.

    Scale: ONE exchange on the group key serves the ordered cumulative
    window, the whole-partition total, and the final aggregate (same-key
    reuse); weights and values are exact integers (BIGINT units / cents)
    so the selection has no float knife edge on any partitioning. The
    per-group sort is the cost — for unbounded groups at 100 TB switch to
    the approx_percentile sketch with the weight EXPANDED into the sketch
    (agg_approx_quantiles shows the accuracy-gate pattern)."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("bigint").alias("price_cents"),
        F.floor("l_quantity").cast("bigint").alias("w"),
    )
    run = (
        Window.partitionBy("grp")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy("grp")
    cum = base.select(
        "grp",
        "price_cents",
        "w",
        F.sum("w").over(run).alias("cw"),
        F.sum("w").over(whole).alias("tw"),
    )
    med = F.min(
        F.when(F.lit(2) * F.col("cw") >= F.col("tw"), F.col("price_cents"))
    )
    return cum.groupBy(F.col("grp").alias("l_returnflag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("tw").cast("bigint").alias("total_weight"),
        med.alias("wmedian_cents"),
        (med.cast("double") / F.lit(100.0)).alias("wmedian"),
    )


# --- agg_sketch_overlap: audience-overlap estimation with exact anchor --------

# |A ∩ B| by inclusion-exclusion over HLL sketches — the audience-overlap
# / cross-segment reach estimate that runs where exact distinct joins
# can't. Sketch internals are engine-specific, so like
# agg_approx_quantiles the oracle checks an ACCURACY GATE: the exact
# overlap (portable integers, computed via per-user presence flags in one
# pass) rides along as value columns, and the sketch estimate must land
# within the gate; DuckDB recomputes the exact side and hardcodes the
# flag. Gate width 15%: inclusion-exclusion stacks three ~2% HLL errors
# on a difference, so the bound is loose but deterministic on fixed data.
_OVERLAP_ORACLE = """
WITH presence AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
  FROM events
  GROUP BY user_id
)
SELECT CAST(SUM(in_a) AS BIGINT) AS exact_a,
       CAST(SUM(in_b) AS BIGINT) AS exact_b,
       CAST(SUM(in_a * in_b) AS BIGINT) AS exact_overlap,
       CAST(1 AS INT) AS est_within_15pct
FROM presence
"""


@register("agg_sketch_overlap", oracle=_OVERLAP_ORACLE, tags=("agg", "sketch"))
def agg_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap |A ∩ B| (click ∩ purchase users) two ways: exact
    via one-pass per-user presence flags (map-side-combined aggregate,
    then a 1-row reaggregate), and estimated by HLL inclusion-exclusion
    (|A| + |B| − |A ∪ B| over approx_count_distinct). The estimate is the
    100 TB path — three mergeable sketches, no distinct-join; the exact
    side is the anchor that makes it driver-checkable (accuracy-gate
    pattern of agg_approx_quantiles).

    The union sketch reuses the same scan via conditional NULLs — one
    pass, four aggregates, 1 output row at any input size."""
    ev = table(spark, sf_dir, "events")
    in_a = F.when(F.col("event_type") == "click", F.col("user_id"))
    in_b = F.when(F.col("event_type") == "purchase", F.col("user_id"))
    in_ab = F.when(
        F.col("event_type").isin("click", "purchase"), F.col("user_id")
    )
    presence = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("ia"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("ib"),
    )
    exact = presence.agg(
        F.sum("ia").cast("bigint").alias("exact_a"),
        F.sum("ib").cast("bigint").alias("exact_b"),
        F.sum(F.col("ia") * F.col("ib")).cast("bigint").alias("exact_overlap"),
    )
    est = ev.agg(
        F.approx_count_distinct(in_a).alias("ea"),
        F.approx_count_distinct(in_b).alias("eb"),
        F.approx_count_distinct(in_ab).alias("eu"),
    ).select((F.col("ea") + F.col("eb") - F.col("eu")).alias("est_overlap"))
    return exact.join(F.broadcast(est)).select(
        "exact_a",
        "exact_b",
        "exact_overlap",
        F.when(
            F.abs(F.col("est_overlap") - F.col("exact_overlap"))
            <= 0.15 * F.col("exact_overlap"),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("est_within_15pct"),
    )


# --- agg_gini: concentration (inequality) coefficient ---------------------------

# "Is this corpus slice dominated by a few huge documents?" — the Gini
# coefficient of document length per source, the corpus-balance audit a
# data-mixing recipe reads next to llm_domain_mix (a source with high
# length-Gini contributes fewer effective documents than its row count
# suggests). Computed by the rank formula
#   G = (2·Σ rᵢxᵢ − (n+1)·Σx) / (n·Σx)
# over x sorted ascending: Σ rᵢxᵢ is invariant to how ties are ranked
# (equal x, permuted ranks — same sum), so a (value, id) tiebreak makes
# the window deterministic without affecting G. All-BIGINT numerators
# (n_chars is already an integer), one final division on identical
# operands — engine-exact, no float in any sum.
_GINI_ORACLE = """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(2 * SUM(r * n_chars) - (COUNT(*) + 1) * SUM(n_chars) AS BIGINT)
         AS gini_num,
       CAST(COUNT(*) * SUM(n_chars) AS BIGINT) AS gini_den,
       CAST(2 * SUM(r * n_chars) - (COUNT(*) + 1) * SUM(n_chars) AS DOUBLE)
         / (COUNT(*) * SUM(n_chars)) AS gini
FROM ranked GROUP BY source
"""


@register("agg_gini", oracle=_GINI_ORACLE, tags=("aggregate",))
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of document length per source — the
    corpus-balance audit behind mixing decisions: 0 = every document the
    same size, →1 = a handful of giants carry the slice.

    Scale shape: ONE exchange on source serves both the ascending rank
    window and the final aggregate (same key — Catalyst reuses the
    partitioning); every shuffled row is (source, BIGINT, BIGINT). The
    rank formula needs no pairwise |xᵢ−xⱼ| expansion (the textbook
    definition is quadratic — this is the sorted-rank identity), and all
    sums are BIGINT products of in-range operands (Σ(r·x) ≈ n²·x̄/2 stays
    under 2^63 through ~7×10⁸ rows per stratum at these lengths — sf100 is
    ~10⁶; ANSI mode fails LOUDLY past that, and the remedy is casting the
    two sums to DECIMAL(38,0), exact in both engines), so the result is
    bit-identical on any partitioning."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).cast("bigint").alias("r")
    )
    n = F.count(F.lit(1))
    sx = F.sum("n_chars")
    srx = F.sum(F.col("r") * F.col("n_chars"))
    return ranked.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        sx.cast("bigint").alias("total_chars"),
        (2 * srx - (n + 1) * sx).cast("bigint").alias("gini_num"),
        (n * sx).cast("bigint").alias("gini_den"),
        ((2 * srx - (n + 1) * sx).cast("double") / (n * sx)).alias("gini"),
    )


# --- agg_concentration: CR4 + HHI market-concentration audit ------------------

# The market-structure diagnostic (antitrust CR-k and Herfindahl index)
# applied per nation to supplier revenue. Per-supplier revenue uses the
# repo's exact-revenue idiom (per-row DECIMAL(20,4) cast before the sum);
# shares divide two exact-operand DOUBLEs; HHI's share² terms are
# FLOOR-quantized to pico-units (1e12) BEFORE the sum so partial
# aggregates combine order-free — the agg_entropy fixed-point recipe.
_CONCENTRATION_ORACLE = """
WITH rev AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
         SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20, 4)))
           AS r
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
),
ranked AS (
  SELECT nationkey, suppkey, r,
         ROW_NUMBER() OVER (PARTITION BY nationkey
                            ORDER BY r DESC, suppkey ASC) AS rnk,
         SUM(r) OVER (PARTITION BY nationkey) AS tot
  FROM rev
),
terms AS (
  SELECT nationkey, rnk, r, tot,
         CAST(floor(
           (CAST(r AS DOUBLE) / CAST(tot AS DOUBLE))
           * (CAST(r AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000000000.0
         ) AS BIGINT) AS hhi_pico
  FROM ranked
)
SELECT nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(MAX(tot) AS DOUBLE) AS total_rev,
       CAST(SUM(CASE WHEN rnk <= 4 THEN CAST(r AS DOUBLE) ELSE 0.0 END)
            AS DOUBLE) / CAST(MAX(tot) AS DOUBLE) AS cr4,
       CAST(SUM(hhi_pico) AS DOUBLE) / 1000000000000.0 AS hhi
FROM terms
GROUP BY nationkey
"""


@register(
    "agg_concentration", oracle=_CONCENTRATION_ORACLE, tags=("agg", "window")
)
def agg_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration audit per nation: CR4 (top-4 supplier share of
    revenue) and the Herfindahl–Hirschman index Σ shareᵢ² — the skew
    companion to agg_gini that names WHERE revenue concentrates, used for
    sourcing-risk and antitrust-style screens.

    Scale shape: the corpus collapses to the |suppliers|-row revenue
    table in one map-side-combined aggregate (the supplier dim joins
    BROADCAST); rank/total windows and the final rollup all key on
    nationkey — one bounded-table exchange. Revenue is the repo's exact
    DECIMAL(20,4) idiom; the only float work is share division on
    exact-operand doubles and the FLOOR-pico-quantized share² terms
    (order-free partial sums)."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(20,4)"
                )
            ).alias("r")
        )
    )
    wn = Window.partitionBy("nationkey")
    ranked = rev.select(
        "nationkey",
        "r",
        F.row_number()
        .over(wn.orderBy(F.col("r").desc(), F.col("suppkey").asc()))
        .alias("rnk"),
        F.sum("r").over(wn).alias("tot"),
    )
    share = F.col("r").cast("double") / F.col("tot").cast("double")
    terms = ranked.select(
        "nationkey",
        "rnk",
        "r",
        "tot",
        F.floor(share * share * F.lit(1000000000000.0)).cast("bigint").alias(
            "hhi_pico"
        ),
    )
    return terms.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.max("tot").cast("double").alias("total_rev"),
        (
            F.sum(
                F.when(F.col("rnk") <= 4, F.col("r").cast("double")).otherwise(
                    0.0
                )
            )
            / F.max("tot").cast("double")
        ).alias("cr4"),
        (F.sum("hhi_pico").cast("double") / F.lit(1000000000000.0)).alias(
            "hhi"
        ),
    )


# --- agg_wilson_ci: binomial rate with Wilson confidence interval -------------

# The A/B-test / conversion-dashboard aggregate a plain mean can't give:
# Wilson-score 95% bounds on a per-group success rate, which stay inside
# [0,1] and behave at small n where the normal approximation lies. The
# success predicate (value > 100) is row-local; s and n are exact
# BIGINTs, so every double reaching sqrt is identical in both engines;
# ROUND(9) absorbs the sqrt ulp (the dq_volume_anomaly recipe). z is a
# shared literal.
_WILSON_Z = "1.959963984540054"

_WILSON_ORACLE = f"""
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM events GROUP BY event_type
)
SELECT event_type, n, s,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
       ROUND((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
              + {_WILSON_Z} * {_WILSON_Z} / (2.0 * CAST(n AS DOUBLE))
              - {_WILSON_Z} * sqrt(
                  (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                  + {_WILSON_Z} * {_WILSON_Z}
                    / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + {_WILSON_Z} * {_WILSON_Z} / CAST(n AS DOUBLE)), 9) AS ci_lo,
       ROUND((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
              + {_WILSON_Z} * {_WILSON_Z} / (2.0 * CAST(n AS DOUBLE))
              + {_WILSON_Z} * sqrt(
                  (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                  + {_WILSON_Z} * {_WILSON_Z}
                    / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + {_WILSON_Z} * {_WILSON_Z} / CAST(n AS DOUBLE)), 9) AS ci_hi
FROM g
"""


@register("agg_wilson_ci", oracle=_WILSON_ORACLE, tags=("agg", "stats"))
def agg_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type success rate with Wilson-score 95% bounds — the
    conversion-dashboard aggregate that stays inside [0, 1] and behaves
    at small n, where mean ± z·stderr does not.

    Scale shape: one map-side-combined corpus collapse to (type, n, s)
    BIGINT cells; all the interval algebra is row-local arithmetic on
    the bounded cell table, with the single sqrt fed identical
    exact-ratio doubles in both engines (ROUND(9) for the ulp)."""
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 100.0, 1).otherwise(0))
        .cast("bigint")
        .alias("s"),
    )
    z = F.expr(_WILSON_Z)
    n = F.col("n").cast("double")
    p = F.col("s").cast("double") / n
    denom = F.lit(1.0) + z * z / n
    center = p + z * z / (F.lit(2.0) * n)
    half = z * F.sqrt(p * (F.lit(1.0) - p) / n + z * z / (F.lit(4.0) * n * n))
    return g.select(
        "event_type",
        "n",
        "s",
        p.alias("p_hat"),
        F.round((center - half) / denom, 9).alias("ci_lo"),
        F.round((center + half) / denom, 9).alias("ci_hi"),
    )


# --- agg_bloom_filter: oracle-exact Bloom membership with an exact anchor -----

# The membership twin of agg_countmin_freq's frequency sketch: build a
# k=3 x m=262144-bit Bloom filter over l_partkey, probe a fixed 32-key
# panel (16 keys present at every SF, 16 drawn from 1e9+ so they stay
# absent through sf1000), and join back exact membership so the
# one-sided guarantee (present keys ALWAYS hit; misses only ever happen
# on absent keys) is itself a hash-checked column. Hashes are the
# engine-portable md5 fold (the agg_countmin_freq recipe), so the whole
# bit-vector — not just row counts — is bit-reproducible in DuckDB.
_BF_K = 3
_BF_M = 262144
_BF_PRESENT = 16  # panel keys 1..16 exist at every SF (partkeys start at 0)
_BF_ABSENT_BASE = 1_000_000_000


def _bf_bit(x_sql: str, j: int) -> str:
    """Shared (Spark) SQL: bit position of key expr ``x_sql`` for hash j."""
    return (
        f"CAST(CAST(conv(substring(md5(concat('bf{j}|', CAST({x_sql} AS STRING))), 1, 14), "
        f"16, 10) AS BIGINT) % {_BF_M} AS BIGINT)"
    )


def _bf_bit_duck(x_sql: str, j: int) -> str:
    return (
        f"CAST(CAST(('0x' || substring(md5('bf{j}|' || CAST({x_sql} AS VARCHAR)), 1, 14)) "
        f"AS BIGINT) % {_BF_M} AS BIGINT)"
    )


_BF_ORACLE = f"""
WITH bits AS (
  SELECT DISTINCT bit FROM (
    {" UNION ALL ".join(
        f"SELECT {_bf_bit_duck('l_partkey', j)} AS bit FROM lineitem"
        for j in range(_BF_K)
    )}
)
),
panel AS (
  SELECT unnest(range(1, {_BF_PRESENT + 1})) AS partkey
  UNION ALL
  SELECT unnest(range({_BF_ABSENT_BASE + 1}, {_BF_ABSENT_BASE + _BF_PRESENT + 1}))
),
probe_bits AS (
  {" UNION ALL ".join(
      f"SELECT partkey, {_bf_bit_duck('partkey', j)} AS bit FROM panel"
      for j in range(_BF_K)
  )}
),
hits AS (
  SELECT p.partkey,
         CAST(MIN(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS bloom_hit
  FROM probe_bits p LEFT JOIN bits b USING (bit)
  GROUP BY p.partkey
),
exact AS (SELECT DISTINCT l_partkey AS partkey FROM lineitem)
SELECT h.partkey,
       h.bloom_hit,
       CAST(CASE WHEN e.partkey IS NULL THEN 0 ELSE 1 END AS BIGINT) AS exact_present,
       CAST(CASE WHEN h.bloom_hit = 1 AND e.partkey IS NULL THEN 1 ELSE 0 END
            AS BIGINT) AS false_positive
FROM hits h LEFT JOIN exact e USING (partkey)
"""


@register("agg_bloom_filter", oracle=_BF_ORACLE, tags=("agg", "sketch"))
def agg_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership with an exact anchor: set the k=3 bit
    positions of every l_partkey in an m=262144-bit filter, probe a fixed
    32-key panel (16 present at every SF, 16 absent through sf1000), and
    join back exact membership so the driver hash-checks the one-sided
    guarantee itself (present => hit; false positives only on absents).

    Scale shape: the bit-vector is a partial-distinct aggregate over the
    k per-row hash positions — the exchange carries <= m = 262k rows per
    map task at ANY input size, which is the point of the sketch at
    100 TB (the agg_countmin_freq argument, for membership instead of
    frequency). One lineitem scan fans each row to its k bits via a
    generator, never k unioned scans; the bounded bit table then joins
    the constant 96-row probe side. The exact anchor prunes its scan to
    the panel key range at the parquet reader."""
    li = table(spark, sf_dir, "lineitem")
    # spread only the bits build (k md5 bit positions per row, profiled
    # single-task); the exact anchor below keeps its pruned pushed-filter scan
    bits = (
        rebalance_for_map(li.select("l_partkey"), spark).select(
            F.explode(
                F.array(*[F.expr(_bf_bit("l_partkey", j)) for j in range(_BF_K)])
            ).alias("bit")
        )
        .distinct()
    )
    panel = (
        spark.range(1, _BF_PRESENT + 1)
        .union(spark.range(_BF_ABSENT_BASE + 1, _BF_ABSENT_BASE + _BF_PRESENT + 1))
        .select(F.col("id").alias("partkey"))
    )
    probe_bits = panel.select(
        "partkey",
        F.explode(
            F.array(*[F.expr(_bf_bit("partkey", j)) for j in range(_BF_K)])
        ).alias("bit"),
    )
    hits = (
        probe_bits.join(bits.withColumn("set_", F.lit(1)), "bit", "left")
        .groupBy("partkey")
        .agg(F.min(F.coalesce(F.col("set_"), F.lit(0))).cast("bigint").alias("bloom_hit"))
    )
    exact = (
        li.filter(
            F.col("l_partkey").between(1, _BF_PRESENT)
            | F.col("l_partkey").between(
                _BF_ABSENT_BASE + 1, _BF_ABSENT_BASE + _BF_PRESENT
            )
        )
        .select(F.col("l_partkey").alias("partkey"))
        .distinct()
        .withColumn("present_", F.lit(1))
    )
    return (
        hits.join(F.broadcast(exact), "partkey", "left")
        .select(
            "partkey",
            "bloom_hit",
            F.coalesce(F.col("present_"), F.lit(0)).cast("bigint").alias("exact_present"),
            F.when((F.col("bloom_hit") == 1) & F.col("present_").isNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("false_positive"),
        )
    )


# --- agg_ttest: Welch two-sample t-test between group pairs -------------------

# The experiment-analysis primitive next to agg_wilson_ci (rates) and
# dq_ks_test (distributions): does mean(value) differ between two event
# types? Welch's unequal-variance t with Satterthwaite df, computed for
# every unordered type pair. Parity discipline: values quantize to
# DECIMAL(18,9) so s1/s2 are exact associative sums (the ts_cusum recipe);
# every double is then derived from identical exact operands, and the two
# lib-m-adjacent outputs (t needs sqrt, df squares small doubles) get
# ROUND(9)/ROUND(6).
_TTEST_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18, 9))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18, 9)) * CAST(value AS DECIMAL(18, 9)))
              AS DOUBLE) AS s2
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type, n, s1 / n AS mean,
         (s2 - s1 * s1 / n) / (n - 1) AS var
  FROM g
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       a.n AS n_a, b.n AS n_b,
       ROUND(a.mean, 9) AS mean_a, ROUND(b.mean, 9) AS mean_b,
       ROUND((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), 9) AS t_stat,
       ROUND(
         (a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n)
         / ((a.var / a.n) * (a.var / a.n) / (a.n - 1)
            + (b.var / b.n) * (b.var / b.n) / (b.n - 1)), 6) AS df,
       CAST(CASE WHEN abs((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n))
                      > 1.959963984540054
                 THEN 1 ELSE 0 END AS BIGINT) AS significant_95
FROM m a JOIN m b ON a.event_type < b.event_type
"""


@register("agg_ttest", oracle=_TTEST_ORACLE, tags=("agg", "stats"))
def agg_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test over every unordered
    event-type pair: t statistic, Satterthwaite degrees of freedom, and a
    95% two-sided verdict — the A/B mean-difference companion to
    agg_wilson_ci's rate intervals.

    Scale shape: ONE corpus collapse to (type, n, s1, s2) cells with
    DECIMAL(18,9)-exact power sums (associative, partition-order-free);
    the pair expansion is a self-join of the |types|-row stats table —
    bounded by the domain, broadcast at any corpus size. Every double
    divides exact operands; ROUND(9)/ROUND(6) absorb the sqrt/square
    ulp."""
    ev = table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,9)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    # persisted: BOTH sides of the pair self-join read this |types|-row
    # stats table — without it, the corpus collapse runs twice.
    m = scoped_persist(
        g.select(
            "event_type",
            "n",
            (F.col("s1") / F.col("n")).alias("mean"),
            (
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("var"),
        )
    )
    a = m.alias("a")
    b = m.alias("b")
    va = F.col("a.var") / F.col("a.n")
    vb = F.col("b.var") / F.col("b.n")
    t = (F.col("a.mean") - F.col("b.mean")) / F.sqrt(va + vb)
    df_ = (va + vb) * (va + vb) / (
        va * va / (F.col("a.n") - 1) + vb * vb / (F.col("b.n") - 1)
    )
    return (
        a.join(F.broadcast(b), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            # ROUND(9): decimal-sum double conversion can differ by one ulp
            # past 2^53 (the agg_geomean sf10 finding — same sum shape here)
            F.round(F.col("a.mean"), 9).alias("mean_a"),
            F.round(F.col("b.mean"), 9).alias("mean_b"),
            F.round(t, 9).alias("t_stat"),
            F.round(df_, 6).alias("df"),
            F.when(F.abs(t) > 1.959963984540054, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("significant_95"),
        )
    )


# --- agg_geomean: geometric + harmonic means -----------------------------------

# The multiplicative-average family arithmetic mean misrepresents (growth
# rates, price ratios, rate-of-work averages): per-group geometric and
# harmonic means of l_extendedprice, with the arithmetic mean alongside so
# the AM >= GM >= HM ordering is itself data. Fixed-point discipline:
# ln(x) FLOOR-quantized to micro-units and 1/x to pico-units per ROW, so
# both accumulations are order-free BIGINT sums (the agg_entropy recipe);
# the closing exp/divisions see exact operands, ROUND(6) for the libm ulp.
_GEOMEAN_ORACLE = f"""
WITH t AS (
  SELECT l_returnflag,
         CAST(floor(ln(l_extendedprice) * 1000000.0) AS BIGINT) AS lg,
         CAST(floor(1000000000000.0 / l_extendedprice) AS BIGINT) AS inv
  FROM lineitem
),
g AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(lg) AS BIGINT) AS s_lg,
         CAST(SUM(inv) AS BIGINT) AS s_inv
  FROM t GROUP BY l_returnflag
),
am AS (
  SELECT l_returnflag,
         ROUND({exact_sum_sql('l_extendedprice')} / COUNT(*), 6) AS arith_mean
  FROM lineitem GROUP BY l_returnflag
)
SELECT g.l_returnflag, g.n,
       am.arith_mean,
       ROUND(exp(CAST(g.s_lg AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1000000.0)), 6)
         AS geo_mean,
       ROUND(CAST(g.n AS DOUBLE) * 1000000000000.0 / CAST(g.s_inv AS DOUBLE), 6)
         AS harm_mean
FROM g JOIN am USING (l_returnflag)
"""


@register("agg_geomean", oracle=_GEOMEAN_ORACLE, tags=("agg", "stats"))
def agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means per return flag (with the arithmetic
    mean for the AM >= GM >= HM bracket) — the multiplicative/rate
    averages a plain mean gets wrong.

    Scale shape: ONE map-side-combined collapse; the exchange carries
    (n, Σfloor(ln·1e6), Σfloor(1e12/x)) BIGINT cells per (task, group) —
    the per-row quantization makes both sums associative, so the result
    is partition-order-free (a raw double SUM of ln terms would not be).
    Closing exp/divisions see exact operands; ROUND(6) absorbs the
    ulp."""
    li = table(spark, sf_dir, "lineitem")
    t = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.floor(F.log("l_extendedprice") * 1000000.0).cast("bigint").alias("lg"),
        F.floor(F.lit(1000000000000.0) / F.col("l_extendedprice"))
        .cast("bigint")
        .alias("inv"),
    )
    g = t.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lg").cast("bigint").alias("s_lg"),
        F.sum("inv").cast("bigint").alias("s_inv"),
        exact_sum(F.col("l_extendedprice")).alias("s_x"),
    )
    n_d = F.col("n").cast("double")
    return g.select(
        "l_returnflag",
        "n",
        # exact_sum is one IEEE combine of two BIGINT limb sums, so it is
        # bit-identical in both engines at any scale, and the mean is one
        # more division. ROUND(6) keeps the published precision.
        F.round(F.col("s_x") / F.col("n"), 6).alias("arith_mean"),
        F.round(F.exp(F.col("s_lg").cast("double") / (n_d * 1000000.0)), 6).alias(
            "geo_mean"
        ),
        F.round(n_d * 1000000000000.0 / F.col("s_inv").cast("double"), 6).alias(
            "harm_mean"
        ),
    )


# --- agg_spearman: tie-aware Spearman rank correlation -------------------------

# The rank-based sibling of agg_corr (Pearson): monotone association that
# is robust to outliers and nonlinearity — the screen every feature-audit
# runs before trusting a Pearson r. Tie-aware average ranks, carried as
# 2x-scaled INTEGERS (avg rank of a tie block is a multiple of 1/2, so
# r2 = 2*cum_count - block + 1 is exact in BIGINT), make Spearman = Pearson
# on integers: every moment is an exact DECIMAL(38,0) sum (order-free,
# map-side combinable), and the closing ratio sees exact operands —
# ROUND(9) absorbs the int128/BigDecimal double-conversion ulp. Bound:
# n*S_xy <= 4*n^4 stays inside DECIMAL(38) through ~6e8 rows per group
# (sf100), documented here rather than discovered at scale.
_SPEARMAN_RANGES = 8  # range partitions per value-grain prefix scan


def _spearman_ranks(cells: DataFrame, key: str, alias: str) -> DataFrame:
    """Tie-aware 2x-scaled average ranks of `key` per flag, as a
    DISTRIBUTED two-level prefix sum over the (flag, key) value grain
    (the win_skyline pattern — see agg_spearman's docstring). Returns
    (flag, key, alias) where alias = 2*cumsum(c) - c + 1 in BIGINT.

    Order-correctness leans on the same two facts win_skyline pinned:
    RangePartitioner assigns ascending partition ids in (flag, key)
    order, and AQE coalescing merges only contiguous ranges, so
    spark_partition_id() is a monotone bucket id over the sort key.

    The rid assignment is PERSISTED before fan-out: the SQL range
    exchange samples its partition boundaries per execution, so the two
    consumers below (the prior-sum branch and the join-back) would
    otherwise each re-sample and disagree on which rid a key belongs to
    — measured 4477/6000 wrong ranks at sf0.001 before the persist. The
    persisted table is the VALUE GRAIN (distinct keys), never the fact
    table, so the materialization is exactly the small side this
    operator already banks on."""
    vc = cells.groupBy("flag", key).agg(F.sum("cnt").cast("bigint").alias("c"))
    ranged = scoped_persist(
        vc.repartitionByRange(_SPEARMAN_RANGES, "flag", key).withColumn(
            "rid", F.spark_partition_id()
        )
    )
    w_local = (
        Window.partitionBy("rid", "flag")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("lcum", F.sum("c").over(w_local))
    rtot = ranged.groupBy("rid", "flag").agg(F.sum("c").alias("rtot"))
    w_prior = (
        Window.partitionBy("flag").orderBy("rid").rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = rtot.select("rid", "flag", F.sum("rtot").over(w_prior).alias("prior"))
    return local.join(F.broadcast(prior), ["rid", "flag"]).select(
        "flag",
        key,
        (
            2 * (F.col("lcum") + F.coalesce(F.col("prior"), F.lit(0)))
            - F.col("c")
            + 1
        ).alias(alias),
    )


_SPEARMAN_ORACLE = """
WITH li AS (
  SELECT l_returnflag AS flag, CAST(floor(l_quantity) AS BIGINT) AS qty,
         l_extendedprice AS price
  FROM lineitem
),
cells AS (
  SELECT flag, qty, price, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM li GROUP BY flag, qty, price
),
qc AS (SELECT flag, qty, CAST(SUM(cnt) AS BIGINT) AS c FROM cells GROUP BY flag, qty),
qr AS (
  SELECT flag, qty,
         2 * SUM(c) OVER (PARTITION BY flag ORDER BY qty
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - c + 1 AS rx
  FROM qc
),
pc AS (SELECT flag, price, CAST(SUM(cnt) AS BIGINT) AS c FROM cells GROUP BY flag, price),
pr AS (
  SELECT flag, price,
         2 * SUM(c) OVER (PARTITION BY flag ORDER BY price
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - c + 1 AS ry
  FROM pc
),
j AS (
  SELECT cells.flag, cells.cnt, qr.rx, pr.ry
  FROM cells
  JOIN qr ON qr.flag = cells.flag AND qr.qty = cells.qty
  JOIN pr ON pr.flag = cells.flag AND pr.price = cells.price
),
m AS (
  SELECT flag, CAST(SUM(cnt) AS BIGINT) AS n,
         SUM(CAST(cnt AS HUGEINT) * rx) AS sx,
         SUM(CAST(cnt AS HUGEINT) * ry) AS sy,
         SUM(CAST(cnt AS HUGEINT) * rx * ry) AS sxy,
         SUM(CAST(cnt AS HUGEINT) * rx * rx) AS sxx,
         SUM(CAST(cnt AS HUGEINT) * ry * ry) AS syy
  FROM j GROUP BY flag
)
SELECT flag AS l_returnflag, n,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE)), 9)
            ELSE NULL END AS rho
FROM m
"""


@register("agg_spearman", oracle=_SPEARMAN_ORACLE, tags=("agg", "stats"))
def agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware Spearman rank correlation between quantity and extended
    price per return flag — the monotone-association screen beside
    agg_corr's Pearson. Average ranks ride as 2x-scaled integers so every
    moment is an exact DECIMAL(38,0) sum and the statistic is bit-stable
    under any partitioning.

    Scale shape: ONE corpus collapse to the (flag, qty, price) value-pair
    grain; ranks come from DISTRIBUTED prefix sums over the per-VARIABLE
    value grains (|distinct qty| and |distinct price| rows — the
    win_skyline two-level parallel scan, VERDICT r8 item 5: collapse to
    the value grain map-side-combined, repartitionByRange on (flag,
    value) so partition ids ascend in key order, per-range running sum
    via a rid-partitioned window, then a per-flag prefix over the
    |ranges|x|flags| per-range totals — a window whose row count is a
    constant of the config, not the data — broadcast back. No
    single-partition window ever sees a value grain), joined back onto
    the cell table, and one moment aggregate closes. The fact table is
    scanned exactly once."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        # explicit floor, NOT a bare bigint cast: Spark's double->bigint
        # cast truncates toward zero while DuckDB's rounds, so -3.5 and
        # 19.995 land in different value cells (hostile-panel find);
        # floor() agrees in both engines and is the identity on the
        # integral quantities real data carries
        F.floor("l_quantity").cast("bigint").alias("qty"),
        F.col("l_extendedprice").alias("price"),
    )
    # persist the pair-grain collapse: it feeds both rank derivations and
    # the moment join — without the barrier each consumer re-scans lineitem
    cells = scoped_persist(
        li.groupBy("flag", "qty", "price").agg(F.count(F.lit(1)).alias("cnt"))
    )
    qr = _spearman_ranks(cells, "qty", "rx")
    pr = _spearman_ranks(cells, "price", "ry")
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    j = cells.join(F.broadcast(qr), ["flag", "qty"]).join(pr, ["flag", "price"])
    m = j.groupBy("flag").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(d("cnt") * d("rx")).alias("sx"),
        F.sum(d("cnt") * d("ry")).alias("sy"),
        F.sum(d("cnt") * d("rx") * d("ry")).alias("sxy"),
        F.sum(d("cnt") * d("rx") * d("rx")).alias("sxx"),
        F.sum(d("cnt") * d("ry") * d("ry")).alias("syy"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    vx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        F.col("flag").alias("l_returnflag"),
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(
                num.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")), 9
            ),
        ).alias("rho"),
    )


# --- agg_mannwhitney: rank-sum two-sample test ---------------------------------

# The nonparametric partner of agg_ttest: does quantity differ between
# returned ('R') and accepted ('A') line items WITHOUT assuming
# normality? Mann-Whitney U from tie-aware average ranks over the
# combined sample. The 2x-rank trick keeps U exact in BIGINT (U2 = 2U);
# the tie term T = sum(c^3 - c) and the normal-approximation sigma use
# exact integer operands, so z is deterministic to the closing ROUND(9).
# The whole test collapses to the |distinct qty| value grain (<= 50
# cells) in ONE map-side-combinable pass.
_MANNWHITNEY_ORACLE = """
WITH li AS (
  SELECT CAST(floor(l_quantity) AS BIGINT) AS qty, l_returnflag AS flag
  FROM lineitem WHERE l_returnflag IN ('A', 'R')
),
vc AS (
  SELECT qty, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(COUNT(*) FILTER (flag = 'A') AS BIGINT) AS ca
  FROM li GROUP BY qty
),
r AS (
  SELECT qty, c, ca,
         2 * SUM(c) OVER (ORDER BY qty
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - c + 1 AS r2
  FROM vc
),
s AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(c - ca) AS BIGINT) AS n_b,
         SUM(CAST(ca AS HUGEINT) * r2) AS r2_a,
         SUM(CAST(c AS HUGEINT) * c * c - c) AS ties
  FROM r
),
u AS (
  SELECT n_a, n_b, r2_a, ties, n_a + n_b AS nt,
         CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2
  FROM s
)
SELECT n_a, n_b,
       CAST(u2 AS DOUBLE) / 2.0 AS u_a,
       ROUND(CAST(r2_a AS DOUBLE) / (2.0 * n_a), 9) AS mean_rank_a,
       ROUND(CAST(u2 - n_a * n_b AS DOUBLE)
             / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                 * ((nt + 1) - CAST(ties AS DOUBLE) / (CAST(nt AS DOUBLE) * (nt - 1))))),
             9) AS z_stat,
       CAST(CASE WHEN abs(CAST(u2 - n_a * n_b AS DOUBLE)
             / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                 * ((nt + 1) - CAST(ties AS DOUBLE) / (CAST(nt AS DOUBLE) * (nt - 1))))))
                 > 1.959963984540054 THEN 1 ELSE 0 END AS BIGINT) AS significant_95
FROM u
"""


@register("agg_mannwhitney", oracle=_MANNWHITNEY_ORACLE, tags=("agg", "stats"))
def agg_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: is quantity stochastically larger for
    returned than accepted line items? The distribution-free partner of
    agg_ttest (which assumes normal-ish means). Tie-corrected normal
    approximation; 2x-scaled average ranks keep U and the tie term exact
    in integers, so z is deterministic to the closing ROUND(9).

    Scale shape: the corpus collapses to the |distinct qty| value grain
    (<= 50 cells) in ONE map-side-combinable pass with conditional
    counts; ranking and the closing statistic are arithmetic on that
    dimension-bounded cell table. Nothing downstream of the first
    aggregate sees a fact-table row."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(
            F.floor("l_quantity").cast("bigint").alias("qty"),
            F.col("l_returnflag").alias("flag"),
        )
    )
    vc = li.groupBy("qty").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum(F.when(F.col("flag") == "A", 1).otherwise(0)).cast("bigint").alias("ca"),
    )
    cum = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = vc.select(
        "qty", "c", "ca",
        (2 * F.sum("c").over(cum) - F.col("c") + 1).alias("r2"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = r.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum(F.col("c") - F.col("ca")).cast("bigint").alias("n_b"),
        F.sum(d("ca") * d("r2")).alias("r2_a"),
        F.sum(d("c") * d("c") * d("c") - d("c")).alias("ties"),
    )
    u = s.select(
        "n_a", "n_b", "r2_a", "ties",
        (F.col("n_a") + F.col("n_b")).alias("nt"),
        (F.col("r2_a") - (d("n_a") * (d("n_a") + 1))).cast("bigint").alias("u2"),
    )
    ntd = F.col("nt").cast("double")
    sigma2x4 = (
        F.col("n_a").cast("double") * F.col("n_b") / 12.0
        * ((F.col("nt") + 1) - F.col("ties").cast("double") / (ntd * (ntd - 1)))
    )
    z = (F.col("u2") - F.col("n_a") * F.col("n_b")).cast("double") / (
        2.0 * F.sqrt(sigma2x4)
    )
    return u.select(
        "n_a",
        "n_b",
        (F.col("u2").cast("double") / 2.0).alias("u_a"),
        F.round(F.col("r2_a").cast("double") / (2.0 * F.col("n_a")), 9).alias(
            "mean_rank_a"
        ),
        F.round(z, 9).alias("z_stat"),
        F.when(F.abs(z) > 1.959963984540054, 1).otherwise(0).cast("bigint").alias(
            "significant_95"
        ),
    )


# --- agg_anova: one-way ANOVA F across event types -----------------------------

# Completes the k-group rung of the stats family (agg_ttest compares 2
# means, dq_chi2 2 categoricals): does mean event value differ ACROSS the
# k event types? Exactness recipe: values floor-quantized to micro
# BIGINTs; group means taken as FLOOR-DIV integers (exact in both
# engines), and both sums of squares computed ABOUT those integer means —
# Sum((x - m_g)^2) and Sum(n_g*(m_g - m)^2) are then order-free exact
# DECIMAL(38,0) sums, differing from the textbook x-bar forms by < 1e-6
# absolute (documented, identical in both engines). The closing F sees
# exact operands; ROUND absorbs the decimal->double ulp. NOTE: decimal
# `div` in Spark routes through LONG (overflows silently for 38-digit
# operands — prototyped), so every floor-div here divides BIGINT-range
# values only.
_ANOVA_ORACLE = """
WITH ev AS (
  SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s1
  FROM ev GROUP BY event_type
),
gm AS (SELECT event_type, n, s1, s1 // n AS m FROM g),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s1) AS BIGINT) AS st,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM g
),
grand AS (SELECT nt, k, st // nt AS m0 FROM tot),
ssw AS (
  SELECT SUM(CAST((ev.v - gm.m) * (ev.v - gm.m) AS HUGEINT)) AS ssw_q
  FROM ev JOIN gm ON gm.event_type = ev.event_type
),
ssb AS (
  SELECT SUM(CAST(gm.n AS HUGEINT) * (gm.m - grand.m0) * (gm.m - grand.m0)) AS ssb_q
  FROM gm CROSS JOIN grand
)
SELECT grand.k, grand.nt AS n,
       ROUND(CAST(ssb.ssb_q AS DOUBLE) / 1e12, 3) AS ssb,
       ROUND(CAST(ssw.ssw_q AS DOUBLE) / 1e12, 3) AS ssw,
       ROUND((CAST(ssb.ssb_q AS DOUBLE) / (grand.k - 1))
             / (CAST(ssw.ssw_q AS DOUBLE) / (grand.nt - grand.k)), 6) AS f_stat,
       CAST(CASE WHEN (CAST(ssb.ssb_q AS DOUBLE) / (grand.k - 1))
                      / (CAST(ssw.ssw_q AS DOUBLE) / (grand.nt - grand.k))
                 > 2.372 THEN 1 ELSE 0 END AS BIGINT) AS significant_95
FROM ssb CROSS JOIN ssw CROSS JOIN grand
"""


@register("agg_anova", oracle=_ANOVA_ORACLE, tags=("agg", "stats"))
def agg_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the k event types: between/within sums of
    squares and the F statistic (95% verdict against the F(4, inf)
    critical value 2.372 — k is 5 by the fixture's event-type domain,
    documented beside agg_ttest's 1.96 literal). Sums of squares are
    exact integer accumulations about floor-div group means (see module
    comment) — deterministic under any partitioning.

    Scale shape: two passes over the fact — ONE collapse to (type, n,
    sum) cells, then the deviation pass with the k-row mean table
    broadcast back onto the scan; both aggregates are map-side
    combinable and the exchanges carry cells, not rows."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v")
    )
    g = scoped_persist(
        ev.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("s1"),
        )
    )
    gm = g.select("event_type", "n", "s1", F.expr("s1 div n").alias("m"))
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s1").cast("bigint").alias("st"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    grand = tot.select("nt", "k", F.expr("st div nt").alias("m0"))
    dev = F.col("v") - F.col("m")
    ssw = (
        ev.join(F.broadcast(gm), "event_type")
        .agg(F.sum((dev * dev).cast("decimal(38,0)")).alias("ssw_q"))
    )
    dd = F.col("m") - F.col("m0")
    ssb = gm.crossJoin(F.broadcast(grand)).agg(
        F.sum(F.col("n").cast("decimal(38,0)") * dd * dd).alias("ssb_q")
    )
    f_num = F.col("ssb_q").cast("double") / (F.col("k") - 1)
    f_den = F.col("ssw_q").cast("double") / (F.col("nt") - F.col("k"))
    return (
        ssb.crossJoin(ssw)
        .crossJoin(F.broadcast(grand))
        .select(
            "k",
            F.col("nt").alias("n"),
            F.round(F.col("ssb_q").cast("double") / 1e12, 3).alias("ssb"),
            F.round(F.col("ssw_q").cast("double") / 1e12, 3).alias("ssw"),
            F.round(f_num / f_den, 6).alias("f_stat"),
            F.when(f_num / f_den > 2.372, 1).otherwise(0).cast("bigint").alias(
                "significant_95"
            ),
        )
    )


# --- agg_kendall_tau: tie-aware Kendall rank correlation -----------------------

# Rank-correlation sibling of agg_spearman: does a brand that MOVES more
# units also BILL more? Kendall's tau-b over the 25-brand grain — the
# pair-counting form (concordant minus discordant over all brand pairs,
# tie-corrected) is the robust ordinal-association report when the grain
# is small and ties are real. The fact table collapses ONCE to exact
# per-brand integer totals (quantity and price both micro/cent-quantized
# BIGINT sums); the pair enumeration is a self-join of that 25-row cell
# table (300 pairs), so every comparison sees exact integers and the
# only double is tau-b's closing sqrt division, ROUND(9)ed.
_KENDALL_ORACLE = """
WITH cell AS (
  SELECT p.p_brand AS brand,
         SUM(CAST(floor(l.l_quantity * 100.0) AS BIGINT)) AS x,
         SUM(CAST(floor(l.l_extendedprice * 100.0) AS BIGINT)) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand
),
pairs AS (
  -- sign comparisons, never the diff PRODUCT: cent-scale per-brand sums
  -- reach ~1e12 at sf1, so (dx) * (dy) exceeds int64 and BOTH engines
  -- kill the job (caught by the round-8 full sf1 replay)
  SELECT CASE WHEN (a.x > b.x AND a.y > b.y) OR (a.x < b.x AND a.y < b.y)
              THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.x > b.x AND a.y < b.y) OR (a.x < b.x AND a.y > b.y)
              THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tie_x,
         CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS tie_y
  FROM cell a JOIN cell b ON a.brand < b.brand
),
m AS (
  SELECT CAST((SELECT COUNT(*) FROM cell) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(conc) AS BIGINT) AS c,
         CAST(SUM(disc) AS BIGINT) AS d,
         CAST(SUM(tie_x) AS BIGINT) AS tx,
         CAST(SUM(tie_y) AS BIGINT) AS ty
  FROM pairs
)
SELECT n, n0, c, d, tx, ty,
       ROUND(CAST(c - d AS DOUBLE)
             / sqrt(CAST((n0 - tx) AS DOUBLE) * CAST((n0 - ty) AS DOUBLE)), 9)
         AS tau_b
FROM m
"""


@register("agg_kendall_tau", oracle=_KENDALL_ORACLE, tags=("agg", "stats"))
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between per-brand unit volume and billed revenue:
    the tie-aware pair-counting rank correlation (concordant - discordant
    over sqrt of tie-corrected pair counts). Completes the rank-statistics
    family next to agg_spearman (rank moments) and agg_mannwhitney (rank
    sums).

    Scale shape: ONE fact collapse to the 25-row brand grain (map-side
    combinable exact integer sums; the part join shuffles fact rows only
    until that aggregate); the O(grain^2) pair self-join runs on 25 rows
    — 300 pairs — and is grain-bounded, never corpus-bounded, the same
    bounded-panel discipline as llm_rouge_n. The closing row is scalar
    arithmetic."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_quantity") * 100.0).cast("bigint").alias("xq"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("bigint").alias("yq"),
    )
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cell = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.sum("xq").alias("x"), F.sum("yq").alias("y"))
    )
    cell = scoped_persist(cell)
    a, b = cell.alias("a"), cell.alias("b")
    ax, bx = F.col("a.x"), F.col("b.x")
    ay, by = F.col("a.y"), F.col("b.y")
    # sign comparisons, never the diff product — see oracle comment
    # (int64 overflow at sf1 cent scale, ANSI job-kill)
    conc = ((ax > bx) & (ay > by)) | ((ax < bx) & (ay < by))
    disc = ((ax > bx) & (ay < by)) | ((ax < bx) & (ay > by))
    pairs = a.join(F.broadcast(b), F.col("a.brand") < F.col("b.brand")).select(
        F.when(conc, 1).otherwise(0).alias("conc"),
        F.when(disc, 1).otherwise(0).alias("disc"),
        F.when(ax == bx, 1).otherwise(0).alias("tie_x"),
        F.when(ay == by, 1).otherwise(0).alias("tie_y"),
    )
    n_cell = cell.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum("conc").cast("bigint").alias("c"),
        F.sum("disc").cast("bigint").alias("d"),
        F.sum("tie_x").cast("bigint").alias("tx"),
        F.sum("tie_y").cast("bigint").alias("ty"),
    ).crossJoin(F.broadcast(n_cell))
    return m.select(
        "n", "n0", "c", "d", "tx", "ty",
        F.round(
            (F.col("c") - F.col("d")).cast("double")
            / F.sqrt(
                (F.col("n0") - F.col("tx")).cast("double")
                * (F.col("n0") - F.col("ty")).cast("double")
            ),
            9,
        ).alias("tau_b"),
    )


# --- agg_theil: Theil T inequality index ---------------------------------------

# The decomposable inequality measure next to agg_gini's rank form: per
# nation, T = (1/n) * sum over suppliers of (x_i/mu) * ln(x_i/mu) on
# supplier revenue. The agg_entropy libm recipe: x_i is an exact cent
# BIGINT, mu = total/n is a division of exact BIGINTs (identical double
# in both engines), each supplier's term is floor-quantized to integer
# micro-nats BEFORE the cross-supplier sum (order-free on any
# partitioning), and only the final /n division is a closing double.
# Zero-revenue suppliers contribute 0 (the x*ln(x) -> 0 limit).
_THEIL_ORACLE = """
WITH rev AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey,
         CAST(SUM(CAST(floor(l.l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS x
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
),
tot AS (
  SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS total
  FROM rev GROUP BY nationkey
),
terms AS (
  -- negative revenue (credit lines) would hand ln a negative ratio:
  -- Spark log() returns NULL there but DuckDB ln() RAISES, so the index
  -- is defined over positive-revenue suppliers only (x <= 0 pins 0, the
  -- x*ln(x) -> 0 limit extended; n/total still count every supplier)
  SELECT r.nationkey, t.n, t.total,
         CASE WHEN r.x <= 0 THEN 0
              WHEN t.total <= 0 THEN NULL
              ELSE CAST(floor(
                (CAST(r.x AS DOUBLE) / (CAST(t.total AS DOUBLE) / t.n))
                * ln(CAST(r.x AS DOUBLE) / (CAST(t.total AS DOUBLE) / t.n))
                * 1000000.0) AS BIGINT)
         END AS term_micro
  FROM rev r JOIN tot t ON t.nationkey = r.nationkey
)
SELECT CAST(nationkey AS BIGINT) AS nationkey,
       MAX(n) AS n_suppliers,
       MAX(total) AS total_cents,
       ROUND(CAST(SUM(term_micro) AS DOUBLE) / 1000000.0 / MAX(n), 9) AS theil_t
FROM terms
GROUP BY nationkey
"""


@register("agg_theil", oracle=_THEIL_ORACLE, tags=("agg", "stats"))
def agg_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of supplier-revenue inequality per nation — the
    log-based, subgroup-decomposable complement to agg_gini's rank-based
    concentration. Exactness per the agg_entropy recipe (see oracle
    comment): ln on identical doubles, floor-quantized micro-nat terms,
    order-free integer sum.

    Scale shape: fact collapses ONCE to the (nation, supplier) revenue
    grain; the |nations|-row totals broadcast back onto that cell table;
    one more cell-grain aggregate closes. Nothing after the first
    collapse touches a lineitem row."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100.0).cast("bigint").alias("cents"),
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    rev = scoped_persist(rev)
    tot = rev.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("total"),
    )
    mu = F.col("total").cast("double") / F.col("n")
    ratio = F.col("x").cast("double") / mu
    terms = rev.join(F.broadcast(tot), "nationkey").select(
        "nationkey", "n", "total",
        F.when(F.col("x") <= 0, F.lit(0).cast("bigint"))
        .when(F.col("total") <= 0, F.lit(None).cast("bigint"))
        .otherwise(F.floor(ratio * F.log(ratio) * 1000000.0).cast("bigint"))
        .alias("term_micro"),
    )
    return terms.groupBy("nationkey").agg(
        F.max("n").alias("n_suppliers"),
        F.max("total").alias("total_cents"),
        F.round(
            F.sum("term_micro").cast("double") / 1000000.0 / F.max("n"), 9
        ).alias("theil_t"),
    ).select(
        F.col("nationkey").cast("bigint").alias("nationkey"),
        "n_suppliers", "total_cents", "theil_t",
    )


# --- agg_trimmed_mean: two-sided trimmed mean via value-grain ranks -------------

# The robust location estimate between mean and median: drop the lowest
# and highest 10% of observations (by count, two-sided) and average the
# rest. The distributed form never sorts rows: quantities collapse to
# the <= 50-cell VALUE grain per group, cumulative counts give each
# value's rank interval [cum - c, cum), and the kept weight per value is
# the exact integer interval intersection with [k, n - k) — partial
# inclusion at the trim boundaries falls out of the clamp arithmetic.
# All integers until one closing ROUND(9) division.
_TRIM_PCT_NUM, _TRIM_PCT_DEN = 1, 10  # trim 10% each side

_TRIMMED_MEAN_ORACLE = f"""
WITH cells AS (
  SELECT l_returnflag AS grp,
         CAST(floor(l_quantity * 100.0) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_returnflag, CAST(floor(l_quantity * 100.0) AS BIGINT)
),
ranked AS (
  SELECT grp, v, c,
         SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY grp) AS n
  FROM cells
),
kept AS (
  SELECT grp, v, n,
         greatest(least(cum, n - (n * {_TRIM_PCT_NUM}) // {_TRIM_PCT_DEN})
                  - greatest(cum - c, (n * {_TRIM_PCT_NUM}) // {_TRIM_PCT_DEN}),
                  0) AS keep_c
  FROM ranked
)
SELECT grp AS l_returnflag,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(SUM(keep_c) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(v * keep_c) AS DOUBLE) / SUM(keep_c) / 100.0, 9)
         AS trimmed_mean_qty
FROM kept
GROUP BY grp
"""


@register("agg_trimmed_mean", oracle=_TRIMMED_MEAN_ORACLE, tags=("agg", "stats"))
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean of l_quantity per return flag — the
    outlier-robust location estimate, computed without ever sorting
    rows: value-grain counts, exact rank intervals from a cumulative
    window over the <= 50-cell grain, and integer interval-intersection
    keep-weights (partial boundary inclusion included). One closing
    ROUND(9) division.

    Scale shape: ONE map-side collapse to the (flag, value) cell grain
    (bounded by the value domain, not row count — the agg_spearman
    grain discipline); every window rides that dimension-sized table.
    A continuous-valued column would first bucket to micro-units,
    bounding the grain at 10^6 cells per group."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_quantity") * 100.0).cast("bigint").alias("v"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wc = Window.partitionBy("grp").orderBy("v")
    wg = Window.partitionBy("grp")
    ranked = cells.select(
        "grp", "v", "c",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wg).alias("n"),
    )
    k = F.expr(f"(n * {_TRIM_PCT_NUM}) div {_TRIM_PCT_DEN}")
    keep = F.greatest(
        F.least(F.col("cum"), F.col("n") - k) - F.greatest(F.col("cum") - F.col("c"), k),
        F.lit(0).cast("bigint"),
    )
    kept = ranked.select("grp", "v", "n", keep.alias("keep_c"))
    return kept.groupBy("grp").agg(
        F.max("n").alias("n_rows"),
        F.sum("keep_c").cast("bigint").alias("n_kept"),
        F.round(
            F.sum(F.col("v") * F.col("keep_c")).cast("double")
            / F.sum("keep_c")
            / 100.0,
            9,
        ).alias("trimmed_mean_qty"),
    ).withColumnRenamed("grp", "l_returnflag")

# --- agg_cramers_v: effect size for categorical association --------------------

# dq_chi2 answers "are the two categoricals dependent?"; Cramér's V answers
# "HOW dependent?" on a 0..1 scale that is comparable across tables of any
# shape — the number a corpus audit actually thresholds on ("source and
# language are associated with V = 0.4, rebalance"). Same exact-integer
# contingency discipline as dq_chi2 (per-cell contributions FLOOR-quantized
# to micro-units, order-free BIGINT total); the closing
# V = sqrt(chi2 / (n * min(r-1, c-1))) is sqrt-of-identical-double — and
# IEEE 754 requires sqrt correctly rounded in BOTH engines (unlike pow/ln),
# so no quantization step is needed after it, just the display ROUND(9).
_CRAMERS_V_ORACLE = """
WITH obs AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS st,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
rt AS (SELECT pri, CAST(SUM(o) AS BIGINT) AS row_tot FROM obs GROUP BY pri),
ct AS (SELECT st, CAST(SUM(o) AS BIGINT) AS col_tot FROM obs GROUP BY st),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS total FROM obs),
contrib AS (
  SELECT CAST(floor(
           (CAST(obs.o AS DOUBLE) - CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.total)
           * (CAST(obs.o AS DOUBLE) - CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.total)
           / (CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.total)
           * 1000000.0) AS BIGINT) AS contrib_micro
  FROM obs JOIN rt ON rt.pri = obs.pri
           JOIN ct ON ct.st = obs.st
           CROSS JOIN n
),
dims AS (
  SELECT least((SELECT CAST(COUNT(*) AS BIGINT) FROM rt) - 1,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) - 1) AS mindim
)
SELECT n.total AS n_rows,
       (SELECT CAST(SUM(contrib_micro) AS BIGINT) FROM contrib) AS chi2_micro,
       d.mindim,
       CASE WHEN d.mindim = 0 THEN NULL
            ELSE ROUND(sqrt((CAST((SELECT SUM(contrib_micro) FROM contrib) AS DOUBLE)
                             / 1000000.0)
                       / (CAST(n.total AS DOUBLE) * d.mindim)), 9)
       END AS cramers_v
FROM n CROSS JOIN dims d
"""


@register("agg_cramers_v", oracle=_CRAMERS_V_ORACLE, tags=("agg", "stats"))
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between order priority and order
    status — the normalized 0..1 effect size on top of dq_chi2's raw
    statistic (same exact-contingency recipe; see oracle comment for why
    the closing sqrt needs no quantization: IEEE requires sqrt correctly
    rounded, unlike ln/pow).

    Scale shape: ONE map-side-combinable count collapse to the |priorities
    x statuses| cell grain (15 cells at any SF); margins, the micro-
    quantized order-free chi-squared sum, and the closing scalar all ride
    broadcast joins over that constant-size table. One fact scan total."""
    orders = table(spark, sf_dir, "orders")
    obs = scoped_persist(
        orders.groupBy(
            F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    rt = obs.groupBy("pri").agg(F.sum("o").cast("bigint").alias("row_tot"))
    ct = obs.groupBy("st").agg(F.sum("o").cast("bigint").alias("col_tot"))
    n = obs.agg(F.sum("o").cast("bigint").alias("total"))
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("total")
    od = F.col("o").cast("double")
    contrib = (
        obs.join(F.broadcast(rt), "pri")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(n))
        .select(
            F.floor((od - e) * (od - e) / e * 1000000.0)
            .cast("bigint")
            .alias("contrib_micro")
        )
    )
    chi2 = contrib.agg(F.sum("contrib_micro").cast("bigint").alias("chi2_micro"))
    dims = rt.agg((F.count(F.lit(1)) - 1).alias("r1")).crossJoin(
        ct.agg((F.count(F.lit(1)) - 1).alias("c1"))
    ).select(F.least("r1", "c1").cast("bigint").alias("mindim"))
    return (
        n.crossJoin(F.broadcast(chi2))
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("total").alias("n_rows"),
            "chi2_micro",
            "mindim",
            F.when(F.col("mindim") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.sqrt(
                        (F.col("chi2_micro").cast("double") / 1000000.0)
                        / (F.col("total").cast("double") * F.col("mindim"))
                    ),
                    9,
                )
            )
            .alias("cramers_v"),
        )
    )


# --- agg_mutual_info: mutual information between two categoricals --------------

# The information-theoretic companion to agg_cramers_v / dq_chi2: how many
# nats does knowing the ISO weekday give about the event type (weekly usage
# rhythm)? MI = sum_xy p(x,y) ln(p(x,y) / (p(x) p(y))). The exact cross-
# engine recipe (agg_entropy / agg_theil): the log argument collapses to
# the all-integer ratio (c * n) / (rx * cy) divided ONCE into an identical
# double, ln rides identical doubles, and each cell's c * ln(arg) term is
# FLOOR-quantized to micro-nats BEFORE the order-free BIGINT sum; only the
# closing /n division is a display double. Weekday is shipped as Spark
# weekday()+1 == DuckDB isodow() (the ts_calendar_profile parity trap).
# BIGINT range: c * n <= n^2 — safe through ~3e9 events (9e18), beyond
# which the ratio needs a pre-division rescale.
_MUTUAL_INFO_ORACLE = """
WITH obs AS (
  SELECT event_type AS et, CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, isodow(ts)
),
rt AS (SELECT et, CAST(SUM(c) AS BIGINT) AS rx FROM obs GROUP BY et),
ct AS (SELECT dow, CAST(SUM(c) AS BIGINT) AS cy FROM obs GROUP BY dow),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM obs),
terms AS (
  SELECT obs.et, obs.dow, obs.c,
         CAST(floor(CAST(obs.c AS DOUBLE)
              * ln(CAST(obs.c * n.total AS DOUBLE) / CAST(rt.rx * ct.cy AS DOUBLE))
              * 1000000.0) AS BIGINT) AS term_micro
  FROM obs JOIN rt ON rt.et = obs.et
           JOIN ct ON ct.dow = obs.dow
           CROSS JOIN n
)
SELECT t.et AS event_type, t.dow, t.c AS joint_count, t.term_micro,
       (SELECT CAST(SUM(term_micro) AS BIGINT) FROM terms) AS mi_micro_sum,
       ROUND(CAST((SELECT SUM(term_micro) FROM terms) AS DOUBLE)
             / 1000000.0 / n.total, 9) AS mutual_info_nats
FROM terms t CROSS JOIN n
"""


@register("agg_mutual_info", oracle=_MUTUAL_INFO_ORACLE, tags=("agg", "stats"))
def agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and ISO weekday — the
    weekly-rhythm dependence score beside agg_cramers_v's chi-square form.
    Exactness per the agg_entropy recipe: all-integer log argument divided
    once, ln on identical doubles, per-cell micro-nat floor quantization,
    order-free BIGINT sum (see oracle comment for the BIGINT range bound).

    Scale shape: ONE map-side collapse to the |types| x 7 cell grain;
    margins and the total broadcast back onto that constant-size table;
    the fact is scanned exactly once and no exchange after the collapse
    carries event-grain rows."""
    ev = table(spark, sf_dir, "events")
    obs = scoped_persist(
        ev.groupBy(
            F.col("event_type").alias("et"),
            (F.weekday("ts") + F.lit(1)).cast("bigint").alias("dow"),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rt = obs.groupBy("et").agg(F.sum("c").cast("bigint").alias("rx"))
    ct = obs.groupBy("dow").agg(F.sum("c").cast("bigint").alias("cy"))
    n = obs.agg(F.sum("c").cast("bigint").alias("total"))
    arg = (F.col("c") * F.col("total")).cast("double") / (
        F.col("rx") * F.col("cy")
    ).cast("double")
    terms = (
        obs.join(F.broadcast(rt), "et")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "et",
            "dow",
            "c",
            F.floor(F.col("c").cast("double") * F.log(arg) * 1000000.0)
            .cast("bigint")
            .alias("term_micro"),
        )
    )
    terms = scoped_persist(terms)
    tot = terms.agg(F.sum("term_micro").cast("bigint").alias("mi_micro_sum"))
    return (
        terms.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("et").alias("event_type"),
            "dow",
            F.col("c").alias("joint_count"),
            "term_micro",
            "mi_micro_sum",
            F.round(
                F.col("mi_micro_sum").cast("double") / 1000000.0 / F.col("total"), 9
            ).alias("mutual_info_nats"),
        )
    )


# --- agg_cohens_d: standardized mean difference between two cohorts ------------

# agg_ttest answers "is the quantity shift between returned and delivered
# lines statistically significant?"; Cohen's d answers "is it LARGE?" —
# the standardized effect size (m1 - m2) / s_pooled that survives any
# sample size. Moments are exact centi-unit BIGINTs (sum and sum-of-
# squares; ss <= 25e6 * rows keeps BIGINT headroom to ~3e11 rows); means
# and variances are identical-double arithmetic on those integers, and
# sqrt (IEEE correctly-rounded everywhere) closes the pooled SD with no
# quantization step. The centi scale cancels in d — no unit conversion.
_COHENS_D_ORACLE = """
WITH m AS (
  SELECT l_linestatus AS grp, l_returnflag AS flag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(l_quantity * 100.0) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(floor(l_quantity * 100.0) AS BIGINT)
                  * CAST(floor(l_quantity * 100.0) AS BIGINT)) AS BIGINT) AS ss
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
  GROUP BY l_linestatus, l_returnflag
),
sides AS (
  SELECT grp,
         MAX(CASE WHEN flag = 'R' THEN n END) AS n1,
         MAX(CASE WHEN flag = 'R' THEN s END) AS s1,
         MAX(CASE WHEN flag = 'R' THEN ss END) AS ss1,
         MAX(CASE WHEN flag = 'N' THEN n END) AS n2,
         MAX(CASE WHEN flag = 'N' THEN s END) AS s2,
         MAX(CASE WHEN flag = 'N' THEN ss END) AS ss2
  FROM m GROUP BY grp
),
pooled AS (
  -- greatest(., 0): with identical values the exact css is 0 but the
  -- double rounding of s*s/n can land a hair ABOVE ss, and DuckDB sqrt
  -- RAISES on negatives where Spark returns NaN; a zero pooled SD then
  -- pins NULL (DuckDB x/0.0 is NULL, Spark is Inf — agree by guarding)
  SELECT grp, n1, n2, s1, s2,
         greatest(CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1, 0)
           + greatest(CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2, 0)
           AS css
  FROM sides
  WHERE n1 IS NOT NULL AND n2 IS NOT NULL AND n1 + n2 > 2
)
SELECT grp AS l_linestatus, n1, n2,
       ROUND((CAST(s1 AS DOUBLE) / n1) / 100.0, 9) AS mean_returned,
       ROUND((CAST(s2 AS DOUBLE) / n2) / 100.0, 9) AS mean_delivered,
       CASE WHEN css = 0 THEN NULL
            ELSE ROUND(
              (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
              / sqrt(css / (n1 + n2 - 2)), 9)
       END AS cohens_d
FROM pooled
"""


@register("agg_cohens_d", oracle=_COHENS_D_ORACLE, tags=("agg", "stats"))
def agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size of l_quantity between returned
    ('R') and delivered ('N') lines, per line status — the magnitude
    companion to agg_ttest's significance test. Exact integer moments,
    identical-double closing algebra, IEEE sqrt (see oracle comment for
    the BIGINT sum-of-squares headroom bound).

    Scale shape: ONE map-side-combinable moment collapse to the
    |status x flag| grain (4 cells); the conditional pivot and the whole
    effect-size formula run on that constant-size table. One fact scan,
    one tiny exchange."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag").isin("R", "N"))
    centi = F.floor(F.col("l_quantity") * 100.0).cast("bigint")
    m = li.groupBy(
        F.col("l_linestatus").alias("grp"), F.col("l_returnflag").alias("flag")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(centi).cast("bigint").alias("s"),
        F.sum(centi * centi).cast("bigint").alias("ss"),
    )
    def side(col: str, flag: str, alias: str):
        return F.max(F.when(F.col("flag") == flag, F.col(col))).alias(alias)

    sides = m.groupBy("grp").agg(
        side("n", "R", "n1"), side("s", "R", "s1"), side("ss", "R", "ss1"),
        side("n", "N", "n2"), side("s", "N", "s2"), side("ss", "N", "ss2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    css1 = F.greatest(
        F.col("ss1").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"),
        F.lit(0.0),
    )
    css2 = F.greatest(
        F.col("ss2").cast("double") - F.col("s2").cast("double") * F.col("s2") / F.col("n2"),
        F.lit(0.0),
    )
    pooled = sides.filter(
        F.col("n1").isNotNull()
        & F.col("n2").isNotNull()
        & (F.col("n1") + F.col("n2") > 2)
    ).select("grp", "n1", "n2", "s1", "s2", (css1 + css2).alias("css"))
    sd = F.sqrt(F.col("css") / (F.col("n1") + F.col("n2") - 2))
    return pooled.select(
        F.col("grp").alias("l_linestatus"),
        "n1",
        "n2",
        F.round(m1 / 100.0, 9).alias("mean_returned"),
        F.round(m2 / 100.0, 9).alias("mean_delivered"),
        F.when(F.col("css") == 0, F.lit(None).cast("double"))
        .otherwise(F.round((m1 - m2) / sd, 9))
        .alias("cohens_d"),
    )


# --- agg_topn_other: rare-category collapse ("other" bucketing) -----------------

# The feature-engineering staple before any categorical encoding: keep
# categories holding at least 2% of rows, fold the long tail into one
# OTHER bucket, report counts and share. The threshold is an integer
# cross-multiply (n * 50 >= n_tot — never a double comparison, the
# dq_cardinality_trend discipline), so membership can't flip on a ulp;
# shares close with one ROUND(9) division each.
_TOPN_OTHER_DEN = 50  # keep categories with share >= 1/50 = 2%

_TOPN_OTHER_ORACLE = f"""
WITH c AS (
  SELECT p_type AS category, CAST(COUNT(*) AS BIGINT) AS n
  FROM part GROUP BY p_type
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM c),
folded AS (
  SELECT CASE WHEN c.n * {_TOPN_OTHER_DEN} >= t.n_tot THEN c.category
              ELSE 'OTHER' END AS category,
         c.n
  FROM c CROSS JOIN t
)
SELECT f.category,
       CAST(SUM(f.n) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_merged,
       ROUND(CAST(SUM(f.n) AS DOUBLE) / t.n_tot, 9) AS share
FROM folded f CROSS JOIN t
GROUP BY f.category, t.n_tot
"""


@register("agg_topn_other", oracle=_TOPN_OTHER_ORACLE, tags=("agg",))
def agg_topn_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category collapse: part types holding >= 2% of rows keep
    their name, the long tail folds into one OTHER bucket (with the
    count of merged categories) — the cardinality-control step before
    one-hot/target encoding. Integer cross-multiply threshold; see
    header for why no double comparison exists.

    Scale shape: ONE map-side collapse to the |categories| grain; the
    1-row total broadcasts back; the fold and re-aggregate ride the
    dimension-sized cell table. The fact is scanned once."""
    part = table(spark, sf_dir, "part")
    c = scoped_persist(
        part.groupBy(F.col("p_type").alias("category")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    t = c.agg(F.sum("n").cast("bigint").alias("n_tot"))
    folded = c.crossJoin(F.broadcast(t)).select(
        F.when(
            F.col("n") * _TOPN_OTHER_DEN >= F.col("n_tot"), F.col("category")
        )
        .otherwise(F.lit("OTHER"))
        .alias("category"),
        "n",
        "n_tot",
    )
    return folded.groupBy("category", "n_tot").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        F.round(F.sum("n").cast("double") / F.col("n_tot"), 9).alias("share"),
    ).select("category", "n", "n_merged", "share")


# --- agg_levene: Brown-Forsythe homogeneity-of-variance test ------------------

# The gatekeeper assumption check BEFORE agg_anova (equal variances) and
# the robust sibling of a plain variance ratio: Levene's W with the
# Brown-Forsythe median centering. The whole computation lives on the
# value-grain cell table — events.value has a bounded cents domain, so
# (event_type, cents) cells are O(domain), not O(rows), exactly the
# distributed-median shape agg_weighted_median/agg_spearman use. The
# group median is recovered from a cumulative-count window over cells in
# HALF-CENTS (2*median = lo + hi order stats, exact integers — no
# interpolated double ever exists), absolute deviations and their squares
# are integer arithmetic on cells, and W is row-local algebra on the
# k-row group table. ROUND(9) absorbs the final division ulp.
_LEVENE_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, cents, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM cells
),
med AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN cents END)
         + MIN(CASE WHEN cum >= n // 2 + 1 THEN cents END) AS med2
  FROM cum GROUP BY event_type
),
z AS (
  SELECT c.event_type, m.n,
         SUM(c.cnt * abs(2 * c.cents - m.med2)) AS sz,
         SUM(c.cnt * (2 * c.cents - m.med2) * (2 * c.cents - m.med2)) AS szz
  FROM cells c JOIN med m ON m.event_type = c.event_type
  GROUP BY c.event_type, m.n
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(sz) AS BIGINT) AS sz_all
  FROM z
),
parts AS (
  SELECT SUM(CAST(floor(CAST(z.n AS DOUBLE) / CAST(t.nn AS DOUBLE)
                  * (CAST(z.sz AS DOUBLE) / CAST(z.n AS DOUBLE)
                     - CAST(t.sz_all AS DOUBLE) / CAST(t.nn AS DOUBLE))
                  * (CAST(z.sz AS DOUBLE) / CAST(z.n AS DOUBLE)
                     - CAST(t.sz_all AS DOUBLE) / CAST(t.nn AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT)) AS between_nq,
         SUM(CAST(floor((CAST(z.szz AS DOUBLE)
                  - CAST(z.sz AS DOUBLE) * CAST(z.sz AS DOUBLE)
                    / CAST(z.n AS DOUBLE)) / CAST(t.nn AS DOUBLE)
                  * 1000000.0 + 0.5)
             AS BIGINT)) AS within_nq,
         MAX(t.nn) AS nn, MAX(t.k) AS k
  FROM z CROSS JOIN tot t
)
SELECT z.event_type, z.n,
       ROUND(CAST(z.sz AS DOUBLE) / CAST(z.n AS DOUBLE) / 200.0, 9)
         AS mean_abs_dev,
       ROUND((CAST(p.nn AS DOUBLE) - CAST(p.k AS DOUBLE))
             / nullif(CAST(p.k AS DOUBLE) - 1.0, 0.0)
             * CAST(p.between_nq AS DOUBLE)
             / nullif(CAST(p.within_nq AS DOUBLE), 0.0), 9)
         AS levene_w
FROM z CROSS JOIN parts p
"""


@register("agg_levene", oracle=_LEVENE_ORACLE, tags=("agg", "stats"))
def agg_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe Levene test (variance homogeneity across event
    types): per-group median absolute deviation and the shared W
    statistic. The reference computes no dispersion statistics at all
    (main.py aggregates are count/set only) — this is the north-star
    statistical family's assumption gate for agg_anova.

    Scale shape: the corpus collapses ONCE to (type, cents) cells —
    O(value domain), not O(rows); the median comes from a cumulative
    window over cells in exact half-cent integers (no interpolated
    double); deviations and squares are integer cell arithmetic; W is
    row-local algebra on the k-row table. The only corpus-sized exchange
    is the map-side-combined cell collapse. The between-group sum is
    evaluated on a k-row table (k = 5 types) after exact-integer inputs,
    so its double arithmetic is partition-count-independent."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = cells.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    med = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        (
            F.min(
                F.when(
                    F.col("cum") >= F.floor((F.col("n") + 1) / F.lit(2)),
                    F.col("cents"),
                )
            )
            + F.min(
                F.when(
                    F.col("cum") >= F.floor(F.col("n") / F.lit(2)) + 1,
                    F.col("cents"),
                )
            )
        ).alias("med2"),
    )
    # integer cell arithmetic against the broadcast k-row median table
    z = (
        cells.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(F.col("cnt") * F.abs(F.lit(2) * F.col("cents") - F.col("med2"))).alias("sz"),
            F.sum(
                F.col("cnt")
                * (F.lit(2) * F.col("cents") - F.col("med2"))
                * (F.lit(2) * F.col("cents") - F.col("med2"))
            ).alias("szz"),
        )
    )
    z = scoped_persist(z)
    tot = z.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("sz").cast("bigint").alias("sz_all"),
    )
    dev = F.col("sz").cast("double") / F.col("n").cast("double") - F.col(
        "sz_all"
    ).cast("double") / F.col("nn").cast("double")
    # Each between/within term is nn-NORMALIZED, then micro-quantized
    # (floor(x*1e6+0.5)) to an exact BIGINT BEFORE the sum, so the k-row
    # fold is combine-order-independent across engines and partitionings
    # (the agg_bayes_shrink pattern, ADVICE r9). The nn division makes
    # the quantized magnitude SCALE-INVARIANT (~dev^2*1e6 <= ~1e15 at any
    # SF — raw terms grow linearly with rows and overflowed FLOOR's
    # BIGINT output at sf1); nn cancels exactly in the between/within
    # ratio, so W is unchanged.
    parts = (
        z.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(
                    F.col("n").cast("double")
                    / F.col("nn").cast("double")
                    * dev
                    * dev
                    * F.lit(1000000.0)
                    + 0.5
                ).cast("bigint")
            ).alias("between_nq"),
            F.sum(
                F.floor(
                    (
                        F.col("szz").cast("double")
                        - F.col("sz").cast("double")
                        * F.col("sz").cast("double")
                        / F.col("n").cast("double")
                    )
                    / F.col("nn").cast("double")
                    * 1000000.0
                    + 0.5
                ).cast("bigint")
            ).alias("within_nq"),
            F.max("nn").alias("nn"),
            F.max("k").alias("k"),
        )
    )
    return z.crossJoin(F.broadcast(parts)).select(
        "event_type",
        "n",
        F.round(
            F.col("sz").cast("double") / F.col("n").cast("double") / F.lit(200.0), 9
        ).alias("mean_abs_dev"),
        # nullif-guard k=1 (single group) and zero within (all groups
        # deviation-free): NULL in both engines, never DIVIDE_BY_ZERO.
        F.round(
            (F.col("nn").cast("double") - F.col("k").cast("double"))
            / F.nullif(F.col("k").cast("double") - F.lit(1.0), F.lit(0.0))
            * F.col("between_nq").cast("double")
            / F.nullif(F.col("within_nq").cast("double"), F.lit(0.0)),
            9,
        ).alias("levene_w"),
    )


# --- agg_jackknife_ratio: leave-one-out SE of a ratio estimator ---------------

# The delete-one jackknife is the classical variance estimator for
# NONLINEAR statistics (a ratio of sums has no closed-form SE the way a
# mean does) — and it distributes perfectly: every leave-one-out ratio
# r_i = (S - x_i)/(T - y_i) needs only the GLOBAL sums S, T broadcast
# back onto the rows. Deviations are centered on the plug-in ratio and
# quantized to exact integers before the order-free sum, so the SE is
# partition-count-independent.
_JACKKNIFE_ORACLE = """
WITH rows_q AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5)
              AS BIGINT) AS rev_c,
         CAST(floor(l_quantity) AS BIGINT) AS qty
  FROM lineitem
),
g AS (
  SELECT l_returnflag, CAST(SUM(rev_c) AS BIGINT) AS s,
         CAST(SUM(qty) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n
  FROM rows_q GROUP BY l_returnflag
),
d AS (
  SELECT r.l_returnflag, g.s, g.t, g.n,
         CAST(floor((CAST(g.s - r.rev_c AS DOUBLE)
                       / CAST(nullif(g.t - r.qty, 0) AS DOUBLE)
                     - CAST(g.s AS DOUBLE) / CAST(g.t AS DOUBLE)) * 1000000.0
                    + 0.5) AS BIGINT) AS dq
  FROM rows_q r JOIN g ON g.l_returnflag = r.l_returnflag
)
SELECT l_returnflag, MAX(n) AS n,
       ROUND(CAST(MAX(s) AS DOUBLE) / CAST(MAX(t) AS DOUBLE) / 100.0, 9)
         AS ratio,
       ROUND(sqrt((CAST(MAX(n) AS DOUBLE) - 1.0) / CAST(MAX(n) AS DOUBLE)
                  * (CAST(SUM(CAST(dq AS DECIMAL(38,0)) * dq) AS DOUBLE)
                     - CAST(SUM(dq) AS DOUBLE) * CAST(SUM(dq) AS DOUBLE)
                       / CAST(MAX(n) AS DOUBLE)))
             / 100000000.0, 9) AS jackknife_se
FROM d GROUP BY l_returnflag
"""


@register("agg_jackknife_ratio", oracle=_JACKKNIFE_ORACLE, tags=("agg", "stats"))
def agg_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one jackknife standard error of revenue-per-unit (a ratio
    of sums) per return flag. Ratios have no closed-form SE; the
    jackknife is the textbook answer and the reference computes nothing
    like it (north-star statistical family).

    Scale shape: ONE aggregate produces the 3-row (S, T, n) cell table;
    it broadcasts back onto the fact rows so every leave-one-out ratio
    is row-local arithmetic; deviations from the plug-in ratio are
    quantized to exact integer micro-units, so the variance sum is
    order-free (DECIMAL(38,0) squares — no int64 overflow through
    sf100). Two corpus passes, zero corpus-keyed shuffles beyond the
    3-cell aggregate."""
    li = table(spark, sf_dir, "lineitem")
    rows_q = li.select(
        "l_returnflag",
        F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0
            + 0.5
        )
        .cast("bigint")
        .alias("rev_c"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    g = rows_q.groupBy("l_returnflag").agg(
        F.sum("rev_c").cast("bigint").alias("s"),
        F.sum("qty").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    d = rows_q.join(F.broadcast(g), "l_returnflag").select(
        "l_returnflag",
        "s",
        "t",
        "n",
        # nullif-guard the leave-one-out denominator: a row whose quantity
        # equals its group total (1-row or negative-qty group) makes t-qty
        # zero — ANSI Spark would throw DIVIDE_BY_ZERO where the oracle's
        # nullif yields NULL; NULL dq rows drop from both engines' sums
        # identically (ADVICE r9 zero-denominator class).
        F.floor(
            (
                (F.col("s") - F.col("rev_c")).cast("double")
                / F.nullif(
                    (F.col("t") - F.col("qty")).cast("double"), F.lit(0.0)
                )
                - F.col("s").cast("double") / F.col("t").cast("double")
            )
            * 1000000.0
            + 0.5
        )
        .cast("bigint")
        .alias("dq"),
    )
    return d.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        F.round(
            F.max("s").cast("double") / F.max("t").cast("double") / F.lit(100.0), 9
        ).alias("ratio"),
        F.round(
            F.sqrt(
                (F.max("n").cast("double") - F.lit(1.0))
                / F.max("n").cast("double")
                * (
                    F.sum(F.col("dq").cast("decimal(38,0)") * F.col("dq")).cast(
                        "double"
                    )
                    - F.sum("dq").cast("double")
                    * F.sum("dq").cast("double")
                    / F.max("n").cast("double")
                )
            )
            / F.lit(100000000.0),
            9,
        ).alias("jackknife_se"),
    )


# --- agg_bayes_shrink: empirical-Bayes shrinkage of group means ----------------

# Small groups get noisy means; the normal-normal posterior mean pulls each
# group toward the grand mean with weight tau2/(tau2 + s2w/n_i) — the
# standard leaderboard / per-category-rate smoother. tau2 is the plug-in
# moment estimate max(0, var_between - s2w/nbar). All inputs to the double
# algebra are exact integer sums (quantity is integral), the k-row
# between-group pass quantizes its cells to exact micro-units before
# summing, and the final algebra is row-local on the |brands| table.
_BAYES_ORACLE = """
WITH j AS (
  SELECT p.p_brand, CAST(floor(l.l_quantity) AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
g AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(qty) AS BIGINT) AS s,
         CAST(SUM(qty * qty) AS BIGINT) AS ss
  FROM j GROUP BY p_brand
),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS s_all,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(floor((CAST(ss AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS within_micro
  FROM g
),
b AS (
  SELECT CAST(SUM(CAST(floor((CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                              - CAST(t.s_all AS DOUBLE) / CAST(t.nn AS DOUBLE))
                             * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                                - CAST(t.s_all AS DOUBLE) / CAST(t.nn AS DOUBLE))
                             * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS between_micro,
         MAX(t.nn) AS nn, MAX(t.s_all) AS s_all, MAX(t.k) AS k,
         MAX(t.within_micro) AS within_micro
  FROM g CROSS JOIN t
)
SELECT g.p_brand, g.n,
       ROUND(CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE), 9) AS mean_qty,
       ROUND(greatest(0.0,
               CAST(b.between_micro AS DOUBLE) / 1000000.0
                 / (CAST(b.k AS DOUBLE) - 1.0)
               - (CAST(b.within_micro AS DOUBLE) / 1000000.0
                  / (CAST(b.nn AS DOUBLE) - CAST(b.k AS DOUBLE)))
                 / (CAST(b.nn AS DOUBLE) / CAST(b.k AS DOUBLE)))
             / (greatest(0.0,
                  CAST(b.between_micro AS DOUBLE) / 1000000.0
                    / (CAST(b.k AS DOUBLE) - 1.0)
                  - (CAST(b.within_micro AS DOUBLE) / 1000000.0
                     / (CAST(b.nn AS DOUBLE) - CAST(b.k AS DOUBLE)))
                    / (CAST(b.nn AS DOUBLE) / CAST(b.k AS DOUBLE)))
                + (CAST(b.within_micro AS DOUBLE) / 1000000.0
                   / (CAST(b.nn AS DOUBLE) - CAST(b.k AS DOUBLE)))
                  / CAST(g.n AS DOUBLE)), 9) AS shrink_w,
       ROUND(CAST(b.s_all AS DOUBLE) / CAST(b.nn AS DOUBLE)
             + greatest(0.0,
                 CAST(b.between_micro AS DOUBLE) / 1000000.0
                   / (CAST(b.k AS DOUBLE) - 1.0)
                 - (CAST(b.within_micro AS DOUBLE) / 1000000.0
                    / (CAST(b.nn AS DOUBLE) - CAST(b.k AS DOUBLE)))
                   / (CAST(b.nn AS DOUBLE) / CAST(b.k AS DOUBLE)))
               / (greatest(0.0,
                    CAST(b.between_micro AS DOUBLE) / 1000000.0
                      / (CAST(b.k AS DOUBLE) - 1.0)
                    - (CAST(b.within_micro AS DOUBLE) / 1000000.0
                       / (CAST(b.nn AS DOUBLE) - CAST(b.k AS DOUBLE)))
                      / (CAST(b.nn AS DOUBLE) / CAST(b.k AS DOUBLE)))
                  + (CAST(b.within_micro AS DOUBLE) / 1000000.0
                     / (CAST(b.nn AS DOUBLE) - CAST(b.k AS DOUBLE)))
                    / CAST(g.n AS DOUBLE))
               * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)
                  - CAST(b.s_all AS DOUBLE) / CAST(b.nn AS DOUBLE)), 9)
         AS shrunk_mean
FROM g CROSS JOIN b
"""


@register("agg_bayes_shrink", oracle=_BAYES_ORACLE, tags=("agg", "stats"))
def agg_bayes_shrink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (normal-normal) shrinkage of per-brand mean order
    quantity toward the grand mean — the smoothed-leaderboard aggregate
    that keeps a 40-row brand from outranking everyone on noise. The
    reference computes only raw counts (north-star statistical family).

    Scale shape: ONE broadcast dim join + ONE map-side-combined collapse
    to (brand, n, s, ss) integer cells; the grand/within/between moments
    are a second pass over the |brands| cell table with micro-quantized
    terms (order-free); shrinkage is row-local algebra on that same cell
    table. The fact is scanned once."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand", F.floor(F.col("l_quantity")).cast("bigint").alias("qty")
    )
    g = scoped_persist(
        j.groupBy("p_brand").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("qty").cast("bigint").alias("s"),
            F.sum(F.col("qty") * F.col("qty")).cast("bigint").alias("ss"),
        )
    )
    within_term = F.floor(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n").cast("double")
        )
        * 1000000.0
        + 0.5
    ).cast("bigint")
    t = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("s_all"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(within_term).cast("bigint").alias("within_micro"),
    )
    mdev = F.col("s").cast("double") / F.col("n").cast("double") - F.col(
        "s_all"
    ).cast("double") / F.col("nn").cast("double")
    b = (
        g.crossJoin(F.broadcast(t))
        .agg(
            F.sum(F.floor(mdev * mdev * 1000000.0 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("between_micro"),
            F.max("nn").alias("nn"),
            F.max("s_all").alias("s_all"),
            F.max("k").alias("k"),
            F.max("within_micro").alias("within_micro"),
        )
    )
    out = g.crossJoin(F.broadcast(b))
    s2w = (
        F.col("within_micro").cast("double")
        / 1000000.0
        / (F.col("nn").cast("double") - F.col("k").cast("double"))
    )
    var_b = F.col("between_micro").cast("double") / 1000000.0 / (
        F.col("k").cast("double") - 1.0
    )
    tau2 = F.greatest(
        F.lit(0.0),
        var_b - s2w / (F.col("nn").cast("double") / F.col("k").cast("double")),
    )
    w = tau2 / (tau2 + s2w / F.col("n").cast("double"))
    m_i = F.col("s").cast("double") / F.col("n").cast("double")
    m = F.col("s_all").cast("double") / F.col("nn").cast("double")
    return out.select(
        "p_brand",
        "n",
        F.round(m_i, 9).alias("mean_qty"),
        F.round(w, 9).alias("shrink_w"),
        F.round(m + w * (m_i - m), 9).alias("shrunk_mean"),
    )


# --- agg_circular_mean: directional statistics on time-of-day -----------------

# "What hour do users act?" is a CIRCULAR question — a plain mean of
# 23:30 and 00:30 says noon; the resultant-vector mean says midnight.
# Each event's time-of-day maps to an angle; sin/cos are rounded at 9
# (the f_trig libm guard) then quantized to exact nano-units so the
# resultant sums are order-free; atan2 / sqrt / ln run on identical
# exact-ratio doubles in both engines, ROUND(9) absorbing the final ulp.
_TWO_PI = "6.283185307179586"

_CIRC_ORACLE = f"""
WITH a AS (
  SELECT event_type,
         CAST(floor(ROUND(sin({_TWO_PI} * (CAST(hour(ts) * 3600
                 + minute(ts) * 60 + CAST(second(ts) AS BIGINT) AS DOUBLE)
                 / 86400.0)), 9) * 1000000000.0 + 0.5) AS BIGINT) AS s_nano,
         CAST(floor(ROUND(cos({_TWO_PI} * (CAST(hour(ts) * 3600
                 + minute(ts) * 60 + CAST(second(ts) AS BIGINT) AS DOUBLE)
                 / 86400.0)), 9) * 1000000000.0 + 0.5) AS BIGINT) AS c_nano
  FROM events
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(s_nano) AS BIGINT) AS ss, CAST(SUM(c_nano) AS BIGINT) AS sc
  FROM a GROUP BY event_type
)
SELECT event_type, n,
       ROUND((CASE WHEN atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) < 0.0
                   THEN atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) + {_TWO_PI}
                   ELSE atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) END)
             / {_TWO_PI} * 24.0, 9) AS mean_hour,
       ROUND(sqrt(CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                  + CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
             / 1000000000.0 / CAST(n AS DOUBLE), 9) AS resultant,
       ROUND(sqrt(-2.0 * ln(sqrt(CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                                 + CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
                            / 1000000000.0 / CAST(n AS DOUBLE)))
             / {_TWO_PI} * 24.0, 9) AS circ_std_hours
FROM g
"""


@register("agg_circular_mean", oracle=_CIRC_ORACLE, tags=("agg", "stats"))
def agg_circular_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) mean and dispersion of event time-of-day per
    type: resultant-vector statistics, the correct average for periodic
    quantities (hour-of-day, day-of-week, wind bearing). The reference
    averages nothing periodic; this serves the north-star events
    workload (peak-hour detection that doesn't break across midnight).

    Scale shape: sin/cos are row-local (rounded at 9 for the libm ulp,
    then quantized to exact nano-units), so the resultant reduces to ONE
    map-side-combined integer sum per type; atan2/sqrt/ln run on the
    k-row cell table."""
    ev = table(spark, sf_dir, "events")
    frac = (
        F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts").cast("bigint")
    ).cast("double") / 86400.0
    two_pi = float(_TWO_PI)
    a = ev.select(
        "event_type",
        F.floor(F.round(F.sin(F.lit(two_pi) * frac), 9) * 1000000000.0 + 0.5)
        .cast("bigint")
        .alias("s_nano"),
        F.floor(F.round(F.cos(F.lit(two_pi) * frac), 9) * 1000000000.0 + 0.5)
        .cast("bigint")
        .alias("c_nano"),
    )
    g = a.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s_nano").cast("bigint").alias("ss"),
        F.sum("c_nano").cast("bigint").alias("sc"),
    )
    ssd = F.col("ss").cast("double")
    scd = F.col("sc").cast("double")
    ang = F.atan2(ssd, scd)
    r = F.sqrt(ssd * ssd + scd * scd) / 1000000000.0 / F.col("n").cast("double")
    return g.select(
        "event_type",
        "n",
        F.round(
            F.when(ang < 0.0, ang + two_pi).otherwise(ang) / two_pi * 24.0, 9
        ).alias("mean_hour"),
        F.round(r, 9).alias("resultant"),
        F.round(F.sqrt(F.lit(-2.0) * F.log(r)) / two_pi * 24.0, 9).alias(
            "circ_std_hours"
        ),
    )


# --- agg_chao1: species-richness (unseen-vocabulary) estimator -----------------

# "How much vocabulary does this source have that we HAVEN'T crawled
# yet?" Chao1 estimates total richness from the observed distinct count
# plus the singleton/doubleton ratio; Good-Turing coverage says what
# fraction of the next token draw is already known. Both are exact
# integer/ratio arithmetic on frequency-of-frequency cells.
_CHAO1_ORACLE = """
WITH w AS (
  SELECT source, t AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
  WHERE t <> ''
  GROUP BY source, t
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS d_observed,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             + CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               * CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) - 1 AS DOUBLE)
               / (2.0 * (CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)
                              AS DOUBLE) + 1.0)), 9) AS chao1,
       ROUND(1.0 - CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(cnt) AS DOUBLE), 9) AS coverage
FROM w GROUP BY source
"""


@register("agg_chao1", oracle=_CHAO1_ORACLE, tags=("agg", "llm", "stats"))
def agg_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 unseen-vocabulary estimator + Good-Turing coverage per
    source — the crawl-planning aggregate: a source whose chao1 is far
    above its observed distinct count still has vocabulary to give;
    coverage near 1 says more crawling is repetition. The reference
    counts distinct city names with a Python set (main.py:216-217);
    this is the estimator family such counts feed at corpus scale.

    Scale shape: tokenize/explode is map-local; the (source, word)
    collapse is Heaps-law sub-linear in the corpus; the
    frequency-of-frequency reduction is a second map-side-combined
    aggregate on the vocabulary-grain table. Bias-corrected chao1
    (f2+1 denominator) stays finite when no doubletons exist."""
    docs = table(spark, sf_dir, "documents")
    w = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    f1 = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("bigint")
    f2 = F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).cast("bigint")
    d = F.count(F.lit(1)).cast("bigint")
    return w.groupBy("source").agg(
        d.alias("d_observed"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        f1.alias("f1"),
        f2.alias("f2"),
        F.round(
            d.cast("double")
            + f1.cast("double")
            * (f1 - 1).cast("double")
            / (F.lit(2.0) * (f2.cast("double") + 1.0)),
            9,
        ).alias("chao1"),
        F.round(
            F.lit(1.0) - f1.cast("double") / F.sum("cnt").cast("double"), 9
        ).alias("coverage"),
    )


# --- agg_bootstrap_ci: Poisson-bootstrap confidence interval -------------------

# THE distributed bootstrap: classical resampling needs the whole sample
# in one place; the Poisson bootstrap replaces "draw n with replacement"
# with an independent Poisson(1) weight per (row, replicate) — one
# streaming pass, map-side combinable, embarrassingly parallel. Weights
# come from a 56-bit md5 slice compared against exact INTEGER CDF
# thresholds (floor(CDF_k * 2^56)), so both engines draw bit-identical
# weights with no float in the sampler. B=32 replicates; the replicate
# means are exact integer ratios; their spread is quantized to exact
# nano-units before the order-free variance sum.
_BOOT_B = 32
_BOOT_THRESH = [
    26508507426831584,  # P(X=0)          = 1/e
    53017014853663168,  # P(X<=1)
    66271268567078960,  # P(X<=2)
    70689353138217560,  # P(X<=3)
    71793874281002208,  # P(X<=4)
    72014778509559136,  # P(X<=5); tail lumped into w=6
]
_BOOT_Z = "1.959963984540054"


def _boot_weight_case(h: str) -> str:
    branches = "".join(
        f" WHEN {h} < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH)
    )
    return f"CASE{branches} ELSE 6 END"


_BOOT_ORACLE = f"""
WITH x AS (
  SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty,
         b.b AS b,
         {_boot_weight_case(
             "CAST(('0x' || substring(md5('boot' || CAST(b.b AS VARCHAR) || '|'"
             " || CAST(l_orderkey AS VARCHAR) || ':'"
             " || CAST(l_linenumber AS VARCHAR)), 1, 14)) AS BIGINT)"
         )} AS w
  FROM lineitem CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b) b
),
reps AS (
  SELECT l_returnflag, b, CAST(SUM(w * qty) AS BIGINT) AS sw,
         CAST(SUM(w) AS BIGINT) AS nw
  FROM x GROUP BY l_returnflag, b
),
q AS (
  SELECT l_returnflag,
         CAST(floor(CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) * 1000000000.0
                    + 0.5) AS BIGINT) AS m_nano
  FROM reps
),
g AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_returnflag
),
se AS (
  SELECT l_returnflag,
         sqrt((CAST(SUM(CAST(m_nano AS DECIMAL(38,0)) * m_nano) AS DOUBLE)
               - CAST(SUM(m_nano) AS DOUBLE) * CAST(SUM(m_nano) AS DOUBLE)
                 / {_BOOT_B}.0) / ({_BOOT_B}.0 - 1.0)) / 1000000000.0 AS se
  FROM q GROUP BY l_returnflag
)
SELECT g.l_returnflag, g.n,
       ROUND(CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE), 9) AS mean_qty,
       ROUND(se.se, 9) AS boot_se,
       ROUND(CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) - {_BOOT_Z} * se.se, 9)
         AS ci_lo,
       ROUND(CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) + {_BOOT_Z} * se.se, 9)
         AS ci_hi
FROM g JOIN se ON se.l_returnflag = g.l_returnflag
"""


@register("agg_bootstrap_ci", oracle=_BOOT_ORACLE, tags=("agg", "stats"))
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for per-flag mean quantity — the bootstrap
    that actually runs on a 1000-executor cluster: instead of materializing
    B resamples, every row draws B independent Poisson(1) weights in a
    single streaming pass (Kleiner et al.'s scalable-bootstrap family).
    Weights are bit-exact across engines: a 56-bit md5 slice against
    integer CDF thresholds — no float sampler anywhere.

    Scale shape: the B-fold fan-out is map-LOCAL (explode feeding a
    map-side-combined partial agg); the only exchange carries B*k cells,
    not B*N rows. Replicate means are exact integer ratios; the SE
    variance runs on nano-quantized integers (DECIMAL(38,0) squares), so
    the interval is partition-count-independent."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.floor(F.col("l_quantity")).cast("bigint").alias("qty"),
        "l_returnflag",
    )
    # the B-fold explode turns every input row into B md5 evaluations — at
    # sf0.1 that is ~19M hashes, and the 3-split lineitem scan ran them on
    # 3 cores (profiled: one 18 s / 3-task stage was the whole query).
    # Spread the 4-column input first; the fan-out stays map-local.
    li = rebalance_for_map(li, spark)
    h = (
        "cast(conv(substring(md5(concat('boot', cast(b as string), '|', "
        "cast(l_orderkey as string), ':', cast(l_linenumber as string))), 1, 14), "
        "16, 10) as bigint)"
    )
    x = li.select(
        "l_returnflag",
        "qty",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "l_orderkey",
        "l_linenumber",
    ).select(
        "l_returnflag", "qty", "b", F.expr(_boot_weight_case(h)).alias("w")
    )
    reps = x.groupBy("l_returnflag", "b").agg(
        F.sum(F.col("w") * F.col("qty")).cast("bigint").alias("sw"),
        F.sum("w").cast("bigint").alias("nw"),
    )
    q = reps.select(
        "l_returnflag",
        F.floor(
            F.col("sw").cast("double") / F.col("nw").cast("double") * 1000000000.0
            + 0.5
        )
        .cast("bigint")
        .alias("m_nano"),
    )
    se = q.groupBy("l_returnflag").agg(
        (
            F.sqrt(
                (
                    F.sum(F.col("m_nano").cast("decimal(38,0)") * F.col("m_nano")).cast(
                        "double"
                    )
                    - F.sum("m_nano").cast("double")
                    * F.sum("m_nano").cast("double")
                    / F.lit(float(_BOOT_B))
                )
                / F.lit(float(_BOOT_B) - 1.0)
            )
            / 1000000000.0
        ).alias("se")
    )
    g = li.groupBy("l_returnflag").agg(
        F.sum("qty").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    z = float(_BOOT_Z)
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    return g.join(F.broadcast(se), "l_returnflag").select(
        "l_returnflag",
        "n",
        F.round(mean, 9).alias("mean_qty"),
        F.round(F.col("se"), 9).alias("boot_se"),
        F.round(mean - z * F.col("se"), 9).alias("ci_lo"),
        F.round(mean + z * F.col("se"), 9).alias("ci_hi"),
    )


# --- agg_tail_contrib: who drives the p99 tail ---------------------------------

# The incident-review aggregate: the global p99 threshold is one number,
# but the FIX needs to know which groups put rows above it. The
# threshold is an exact order statistic recovered from value-grain cells
# (cents domain — the agg_levene median machinery at the 99th), and each
# brand's tail contribution is integer counting against the broadcast
# threshold. No interpolated percentile double ever exists.
_TAIL_ORACLE = """
WITH cells AS (
  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT cents, SUM(cnt) OVER (ORDER BY cents) AS c,
         SUM(cnt) OVER () AS n
  FROM cells
),
thr AS (
  SELECT CAST(MIN(CASE WHEN c >= (99 * n + 99) // 100 THEN cents END)
              AS BIGINT) AS t,
         CAST(MAX(n) AS BIGINT) AS n
  FROM cum
),
j AS (
  SELECT p.p_brand,
         CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
g AS (
  SELECT j.p_brand,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN j.cents > t.t THEN 1 ELSE 0 END) AS BIGINT)
           AS tail_rows,
         MAX(t.t) AS t, MAX(t.n) AS n_all
  FROM j CROSS JOIN thr t
  GROUP BY j.p_brand
),
tot AS (SELECT CAST(SUM(tail_rows) AS BIGINT) AS tail_all FROM g)
SELECT g.p_brand, g.n_rows, g.tail_rows,
       ROUND(CAST(g.t AS DOUBLE) / 100.0, 9) AS p99_threshold,
       ROUND(CAST(g.tail_rows AS DOUBLE) / CAST(g.n_rows AS DOUBLE), 9)
         AS tail_rate,
       ROUND(CAST(g.tail_rows AS DOUBLE) / CAST(t.tail_all AS DOUBLE), 9)
         AS share_of_tail
FROM g CROSS JOIN tot t
WHERE g.tail_rows > 0
"""


@register("agg_tail_contrib", oracle=_TAIL_ORACLE, tags=("agg", "stats"))
def agg_tail_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-contribution analysis: which brands put rows above the global
    p99 of extended price, each brand's tail rate, and its share of the
    whole tail — the "who drives the p99" breakdown every latency/spend
    incident review starts with.

    Scale shape: the p99 is an EXACT order statistic from value-grain
    (cents) cells; the price grain is corpus-sized-ish (millions of
    distinct cents), so the cumulative scan is the DISTRIBUTED
    two-level prefix (the agg_spearman/win_skyline pattern: range
    partition on cents, rid-local running sums — persisted so both
    consumers see one boundary sample — then a prior-sum over the
    8-row per-range totals); the 1-row threshold broadcasts into a
    second map-side-combined counting pass per brand. No
    single-partition window ever sees the value grain."""
    li = table(spark, sf_dir, "lineitem")
    cents_col = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
    cells = li.groupBy(cents_col.alias("cents")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    ranged = scoped_persist(
        cells.repartitionByRange(_SPEARMAN_RANGES, "cents").withColumn(
            "rid", F.spark_partition_id()
        )
    )
    w_local = (
        Window.partitionBy("rid")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("lcum", F.sum("cnt").over(w_local))
    rtot = ranged.groupBy("rid").agg(F.sum("cnt").alias("rtot"))
    w_prior = Window.orderBy("rid").rowsBetween(Window.unboundedPreceding, -1)
    prior = rtot.select(
        "rid", F.sum("rtot").over(w_prior).alias("prior")
    )
    n_tot = ranged.agg(F.sum("cnt").cast("bigint").alias("n"))
    cum = (
        local.join(F.broadcast(prior), "rid")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "cents",
            (F.col("lcum") + F.coalesce(F.col("prior"), F.lit(0))).alias("c"),
            "n",
        )
    )
    thr = cum.agg(
        F.min(
            F.when(
                F.col("c") >= F.floor((99 * F.col("n") + 99) / 100),
                F.col("cents"),
            )
        )
        .cast("bigint")
        .alias("t"),
        F.max("n").cast("bigint").alias("n_all"),
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand", cents_col.alias("cents")
    )
    g = (
        j.crossJoin(F.broadcast(thr))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("cents") > F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("tail_rows"),
            F.max("t").alias("t"),
        )
    )
    g = scoped_persist(g)
    tot = g.agg(F.sum("tail_rows").cast("bigint").alias("tail_all"))
    return (
        g.crossJoin(F.broadcast(tot))
        .filter(F.col("tail_rows") > 0)
        .select(
            "p_brand",
            "n_rows",
            "tail_rows",
            F.round(F.col("t").cast("double") / 100.0, 9).alias("p99_threshold"),
            F.round(
                F.col("tail_rows").cast("double") / F.col("n_rows").cast("double"),
                9,
            ).alias("tail_rate"),
            F.round(
                F.col("tail_rows").cast("double")
                / F.col("tail_all").cast("double"),
                9,
            ).alias("share_of_tail"),
        )
    )


# --- agg_hodges_lehmann: robust pairwise-median location estimator -------------

# The Hodges-Lehmann estimator (median of all Walsh averages
# (x_i + x_j)/2, i <= j) is the location estimate behind the Wilcoxon
# signed-rank test: 29% breakdown like the median, but ~95% Gaussian
# efficiency vs the median's 64%. Naive form is O(n^2) pairs; over an
# integral bounded domain (l_quantity in 1..50) it collapses to the
# DOMAIN-cell grain: one count per (flag, qty) cell, D(D+1)/2 <= 1275
# weighted pair cells per group — constant in corpus size. Pair sums
# are exact integers (qty_a + qty_b), pair weights are exact products
# of cell counts (within-cell pairs: c*(c+1)/2, including i=j Walsh
# pairs), and the weighted median is recovered from a cumulative window
# over pair cells in HALF-UNITS (lo+hi order stats — no interpolated
# double), the agg_levene median recipe.
_HODGES_LEHMANN_ORACLE = """
WITH cells AS (
  SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS q,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
pairs AS (
  SELECT a.l_returnflag, a.q + b.q AS s2,
         CASE WHEN a.q = b.q THEN a.c * (a.c + 1) // 2
              ELSE a.c * b.c END AS w
  FROM cells a JOIN cells b
    ON b.l_returnflag = a.l_returnflag AND b.q >= a.q
),
grp AS (
  SELECT l_returnflag, s2, CAST(SUM(w) AS BIGINT) AS w
  FROM pairs GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, s2, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY s2) AS cw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS m
  FROM grp
)
SELECT l_returnflag, CAST(MAX(m) AS BIGINT) AS n_pairs,
       ROUND(CAST(MIN(CASE WHEN cw >= (m + 1) // 2 THEN s2 END)
                  + MIN(CASE WHEN cw >= m // 2 + 1 THEN s2 END)
              AS DOUBLE) / 4.0, 9) AS hodges_lehmann
FROM cum GROUP BY l_returnflag
"""


@register("agg_hodges_lehmann", oracle=_HODGES_LEHMANN_ORACLE, tags=("agg", "stats"))
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudomedian of l_quantity per return flag: the
    median of all Walsh averages (x_i + x_j)/2 over i <= j — the robust
    location estimator dual to the Wilcoxon signed-rank test (the
    reference has no robust statistics at all; north-star family).

    Scale shape: the corpus collapses ONCE (map-side combined) to the
    (flag, qty) cell grain — l_quantity is integral in a bounded domain,
    so <= 50 cells per flag and <= 1275 weighted pair cells after the
    cell self-join, CONSTANT in corpus size. Pair sums and weights are
    exact integers; the weighted median rides a cumulative window over
    the bounded pair table in half-unit integers (lo+hi order stats, no
    interpolated double until the final /4.0 under ROUND(9))."""
    li = table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        "l_returnflag",
        F.floor("l_quantity").cast("bigint").alias("q"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cells = scoped_persist(cells)
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        b,
        (F.col("b.l_returnflag") == F.col("a.l_returnflag"))
        & (F.col("b.q") >= F.col("a.q")),
    ).select(
        F.col("a.l_returnflag").alias("l_returnflag"),
        (F.col("a.q") + F.col("b.q")).alias("s2"),
        F.when(
            F.col("a.q") == F.col("b.q"),
            F.expr("a.c * (a.c + 1) div 2"),
        )
        .otherwise(F.col("a.c") * F.col("b.c"))
        .alias("w"),
    )
    grp = pairs.groupBy("l_returnflag", "s2").agg(
        F.sum("w").cast("bigint").alias("w")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("s2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = grp.select(
        "l_returnflag",
        "s2",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("m"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.max("m").cast("bigint").alias("n_pairs"),
        F.round(
            (
                F.min(
                    F.when(
                        F.col("cw") >= F.floor((F.col("m") + 1) / 2), F.col("s2")
                    )
                )
                + F.min(
                    F.when(
                        F.col("cw") >= F.floor(F.col("m") / 2) + 1, F.col("s2")
                    )
                )
            ).cast("double")
            / F.lit(4.0),
            9,
        ).alias("hodges_lehmann"),
    )


# --- agg_basket_pairs: market-basket association rules --------------------------

# Co-occurrence mining over order baskets — the association-rule core
# (support / confidence / lift) that powers recommender candidates and
# is the relational twin of llm_pmi_collocations (token windows ->
# order baskets). Baskets are DISTINCT (order, brand) memberships, so a
# 7-line order with 3 brands contributes 3 membership rows and C(3,2)
# ordered pairs; the brand vocabulary is bounded (25), so the pair
# table is <= 300 rows regardless of corpus size. Confidence and lift
# divide exact BIGINT counts (ROUND(9)).
_BASKET_PAIRS_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM baskets),
item AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS supp FROM baskets GROUP BY 1
),
pair AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS pair_supp
  FROM baskets a JOIN baskets b
    ON b.l_orderkey = a.l_orderkey AND b.p_brand > a.p_brand
  GROUP BY 1, 2
)
SELECT p.brand_a, p.brand_b, p.pair_supp,
       ia.supp AS supp_a, ib.supp AS supp_b,
       ROUND(CAST(p.pair_supp AS DOUBLE) / CAST(ia.supp AS DOUBLE), 9)
         AS confidence,
       ROUND(CAST(p.pair_supp AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
             / (CAST(ia.supp AS DOUBLE) * CAST(ib.supp AS DOUBLE)), 9)
         AS lift
FROM pair p
JOIN item ia ON ia.p_brand = p.brand_a
JOIN item ib ON ib.p_brand = p.brand_b
CROSS JOIN n
"""


@register("agg_basket_pairs", oracle=_BASKET_PAIRS_ORACLE, tags=("agg", "mining"))
def agg_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for every brand pair
    co-purchased in an order, support, per-antecedent confidence, and
    lift — the market-basket mining primitive (the reference computes
    no co-occurrence analytics; llm_pmi_collocations is this operator's
    token-domain sibling).

    Scale shape: the brand dim broadcasts into the membership build;
    each order collapses to ONE sorted distinct-brand array in a single
    map-side-combined order-keyed exchange — the ONLY corpus-sized
    shuffle in the plan (a membership self-join would re-exchange both
    aliased sides; the array form generates the same C(k,2) pairs
    MAP-LOCALLY). Arrays are bounded by the 25-brand domain; pair/item
    supports collapse to the <= |brands|^2 = 625-cell grain and the
    25-row item-support table broadcasts back onto pairs.
    Confidence/lift divide exact BIGINTs."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    baskets = scoped_persist(baskets)
    n = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    item = (
        baskets.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("supp"))
    )
    pair = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, (x, i) ->"
                    " transform(slice(brands, i + 2, size(brands)),"
                    " y -> struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("p")
        )
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_supp"))
    )
    ia = item.select(
        F.col("p_brand").alias("brand_a"), F.col("supp").alias("supp_a")
    )
    ib = item.select(
        F.col("p_brand").alias("brand_b"), F.col("supp").alias("supp_b")
    )
    return (
        pair.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "pair_supp",
            "supp_a",
            "supp_b",
            F.round(
                F.col("pair_supp").cast("double") / F.col("supp_a").cast("double"),
                9,
            ).alias("confidence"),
            F.round(
                F.col("pair_supp").cast("double")
                * F.col("n_orders").cast("double")
                / (F.col("supp_a").cast("double") * F.col("supp_b").cast("double")),
                9,
            ).alias("lift"),
        )
    )


# --- agg_ols2: closed-form two-regressor OLS per group --------------------------

# Multiple linear regression is the workhorse diagnostic a pipeline runs
# over every metric pair ("is price explained by quantity AND discount?"),
# one step past ts_trend_slope's single regressor. The 2x2 normal system
# has a CLOSED Cramer's-rule solve, so the distributed work is exactly
# nine map-side-combinable sums per group — no iteration, no matrix
# library, one exchange carrying 25 partial-sum rows per partition.
# Exactness: quantity is integral and discount/price collapse to exact
# cent units, so every sum is an exact integer (DECIMAL(38,0) — the
# product sums grow ~rows x 1e14 and overflow BIGINT near the petabyte
# decade, the agg_levene lesson applied in advance). The n-scaled
# centered moments (n*Sxy - Sx*Sy) cancel their n^2 factors in the beta
# ratios, so doubles appear only in the final Cramer division — one
# identical IEEE op tree in both engines, det nullif-guarded.
_OLS2_ORACLE = """
WITH u AS (
  SELECT p.p_brand,
         CAST(floor(l.l_quantity) AS BIGINT)                    AS q,
         CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)        AS d,
         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)   AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
s AS (
  SELECT p_brand,
         CAST(COUNT(*) AS DECIMAL(38,0))                 AS n,
         CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0))     AS sx1,
         CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DECIMAL(38,0))     AS sx2,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0))     AS sy,
         CAST(SUM(CAST(q*q AS DECIMAL(38,0))) AS DECIMAL(38,0))   AS sx11,
         CAST(SUM(CAST(q*d AS DECIMAL(38,0))) AS DECIMAL(38,0))   AS sx12,
         CAST(SUM(CAST(d*d AS DECIMAL(38,0))) AS DECIMAL(38,0))   AS sx22,
         CAST(SUM(CAST(q*y AS DECIMAL(38,0))) AS DECIMAL(38,0))   AS sx1y,
         CAST(SUM(CAST(d*y AS DECIMAL(38,0))) AS DECIMAL(38,0))   AS sx2y,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
              AS DECIMAL(38,0))                                   AS syy
  FROM u GROUP BY p_brand
),
m AS (
  SELECT p_brand, CAST(n AS BIGINT) AS n_rows,
         CAST(n*sx11 - sx1*sx1 AS DOUBLE) AS a11,
         CAST(n*sx12 - sx1*sx2 AS DOUBLE) AS a12,
         CAST(n*sx22 - sx2*sx2 AS DOUBLE) AS a22,
         CAST(n*sx1y - sx1*sy  AS DOUBLE) AS a1y,
         CAST(n*sx2y - sx2*sy  AS DOUBLE) AS a2y,
         CAST(n*syy  - sy*sy   AS DOUBLE) AS ayy,
         CAST(sx1 AS DOUBLE) AS dx1, CAST(sx2 AS DOUBLE) AS dx2,
         CAST(sy AS DOUBLE) AS dy, CAST(n AS DOUBLE) AS dn
  FROM s
),
b AS (
  SELECT p_brand, n_rows,
         (a22*a1y - a12*a2y) / nullif(a11*a22 - a12*a12, 0.0) AS b1c,
         (a11*a2y - a12*a1y) / nullif(a11*a22 - a12*a12, 0.0) AS b2c,
         a1y, a2y, ayy, dx1, dx2, dy, dn
  FROM m
)
SELECT p_brand, n_rows,
       ROUND(b1c / 100.0, 9)                                  AS beta_qty,
       ROUND(b2c, 9)                                          AS beta_discount,
       ROUND((dy - b1c*dx1 - b2c*dx2) / dn / 100.0, 9)        AS intercept,
       ROUND((b1c*a1y + b2c*a2y) / nullif(ayy, 0.0), 9)       AS r_squared
FROM b
"""


@register("agg_ols2", oracle=_OLS2_ORACLE, tags=("agg", "stats"))
def agg_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form two-regressor OLS per brand: extendedprice ~ quantity
    + discount, with R^2 — multivariate regression as a pure aggregate
    (the reference has no model fitting; north-star statistics family).

    Scale shape: the part dim broadcasts onto the lineitem scan; the
    entire fit is NINE map-side-combinable integer sums per brand (one
    exchange, 25 groups x partials). Values collapse to exact integer
    cent/unit grains first, the sums ride DECIMAL(38,0) (BIGINT product
    sums overflow near the petabyte decade), and the n-scaled centered
    moments cancel their n^2 factors inside the Cramer ratios — doubles
    enter only at the final division, the same IEEE op tree DuckDB runs,
    det and variance nullif-guarded."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    u = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        "p_brand",
        F.expr("cast(floor(l_quantity) as bigint)").alias("q"),
        F.expr("cast(floor(l_discount * 100 + 0.5) as bigint)").alias("d"),
        F.expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").alias("y"),
    )
    dec = "decimal(38,0)"
    s = u.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("q").cast(dec)).cast(dec).alias("sx1"),
        F.sum(F.col("d").cast(dec)).cast(dec).alias("sx2"),
        F.sum(F.col("y").cast(dec)).cast(dec).alias("sy"),
        F.sum((F.col("q") * F.col("q")).cast(dec)).cast(dec).alias("sx11"),
        F.sum((F.col("q") * F.col("d")).cast(dec)).cast(dec).alias("sx12"),
        F.sum((F.col("d") * F.col("d")).cast(dec)).cast(dec).alias("sx22"),
        F.sum((F.col("q") * F.col("y")).cast(dec)).cast(dec).alias("sx1y"),
        F.sum((F.col("d") * F.col("y")).cast(dec)).cast(dec).alias("sx2y"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).cast(dec).alias("syy"),
    )
    m = s.select(
        "p_brand",
        F.col("n").cast("bigint").alias("n_rows"),
        (F.col("n") * F.col("sx11") - F.col("sx1") * F.col("sx1"))
        .cast("double")
        .alias("a11"),
        (F.col("n") * F.col("sx12") - F.col("sx1") * F.col("sx2"))
        .cast("double")
        .alias("a12"),
        (F.col("n") * F.col("sx22") - F.col("sx2") * F.col("sx2"))
        .cast("double")
        .alias("a22"),
        (F.col("n") * F.col("sx1y") - F.col("sx1") * F.col("sy"))
        .cast("double")
        .alias("a1y"),
        (F.col("n") * F.col("sx2y") - F.col("sx2") * F.col("sy"))
        .cast("double")
        .alias("a2y"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("ayy"),
        F.col("sx1").cast("double").alias("dx1"),
        F.col("sx2").cast("double").alias("dx2"),
        F.col("sy").cast("double").alias("dy"),
        F.col("n").cast("double").alias("dn"),
    )
    det = F.nullif(F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12"), F.lit(0.0))
    b1c = (F.col("a22") * F.col("a1y") - F.col("a12") * F.col("a2y")) / det
    b2c = (F.col("a11") * F.col("a2y") - F.col("a12") * F.col("a1y")) / det
    return m.select(
        "p_brand",
        "n_rows",
        F.round(b1c / F.lit(100.0), 9).alias("beta_qty"),
        F.round(b2c, 9).alias("beta_discount"),
        F.round(
            (F.col("dy") - b1c * F.col("dx1") - b2c * F.col("dx2"))
            / F.col("dn")
            / F.lit(100.0),
            9,
        ).alias("intercept"),
        F.round(
            (b1c * F.col("a1y") + b2c * F.col("a2y"))
            / F.nullif(F.col("ayy"), F.lit(0.0)),
            9,
        ).alias("r_squared"),
    )
