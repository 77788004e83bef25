"""Data-quality operators: column profiling, rule audits, statistical
anomaly detection (SURVEY.md §2.L additions; Deequ-style, but pure
DataFrame algebra — no library dependency).

The reference validates nothing: a malformed OpenAQ payload flows straight
into the CSV (main.py:146-199 extracts with ``.get`` defaults and moves
on). A pipeline feeding 100 TB into training jobs needs the opposite
posture — cheap, always-on checks that run as ONE pass over the data and
produce a tiny report table. All three operators follow that shape:

- ``dq_profile``: per-column metrics (rows, nulls, distinct, min/max) for
  the hot lineitem columns, computed in a single aggregate pass and
  unpivoted to a long report. Distinct counts are exact (Expand-based
  multi-distinct); at 100 TB swap in approx_count_distinct — the sketch
  variant of the same plan (the accuracy-gate pattern of
  agg_approx_distinct shows how to keep that driver-checkable).
- ``dq_rules``: a rule catalog (range, positivity, referential integrity,
  key uniqueness, non-null) evaluated as aggregates; each rule emits one
  (rule, violations, passed) row. The referential check is a left-anti
  join on the fact's join key — broadcast at test scale, shuffle SMJ at
  100 TB, same plan either way.
- ``dq_anomaly``: per-group z-score outlier flags. Group mean/stddev come
  from fixed-point quantized integer/decimal sums (order-independent,
  map-side combinable — the llm_emb_centroid trick), broadcast-joined back
  to the stream; only outlier rows leave the executors.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import register
from ..session import scoped_persist
from ..tables import rebalance_for_map, table

# --- dq_profile ---------------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       COUNT(*) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_val,
       CAST(MAX({c}) AS DOUBLE) AS max_val
FROM lineitem"""
    for c in _PROFILE_COLS
)


@register("dq_profile", oracle=_PROFILE_ORACLE, tags=("quality", "agg"))
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the fact table's numeric columns: row
    count, null count, exact distinct count, min, max — then ``stack`` into
    a long (column_name, metrics) report. The whole profile is a single
    aggregate over one scan (multi-distinct plans as one Expand +
    aggregate); the report is 4 rows however large the input."""
    # one-row-group fixture scans are 1 task; spread before the heavy
    # per-row map work (profiled single-task stage; see OPTIMIZATION_r10.md)
    li = rebalance_for_map(
        table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS), spark
    )
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_rows, n_null, n_distinct, min_val, max_val)"
    )


# --- dq_rules -----------------------------------------------------------------

_RULES_ORACLE = """
SELECT 'lineitem_quantity_in_range' AS rule_name,
       CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT)
         AS violations
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_in_range',
       CAST(SUM(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders_totalprice_positive',
       CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_orderkey_references_orders',
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'customer_custkey_unique',
       COUNT(*) - COUNT(DISTINCT c_custkey)
FROM customer
UNION ALL
SELECT 'events_value_not_null',
       CAST(COUNT(*) - COUNT(value) AS BIGINT)
FROM events
"""

_RULES_FINAL_ORACLE = f"""
WITH r AS ({_RULES_ORACLE})
SELECT rule_name, violations,
       CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM r
"""


@register("dq_rules", oracle=_RULES_FINAL_ORACLE, tags=("quality", "agg", "join"))
def dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-rule audit: each rule emits ONE row
    (rule_name, violations, passed), with rules FUSED into one aggregate
    pass per table. All three lineitem rules (two range checks plus the
    referential-integrity check) share a single lineitem scan: lineitem
    left-joins the orders key column (dropDuplicates'd — an equality the
    oracle's NOT EXISTS also guarantees; key-only, so the join side is a
    one-column exchange, broadcast under AQE at test scale, SMJ at 100 TB)
    and one aggregate counts range violations and unmatched rows together,
    ``stack``ed into three report rows. orders/customer/events keep one
    map-side-combined aggregate each. Versus the naive rule-per-scan
    formulation this reads lineitem once instead of three times — at 100 TB
    the dominant cost is exactly those fact-table scans."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    ev = table(spark, sf_dir, "events")

    def rule(name: str, df: DataFrame, violations_col) -> DataFrame:
        return df.agg(violations_col.alias("violations")).select(
            F.lit(name).alias("rule_name"), "violations"
        )

    bad = lambda cond: F.sum(F.when(cond, 0).otherwise(1)).cast("long")  # noqa: E731
    od_keys = od.select(F.col("o_orderkey").alias("ok_key")).dropDuplicates(["ok_key"])
    li_joined = li.select("l_quantity", "l_discount", "l_orderkey").join(
        od_keys, F.col("l_orderkey") == F.col("ok_key"), "left"
    )
    li_rules = li_joined.agg(
        bad(F.col("l_quantity").between(1, 50)).alias("quantity_bad"),
        bad(F.col("l_discount").between(0, 1)).alias("discount_bad"),
        F.sum(F.when(F.col("ok_key").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("orphans"),
    ).selectExpr(
        "stack(3, 'lineitem_quantity_in_range', quantity_bad,"
        " 'lineitem_discount_in_range', discount_bad,"
        " 'lineitem_orderkey_references_orders', orphans)"
        " AS (rule_name, violations)"
    )
    frames = [
        li_rules,
        rule("orders_totalprice_positive", od, bad(F.col("o_totalprice") > 0)),
        rule(
            "customer_custkey_unique",
            cu,
            (F.count(F.lit(1)) - F.countDistinct("c_custkey")).cast("long"),
        ),
        rule("events_value_not_null", ev, (F.count(F.lit(1)) - F.count("value")).cast("long")),
    ]
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out.select(
        "rule_name",
        "violations",
        F.when(F.col("violations") == 0, F.lit(1)).otherwise(F.lit(0)).alias("passed"),
    )


# --- dq_anomaly ---------------------------------------------------------------

# Fixed-point stats: qv = floor(value * 1e6) as BIGINT; sums of qv (BIGINT)
# and qv^2 (DECIMAL(38,0) — qv^2 reaches ~2.4e17, times row count overflows
# int64) are exact and combine-order independent. mean/sigma then derive
# from the SAME double expressions in both engines, so the 3-sigma
# comparison is bit-identical.
#
# s2 exceeds 2^53, and the direct wide-integer->DOUBLE cast is NOT
# identically rounded across engines (Spark rounds through BigDecimal;
# DuckDB's decimal/hugeint path can differ in the last ulp — observed as
# 1-ulp sigma drift on ts_seasonal's sf1 replay before its integer-gate
# rewrite). Split s2 into two sub-2^53 limbs, cast each exactly, and
# recombine with one fp multiply-add — both engines then perform the
# identical single rounding. sm stays under 2^53, so its cast is exact.
_P53 = 9007199254740992  # 2^53

_S2_DBL_DUCK = (
    f"(CAST(CAST(CAST(s2 AS HUGEINT) // {_P53} AS BIGINT) AS DOUBLE) * {_P53}.0"
    f" + CAST(CAST(CAST(s2 AS HUGEINT) % {_P53} AS BIGINT) AS DOUBLE))"
)

_ANOMALY_ORACLE = f"""
WITH q AS (
  SELECT event_id, event_type, value,
         CAST(floor(value * 1000000.0) AS BIGINT) AS qv
  FROM events
),
s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(qv) AS BIGINT) AS sm,
         SUM(CAST(qv AS DECIMAL(38, 0)) * qv) AS s2
  FROM q GROUP BY event_type
),
m AS (
  SELECT event_type,
         CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) AS mean,
         sqrt({_S2_DBL_DUCK} / (CAST(n AS DOUBLE) * 1000000000000.0)
              - (CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0))
                * (CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0))) AS sigma
  FROM s
)
SELECT q.event_id, q.event_type, q.value,
       (q.value - m.mean) / m.sigma AS zscore
FROM q JOIN m ON q.event_type = m.event_type
WHERE abs(q.value - m.mean) > 3 * m.sigma
"""

_S2_DBL_SPARK = (
    f"(CAST(CAST(s2 div {_P53} AS BIGINT) AS DOUBLE) * {_P53}.0"
    f" + CAST(CAST(s2 % {_P53} AS BIGINT) AS DOUBLE))"
)
_MEAN_EXPR = "CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)"
_SIGMA_EXPR = (
    f"sqrt({_S2_DBL_SPARK} / (CAST(n AS DOUBLE) * 1000000000000.0)"
    f" - ({_MEAN_EXPR}) * ({_MEAN_EXPR}))"
)


@register("dq_anomaly", oracle=_ANOMALY_ORACLE, tags=("quality", "agg", "join"))
def dq_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|value - mean| > 3 sigma). Stats are
    ONE aggregate over fixed-point quantized sums (exact, order-independent,
    map-side combined — one 5-row exchange), broadcast back onto the
    stream, so the second scan emits only outliers. At 100 TB this is the
    standard two-pass screen: stats pass + filter pass, nothing wide."""
    q = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("qv"),
    )
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("sm"),
        F.sum(F.expr("CAST(qv AS DECIMAL(38,0)) * qv")).alias("s2"),
    )
    m = s.select(
        "event_type", F.expr(_MEAN_EXPR).alias("mean"), F.expr(_SIGMA_EXPR).alias("sigma")
    )
    return (
        q.join(F.broadcast(m), "event_type")
        .filter(F.abs(F.col("value") - F.col("mean")) > 3 * F.col("sigma"))
        .select(
            "event_id",
            "event_type",
            "value",
            ((F.col("value") - F.col("mean")) / F.col("sigma")).alias("zscore"),
        )
    )


# --- dq_freshness -------------------------------------------------------------

# fixed reference instant: freshness must be deterministic for the oracle, so
# "now" is pinned past the fixture's time range (TESTDATA.md: events span
# early 2024) rather than taken from the wall clock.
_AS_OF = "2024-03-01 00:00:00"
_FRESH_DAYS = 7

_FRESHNESS_ORACLE = f"""
SELECT event_type,
       MAX(ts) AS last_ts,
       COUNT(*) AS n_events,
       (epoch_us(TIMESTAMP '{_AS_OF}') - epoch_us(MAX(ts))) // 60000000
         AS staleness_min,
       CAST(CASE WHEN MAX(ts) >= TIMESTAMP '{_AS_OF}' - INTERVAL {_FRESH_DAYS} DAY
            THEN 1 ELSE 0 END AS INT) AS is_fresh
FROM events
GROUP BY event_type
"""


@register("dq_freshness", oracle=_FRESHNESS_ORACLE, tags=("quality", "agg"))
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness audit — the check the reference implicitly does
    with its 48-hour datetime_last cut (main.py:125-136) but never reports:
    for each event source, when did data last arrive and is it within SLA?
    One map-side-combinable hash aggregate (max/count), so the exchange
    carries one row per source regardless of input size; the report is the
    tiny table a scheduler alerts on. ``_AS_OF`` is a pinned instant so the
    result is deterministic (a production run would bind it to the job's
    logical date)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        # complete-minutes staleness via epoch INTEGER division (not
        # date_diff, which counts minute-boundary crossings in DuckDB but
        # complete minutes in Spark; not float floor, which can misround at
        # exact minute multiples) — bigint `div` is identical in both.
        F.expr(
            f"(unix_micros(to_timestamp('{_AS_OF}')) - unix_micros(to_timestamp(max(ts))))"
            " div 60000000"
        ).alias("staleness_min"),
        F.when(
            F.max("ts") >= F.expr(f"TIMESTAMP_NTZ '{_AS_OF}' - INTERVAL {_FRESH_DAYS} DAY"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_fresh"),
    )


# --- dq_drift: distribution drift between time windows ------------------------

# Chi-square drift of the value distribution: reference window (first half
# of the fixture month) vs current window, over a fixed literal bin grid
# (10 x 50-unit bins — data-derived bins would need an extra pass and make
# windows incomparable). Per-bin terms (cur - ref*scale)^2 / (ref*scale)
# are FIXED-POINT-quantized to BIGINT before summation: a plain double SUM
# over bins would depend on hash-agg combine order; integer sums are exact
# and commutative, so the statistic is bit-stable across engines and
# parallelism. Bins present now but absent in the reference can't enter a
# chi-square (division by zero expected count) — they are counted
# separately as n_new_bins, which is itself a strong drift signal.
_DRIFT_PIVOT = "2024-01-16 00:00:00"
_DRIFT_BINS = 10
_DRIFT_W = 50.0
_DRIFT_TAU_Q = 27_880_000_000  # chi2 > 27.88 = p<0.001 at 9 dof, in 1e-9 units

_DRIFT_ORACLE = f"""
WITH q AS (
  SELECT event_type,
         least({_DRIFT_BINS - 1}, CAST(floor(value / {_DRIFT_W}) AS INT)) AS bin,
         CASE WHEN ts < TIMESTAMP '{_DRIFT_PIVOT}' THEN 1 ELSE 0 END AS is_ref
  FROM events
),
cell AS (
  SELECT event_type, bin,
         CAST(SUM(is_ref) AS BIGINT) AS ref_cnt,
         CAST(SUM(1 - is_ref) AS BIGINT) AS cur_cnt
  FROM q GROUP BY event_type, bin
),
tot AS (
  SELECT event_type,
         CAST(SUM(ref_cnt) AS BIGINT) AS n_ref,
         CAST(SUM(cur_cnt) AS BIGINT) AS n_cur
  FROM cell GROUP BY event_type
),
term AS (
  SELECT c.event_type, t.n_ref, t.n_cur,
         CASE WHEN c.ref_cnt > 0 THEN
           CAST(floor(
             (CAST(c.cur_cnt AS DOUBLE)
              - CAST(c.ref_cnt AS DOUBLE) * (CAST(t.n_cur AS DOUBLE) / CAST(t.n_ref AS DOUBLE)))
             * (CAST(c.cur_cnt AS DOUBLE)
              - CAST(c.ref_cnt AS DOUBLE) * (CAST(t.n_cur AS DOUBLE) / CAST(t.n_ref AS DOUBLE)))
             / (CAST(c.ref_cnt AS DOUBLE) * (CAST(t.n_cur AS DOUBLE) / CAST(t.n_ref AS DOUBLE)))
             * 1000000000.0) AS BIGINT)
         ELSE 0 END AS term_q,
         CASE WHEN c.ref_cnt = 0 AND c.cur_cnt > 0 THEN 1 ELSE 0 END AS is_new
  FROM cell c JOIN tot t ON t.event_type = c.event_type
)
SELECT event_type, n_ref, n_cur,
       CAST(SUM(term_q) AS BIGINT) AS chi2_q,
       CAST(SUM(is_new) AS BIGINT) AS n_new_bins,
       CAST(CASE WHEN SUM(term_q) > {_DRIFT_TAU_Q} OR SUM(is_new) > 0
            THEN 1 ELSE 0 END AS INT) AS drifted
FROM term GROUP BY event_type, n_ref, n_cur
"""


@register("dq_drift", oracle=_DRIFT_ORACLE, tags=("quality", "agg"))
def dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: chi-square of the current window's value
    histogram against the reference window, per event source, over a fixed
    literal bin grid. ONE corpus scan produces the (source, bin, ref, cur)
    cells via conditional sums (map-side combined, ≤ sources×bins rows on
    the exchange); totals DERIVE from the cells; the statistic is assembled
    from fixed-point integer terms (see module comment) so the report is
    bit-stable anywhere. At 100 TB this is the daily drift gate in front
    of a training-data refresh: constant-size output, no second scan, and
    the same plan shape at any history length."""
    ev = table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.expr(
            f"least({_DRIFT_BINS - 1}, CAST(floor(value / {_DRIFT_W}) AS INT))"
        ).alias("bin"),
        F.expr(
            f"CASE WHEN ts < TIMESTAMP_NTZ '{_DRIFT_PIVOT}' THEN 1 ELSE 0 END"
        ).alias("is_ref"),
    )
    cell = q.groupBy("event_type", "bin").agg(
        F.sum("is_ref").cast("long").alias("ref_cnt"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("long").alias("cur_cnt"),
    )
    tot = cell.groupBy("event_type").agg(
        F.sum("ref_cnt").cast("long").alias("n_ref"),
        F.sum("cur_cnt").cast("long").alias("n_cur"),
    )
    scale = "(CAST(n_cur AS DOUBLE) / CAST(n_ref AS DOUBLE))"
    diff = f"(CAST(cur_cnt AS DOUBLE) - CAST(ref_cnt AS DOUBLE) * {scale})"
    term = cell.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "n_ref",
        "n_cur",
        F.expr(
            f"CASE WHEN ref_cnt > 0 THEN CAST(floor({diff} * {diff}"
            f" / (CAST(ref_cnt AS DOUBLE) * {scale}) * 1000000000.0) AS BIGINT)"
            " ELSE 0L END"
        ).alias("term_q"),
        F.expr("CASE WHEN ref_cnt = 0 AND cur_cnt > 0 THEN 1 ELSE 0 END").alias("is_new"),
    )
    return term.groupBy("event_type", "n_ref", "n_cur").agg(
        F.sum("term_q").cast("long").alias("chi2_q"),
        F.sum("is_new").cast("long").alias("n_new_bins"),
        F.expr(
            f"CAST(CASE WHEN SUM(term_q) > {_DRIFT_TAU_Q} OR SUM(is_new) > 0"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("drifted"),
    )


# --- dq_referential: foreign-key orphan audit across relations ---------------

# One summary row per declared FK edge. Orphan = child row whose FK value is
# non-null and absent from the parent key set. Reported as counts (the audit
# artifact you alert on), not as the orphan rows themselves — join_anti is
# the row-level retrieval twin.
_REFERENTIAL_ORACLE = """
SELECT 'lineitem->orders' AS fk_edge,
       COUNT(*) AS n_child,
       COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_orphans,
       COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END)
         AS n_orphan_keys
FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders->customer' AS fk_edge,
       COUNT(*) AS n_child,
       COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS n_orphans,
       COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL THEN od.o_custkey END)
         AS n_orphan_keys
FROM orders od LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON od.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem->part' AS fk_edge,
       COUNT(*) AS n_child,
       COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS n_orphans,
       COUNT(DISTINCT CASE WHEN p.p_partkey IS NULL THEN l.l_partkey END)
         AS n_orphan_keys
FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
  ON l.l_partkey = p.p_partkey
"""


def _fk_audit(child: DataFrame, ck: str, parent: DataFrame, pk: str, edge: str) -> DataFrame:
    keys = parent.select(F.col(pk).alias("__pk")).distinct()
    joined = child.select(F.col(ck).alias("__ck")).join(
        keys, F.col("__ck") == F.col("__pk"), "left"
    )
    return joined.agg(
        F.lit(edge).alias("fk_edge"),
        F.count(F.lit(1)).alias("n_child"),
        F.count(F.when(F.col("__pk").isNull(), 1)).alias("n_orphans"),
        F.countDistinct(F.when(F.col("__pk").isNull(), F.col("__ck"))).alias(
            "n_orphan_keys"
        ),
    )


@register("dq_referential", oracle=_REFERENTIAL_ORACLE, tags=("quality", "join", "agg"))
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: one row per FK edge with child row
    count, orphan row count, and distinct orphan keys. Each edge is a left
    join against the DISTINCT parent key projection — at 100 TB the parent
    side collapses to its key column (a few GB even for billion-row dims),
    which AQE broadcasts, so the audit costs one fact-scan per edge and no
    fact-side shuffle. The three single-row aggregates union at the end —
    the plan is three independent subtrees a scheduler runs concurrently.
    Count-if via count(CASE/FILTER) keeps both engines on one pass."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    pa = table(spark, sf_dir, "part")
    return (
        _fk_audit(li, "l_orderkey", od, "o_orderkey", "lineitem->orders")
        .unionByName(_fk_audit(od, "o_custkey", cu, "c_custkey", "orders->customer"))
        .unionByName(_fk_audit(li, "l_partkey", pa, "p_partkey", "lineitem->part"))
    )


# --- obs_metrics: zero-extra-scan pipeline instrumentation -------------------

# The oracle recomputes the same four stage metrics the observations
# capture, as plain aggregates (two scans for DuckDB; the POINT of the
# Spark side is that it needs zero extra scans — the metrics ride the one
# pipeline pass).
_OBS_ORACLE = """
SELECT
  (SELECT COUNT(*) FROM lineitem
   WHERE l_shipdate >= DATE '1996-01-01') AS filtered_rows,
  (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(20, 4))) AS DOUBLE) FROM lineitem
   WHERE l_shipdate >= DATE '1996-01-01') AS filtered_qty,
  (SELECT COUNT(*) FROM lineitem JOIN part ON p_partkey = l_partkey
   WHERE l_shipdate >= DATE '1996-01-01' AND p_type = 'PROMO') AS joined_rows,
  (SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20, 4)))
          AS DOUBLE)
   FROM lineitem JOIN part ON p_partkey = l_partkey
   WHERE l_shipdate >= DATE '1996-01-01' AND p_type = 'PROMO') AS joined_revenue
"""


@register("obs_metrics", oracle=_OBS_ORACLE, tags=("quality", "observe"))
def obs_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline instrumentation via the Observation API (``df.observe``):
    per-stage row counts and value sums collected DURING the pipeline's
    own single pass — zero additional scans, zero additional shuffles.

    This is how a 100 TB job self-audits: re-running ``COUNT(*)`` probes
    after the fact (what the DuckDB oracle does, and what the reference
    effectively does by re-reading its own CSV, main.py:270-279) doubles
    the scan bill; observations are accumulator-style aggregates attached
    to plan nodes, so the filter stage and the join stage each report
    (rows, sum) for free as the data streams through. The pipeline output
    itself goes to the `noop` sink — the JVM-side /dev/null that executes
    the full plan without writing (the standard way to drive a
    measurement-only pass).

    The returned 1-row DataFrame is assembled from the two observation
    payloads — bounded driver state (8 scalars), same as every audit
    summary. DECIMAL sums keep the observed values exact, so they match
    the oracle's recomputation bit-for-bit after the one cast to double."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem")
    pa = table(spark, sf_dir, "part")
    obs_filter = Observation("filter_stage")
    obs_join = Observation("join_stage")

    filtered = li.filter(F.col("l_shipdate") >= F.lit("1996-01-01").cast("date")).observe(
        obs_filter,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_quantity").cast("decimal(20,4)")).alias("qty"),
    )
    joined = (
        filtered.join(
            F.broadcast(pa.filter(F.col("p_type") == "PROMO")),
            F.col("p_partkey") == F.col("l_partkey"),
        ).observe(
            obs_join,
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(20,4)"
                )
            ).alias("revenue"),
        )
    )
    joined.write.format("noop").mode("overwrite").save()

    fm, jm = obs_filter.get, obs_join.get
    row = [
        (
            int(fm["rows"]),
            float(fm["qty"]),
            int(jm["rows"]),
            float(jm["revenue"]),
        )
    ]
    return spark.createDataFrame(
        row, "filtered_rows bigint, filtered_qty double, joined_rows bigint, joined_revenue double"
    )


# --- dq_null_matrix: sentinel-aware completeness matrix ----------------------

# The fixture parquet has no physical NULLs, so the matrix measures what a
# real intake sees AFTER sentinel normalization: value < 5 is a failed
# reading, user_id % 97 = 0 a scrubbed account; event_id is the all-valid
# control column. One scan, one aggregate: every (segment x column) cell
# is a FILTER count on the same hash-aggregate node, then the wide row
# unpivots to the long matrix AFTER aggregation (24 rows, not 30k).
_NULL_MATRIX_ORACLE = """
WITH staged AS (
  SELECT event_type,
         CASE WHEN value < 5.0 THEN NULL ELSE value END AS value,
         CASE WHEN user_id % 97 = 0 THEN NULL ELSE user_id END AS user_id,
         event_id
  FROM events
),
wide AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) FILTER (WHERE value IS NULL) AS BIGINT) AS null_value,
         CAST(COUNT(*) FILTER (WHERE user_id IS NULL) AS BIGINT) AS null_user_id,
         CAST(COUNT(*) FILTER (WHERE event_id IS NULL) AS BIGINT) AS null_event_id
  FROM staged GROUP BY event_type
)
SELECT event_type, col_name, n_rows, n_null,
       CAST(n_null AS DOUBLE) / CAST(n_rows AS DOUBLE) AS null_rate
FROM (
  SELECT event_type, 'value' AS col_name, n_rows, null_value AS n_null FROM wide
  UNION ALL
  SELECT event_type, 'user_id', n_rows, null_user_id FROM wide
  UNION ALL
  SELECT event_type, 'event_id', n_rows, null_event_id FROM wide
)
"""


@register("dq_null_matrix", oracle=_NULL_MATRIX_ORACLE, tags=("quality",))
def dq_null_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness matrix: null rate per (segment x column) after
    sentinel-to-NULL normalization — the intake dashboard behind every
    data contract (dq_profile summarizes columns globally; this crosses
    them with a segment dimension so a single broken producer shows up in
    its own row). ONE scan and ONE aggregate: each cell is a FILTER
    count on the shared hash-aggregate node (the per-column-subquery
    formulation scans once per column), and the wide->long unpivot runs
    on the aggregated rows (|segments| x |columns|), costing nothing.
    The control column (event_id, never null) pins the zero row."""
    ev = table(spark, sf_dir, "events")
    staged = ev.select(
        "event_type",
        F.when(F.col("value") < 5.0, None).otherwise(F.col("value")).alias("value"),
        F.when(F.col("user_id") % 97 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_id",
    )
    wide = staged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("COUNT(*) FILTER (WHERE value IS NULL)").alias("null_value"),
        F.expr("COUNT(*) FILTER (WHERE user_id IS NULL)").alias("null_user_id"),
        F.expr("COUNT(*) FILTER (WHERE event_id IS NULL)").alias("null_event_id"),
    )
    long = wide.unpivot(
        ["event_type", "n_rows"],
        ["null_value", "null_user_id", "null_event_id"],
        "col_tag",
        "n_null",
    )
    return long.select(
        "event_type",
        F.expr("substring(col_tag, 6)").alias("col_name"),
        "n_rows",
        "n_null",
        (F.col("n_null").cast("double") / F.col("n_rows").cast("double")).alias(
            "null_rate"
        ),
    )


# --- dq_reconciliation: cross-table totals audit -----------------------------

# Reconciles the order header total against the recomputed lineitem total
# per order — the financial-close control every warehouse runs between a
# summary table and its detail table. The fixture VIOLATES the invariant
# (synthetic totals are independent draws), which is exactly what the
# audit is for: every order lands in a drift bucket instead of a boolean
# pass. Money is FLOOR-quantized to integer 10^-4 units before summing
# (the repo's fixed-point rule): a double→DECIMAL cast rounds ties
# differently across engines (measured 5e-4 divergence over 15k orders),
# while FLOOR on identical doubles is exact and BIGINT sums are
# association-free.
_RECON_ORACLE = """
WITH s AS (
  SELECT l_orderkey,
         SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                        * 10000.0) AS BIGINT)) AS calc_fp
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderkey,
         CAST(FLOOR(o.o_totalprice * 10000.0) AS BIGINT) AS header_fp,
         s.calc_fp,
         abs(CAST(FLOOR(o.o_totalprice * 10000.0) AS BIGINT) - s.calc_fp) AS drift_fp
  FROM orders o LEFT JOIN s ON o.o_orderkey = s.l_orderkey
),
b AS (
  SELECT CASE WHEN calc_fp IS NULL THEN 'no_lineitems'
              WHEN drift_fp <= 100 THEN 'exact'
              WHEN CAST(drift_fp AS DOUBLE) / CAST(header_fp AS DOUBLE) <= 0.01
                THEN 'minor_drift'
              ELSE 'major_drift' END AS bucket,
         drift_fp
  FROM j
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(coalesce(SUM(drift_fp), 0) AS DOUBLE) / 10000.0 AS total_drift
FROM b GROUP BY bucket
"""


@register("dq_reconciliation", oracle=_RECON_ORACLE, tags=("quality", "join", "agg"))
def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary-vs-detail reconciliation: recompute each order's total from
    its lineitems and bucket the drift against the header total (exact /
    minor / major / no-detail) — the aggregate-integrity control behind
    financial close and every derived-table contract (dq_referential
    audits KEYS; this audits VALUES). One fixed-point detail aggregate
    keyed on the order — at 100 TB both sides hash-partition on
    o_orderkey, so the header join is co-partitioned with no extra
    exchange class — then a LEFT join (headers with no detail rows are a
    bucket, not a silent drop) and a 4-row bucket rollup. The fixture's
    synthetic totals genuinely violate the invariant, so the buckets are
    non-degenerate at every SF. Money sums ride FLOOR-quantized BIGINTs
    (module note: double→DECIMAL tie-rounding diverges across engines)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    amt_fp = F.floor(
        (
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        )
        * 10000.0
    ).cast("bigint")
    calc = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(amt_fp).alias("calc_fp")
    )
    j = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 10000.0).cast("bigint").alias("header_fp"),
    ).join(calc, F.col("o_orderkey") == F.col("k"), "left")
    j = j.withColumn("drift_fp", F.abs(F.col("header_fp") - F.col("calc_fp")))
    b = j.select(
        F.when(F.col("calc_fp").isNull(), "no_lineitems")
        .when(F.col("drift_fp") <= 100, "exact")
        .when(
            F.col("drift_fp").cast("double") / F.col("header_fp").cast("double")
            <= 0.01,
            "minor_drift",
        )
        .otherwise("major_drift")
        .alias("bucket"),
        "drift_fp",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.coalesce(F.sum("drift_fp"), F.lit(0)).cast("double") / 10000.0).alias(
            "total_drift"
        ),
    )


# --- dq_benford -----------------------------------------------------------------

# Benford's-law first-digit audit. The expected shares log10(1 + 1/d) are
# materialized ONCE here as python-repr double literals and embedded in BOTH
# engines' SQL, so no runtime libm call (whose last ulp can differ between
# java.lang.Math and C libm) participates in the comparison.
import math as _math  # noqa: E402

_BENFORD_P = {d: repr(_math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}
# CAST each literal: a bare decimal literal parses as DECIMAL in both
# engines; casting the 17-sig-digit literal to DOUBLE is correctly rounded
# in both, so the shares are the identical binary64 values.
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD_P.items())
    + " END"
)

# First significant digit extracted from EXACT integer cents (floor(x*100) is
# the same IEEE double op in both engines; the leading digit of the decimal
# rendering of a BIGINT is engine-independent) — never from log10(double),
# whose floor has a knife edge at exact powers of ten.
_BENFORD_ORACLE = f"""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100.0) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders
  WHERE o_totalprice > 0
),
c AS (
  SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit
),
t AS (
  SELECT digit, n_obs, SUM(n_obs) OVER () AS total FROM c
)
SELECT digit, n_obs,
       CAST(n_obs AS DOUBLE) / CAST(total AS DOUBLE) AS obs_share,
       {_BENFORD_CASE} AS exp_share,
       (CAST(n_obs AS DOUBLE) / CAST(total AS DOUBLE) - ({_BENFORD_CASE}))
         * (CAST(n_obs AS DOUBLE) / CAST(total AS DOUBLE) - ({_BENFORD_CASE}))
         / ({_BENFORD_CASE}) AS chi2_term
FROM t
"""


@register("dq_benford", oracle=_BENFORD_ORACLE, tags=("quality", "agg"))
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over order totals — the
    classic fabricated-data / unit-mixup detector a data-quality layer runs
    on money columns (the reference ingests raw `value` readings,
    main.py:146-175, with no distributional checks).

    Shape: one map-side-combinable hash aggregate whose exchange carries at
    most 9 rows per task, then a 9-row window for the global share — the
    scan dominates at any scale and the digit extraction is codegen'd
    string/int work on exact cents (no libm in either engine; the expected
    Benford shares are shared double LITERALS, see _BENFORD_P)."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = orders.select(
        F.expr(
            "CAST(substring(CAST(CAST(floor(o_totalprice * 100.0) AS BIGINT) AS STRING), 1, 1) "
            "AS BIGINT)"
        ).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    t = c.select("digit", "n_obs", F.sum("n_obs").over(Window.partitionBy()).alias("total"))
    obs = F.col("n_obs").cast("double") / F.col("total").cast("double")
    exp = F.expr(_BENFORD_CASE)
    return t.select(
        "digit",
        "n_obs",
        obs.alias("obs_share"),
        exp.alias("exp_share"),
        ((obs - exp) * (obs - exp) / exp).alias("chi2_term"),
    )


# --- dq_ks_test: two-sample Kolmogorov-Smirnov drift test ---------------------

# Nonparametric sibling of dq_drift's chi-square: compares the FULL shape of
# the value distribution between the first and second half of the fixture
# month, per event source, with no distributional assumption. The ECDFs are
# evaluated on a fixed integer grid (floor(value) — ~330 cells over the
# fixture's value range) so the cumulative window's input is bounded by
# sources x cells at ANY corpus size; the statistic itself is max(|Fa-Fb|)
# over identical per-cell doubles (BIGINT counts, one division each), and MAX
# is order-free, so the report is engine-exact without fixed-point machinery.
_KS_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"

_KS_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         CAST(floor(value) AS BIGINT) AS cell,
         SUM(CASE WHEN ts <  {_KS_SPLIT} THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN ts >= {_KS_SPLIT} THEN 1 ELSE 0 END) AS cb
  FROM events
  GROUP BY event_type, CAST(floor(value) AS BIGINT)
),
cum AS (
  SELECT event_type, cell,
         SUM(ca) OVER (PARTITION BY event_type ORDER BY cell
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (PARTITION BY event_type ORDER BY cell
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
         SUM(ca) OVER (PARTITION BY event_type) AS na,
         SUM(cb) OVER (PARTITION BY event_type) AS nb
  FROM cells
)
SELECT event_type,
       CAST(MAX(na) AS BIGINT) AS n_first,
       CAST(MAX(nb) AS BIGINT) AS n_second,
       MAX(abs(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_d
FROM cum
GROUP BY event_type
"""


@register("dq_ks_test", oracle=_KS_ORACLE, tags=("quality", "agg", "window"))
def dq_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per event source:
    max ECDF distance between the first- and second-half-of-month value
    distributions — the nonparametric companion to dq_drift's binned
    chi-square (KS needs no expected-counts assumption and catches
    location/shape shifts chi-square's coarse bins smear out). The
    reference never monitors its readings (main.py:146-175).

    Shape: ONE corpus scan pre-aggregates to a FIXED integer grid
    (sources x ~330 cells cross the exchange, map-side combined,
    regardless of input size); the cumulative ECDF window and the final
    max-aggregate both key on event_type, so the window's exchange is
    reused by the aggregate. All comparisons are divisions of identical
    BIGINTs and an order-free MAX — engine-exact with no quantization."""
    ev = table(spark, sf_dir, "events")
    split = F.expr(f"{_KS_SPLIT}")
    cells = ev.groupBy(
        "event_type", F.floor("value").cast("bigint").alias("cell")
    ).agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).alias("cb"),
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy("event_type")
    cum = cells.select(
        "event_type",
        F.sum("ca").over(run).alias("cum_a"),
        F.sum("cb").over(run).alias("cum_b"),
        F.sum("ca").over(whole).alias("na"),
        F.sum("cb").over(whole).alias("nb"),
    )
    d = F.abs(
        F.col("cum_a").cast("double") / F.col("na").cast("double")
        - F.col("cum_b").cast("double") / F.col("nb").cast("double")
    )
    return cum.groupBy("event_type").agg(
        F.max("na").alias("n_first"),
        F.max("nb").alias("n_second"),
        F.max(d).alias("ks_d"),
    )


# --- dq_uniqueness: candidate-key audit ---------------------------------------

# Which column (sets) could serve as a primary key? dq_profile reports
# per-column distincts for the fact table; this audits KEY CANDIDATES —
# including composite ones — on the orders table, the question schema
# discovery and CDC key-selection actually ask. Composite candidates are
# counted on a separator-joined string rendering: rendering differs between
# engines but DISTINCT counts only need the mapping to be injective per
# engine, so the counts are exact and portable.
_UNIQ_CANDS = [
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus"),
    (
        "o_custkey+o_orderdate",
        "CONCAT(CAST(o_custkey AS VARCHAR), '|', CAST(o_orderdate AS VARCHAR))",
    ),
    (
        "o_custkey+o_orderdate+o_orderpriority",
        "CONCAT(CAST(o_custkey AS VARCHAR), '|', CAST(o_orderdate AS VARCHAR), "
        "'|', o_orderpriority)",
    ),
]

_UNIQ_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS candidate,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT {expr}) AS n_distinct,
       CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT {expr}) AS DOUBLE) AS dup_factor,
       CAST(CASE WHEN COUNT(DISTINCT {expr}) = COUNT(*) THEN 1 ELSE 0 END AS INT)
         AS is_unique
FROM orders"""
    for name, expr in _UNIQ_CANDS
)


@register("dq_uniqueness", oracle=_UNIQ_ORACLE, tags=("quality", "agg"))
def dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key audit: for each single-column and composite candidate
    on orders, report exact distinct count, duplication factor, and a
    uniqueness verdict — the schema-discovery / CDC-key-selection check
    dq_profile (per-column stats) doesn't answer because keys are often
    COMPOSITE. Candidates are literal, so the report is 5 rows at any scale.

    Shape: ONE scan, one Expand-based multi-distinct aggregate (Spark plans
    N COUNT(DISTINCT)s over one pass as a single Expand + two aggregates —
    the exchange carries candidate-keyed partials, never raw rows twice),
    then a stack() to the long report. At 100 TB swap exact distinct for
    approx_count_distinct: same plan, sketch partials (the
    agg_approx_distinct pattern shows the accuracy gate)."""
    o = table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.countDistinct(F.expr(expr.replace("VARCHAR", "STRING"))).alias(f"d{i}")
        for i, (_, expr) in enumerate(_UNIQ_CANDS)
    ]
    wide = o.agg(*aggs)
    stack_expr = "stack({}, {}) AS (candidate, n_distinct)".format(
        len(_UNIQ_CANDS),
        ", ".join(f"'{name}', d{i}" for i, (name, _) in enumerate(_UNIQ_CANDS)),
    )
    longf = wide.selectExpr("n_rows", stack_expr)
    return longf.select(
        "candidate",
        "n_rows",
        "n_distinct",
        (F.col("n_rows").cast("double") / F.col("n_distinct").cast("double")).alias(
            "dup_factor"
        ),
        F.when(F.col("n_distinct") == F.col("n_rows"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_unique"),
    )


# --- dq_outlier_iqr: Tukey-fence outlier rates --------------------------------

# Third member of the robust-outlier family: dq_anomaly flags by z-score
# (mean/stddev — moment-based, masked by the outliers themselves),
# ts_mad_outliers by MAD (median-absolute-deviation), this one by Tukey's
# IQR fences [q1 − 1.5·IQR, q3 + 1.5·IQR] — the boxplot rule audit
# dashboards actually draw. percentile() and quantile_cont() are
# bit-identical interpolated exact quantiles (agg_quantiles pins this),
# the fences derive from them with identical double arithmetic, and the
# flag comparisons are therefore knife-edge-free.
_IQR_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
),
f AS (
  SELECT event_type, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo,
         q3 + 1.5 * (q3 - q1) AS hi
  FROM q
)
SELECT e.event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       MAX(f.lo) AS fence_lo,
       MAX(f.hi) AS fence_hi
FROM events e JOIN f ON f.event_type = e.event_type
GROUP BY e.event_type
"""


@register("dq_outlier_iqr", oracle=_IQR_ORACLE, tags=("quality", "agg"))
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier audit per event source: exact q1/q3,
    fences at 1.5×IQR, outlier count per source — the boxplot rule,
    robust where z-scores self-mask (dq_anomaly) and the per-source
    sibling of ts_mad_outliers' per-series MAD.

    Scale shape: quartile aggregate per source (per-group sort — bounded
    groups; swap approx_percentile at 100 TB), the ≤|sources|-row fence
    table BROADCASTS back onto the stream, and the flag rollup is
    map-side combinable. Two passes over the corpus, no corpus-sized
    shuffle beyond the quantile aggregation."""
    ev = table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25D)").alias("q1"),
        F.expr("percentile(value, 0.75D)").alias("q3"),
    )
    f = q.select(
        "event_type",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    flagged = ev.join(F.broadcast(f), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
        F.max("lo").alias("fence_lo"),
        F.max("hi").alias("fence_hi"),
    )


# --- dq_kanon: k-anonymity audit ----------------------------------------------

# Privacy audit a training-data pipeline runs before release: under the
# quasi-identifier tuple (nation, market segment, account-balance
# thousand-bucket), how many customers sit in equivalence classes smaller
# than k? A class of size 1 is a re-identifiable individual; k-anonymity
# requires every class >= k. One grouped count builds the class table
# (BOUNDED: <= |nations| x |segments| x |balance buckets| rows regardless
# of data size); the per-k rollup then runs on that tiny table crossed
# with the k panel — the corpus is scanned ONCE no matter how many k
# thresholds are audited.
_KANON_KS = (2, 5, 10)

_KANON_ORACLE = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
         CAST(COUNT(*) AS BIGINT) AS sz
  FROM customer
  GROUP BY ALL
),
ks AS (SELECT unnest([{", ".join(str(k) for k in _KANON_KS)}]) AS k)
SELECT CAST(ks.k AS INT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN sz < ks.k THEN 1 ELSE 0 END) AS BIGINT) AS n_unsafe,
       CAST(SUM(CASE WHEN sz < ks.k THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST(SUM(CASE WHEN sz < ks.k THEN sz ELSE 0 END) AS DOUBLE)
         / SUM(sz) AS risk_rate
FROM classes CROSS JOIN ks
GROUP BY ks.k
"""


@register("dq_kanon", oracle=_KANON_ORACLE, tags=("quality",))
def dq_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, segment, balance-bucket)
    quasi-identifier: for k in {2, 5, 10}, the equivalence-class count,
    the classes below k, the rows they expose, and the at-risk rate —
    the pre-release privacy gate (companion to llm_pii_scrub: scrubbing
    removes direct identifiers, this measures INDIRECT identifiability).

    Scale shape: the corpus is scanned once into a class table whose size
    is bounded by the quasi-identifier domain (~nations x segments x
    buckets), NOT by row count; the k panel fans that tiny table out with
    a 3-row broadcast cross — auditing more thresholds costs zero extra
    scans. Counts are BIGINTs; the single rate division runs on identical
    operands in both engines."""
    cust = table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _KANON_KS])).alias("k")
    )
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unsafe"),
            F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
            (
                F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("sz")
            ).alias("risk_rate"),
        )
        .select(
            F.col("k").cast("int"),
            "n_classes",
            "n_unsafe",
            "rows_at_risk",
            "risk_rate",
        )
    )


# --- dq_volume_anomaly: day-over-day volume monitoring --------------------------

# dq_anomaly flags VALUE outliers; this flags VOLUME outliers — the
# "ingest dropped to half overnight" / "a producer went into a retry
# loop" pager signal every pipeline monitors first. Daily row counts per
# event_type, z-scored against the SERIES' own mean/std over all other
# days (leave-one-out, so a single broken day can't mask itself by
# inflating the baseline it's judged against). Counts are exact BIGINTs;
# mean/std/z are derived from integer sums of identical operands —
# engine-identical doubles, with the flag computed on the ROUNDed z
# (libm-class sqrt ulp, same convention as f_trig / llm_char_entropy).
_VOL_Z_THRESHOLD = 2.0

_VOL_ANOMALY_ORACLE = f"""
WITH daily AS (
  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
stats AS (
  SELECT event_type, day, n,
         CAST(SUM(n) OVER w - n AS BIGINT) AS rest_sum,
         CAST(SUM(n * n) OVER w - n * n AS BIGINT) AS rest_sq,
         CAST(COUNT(*) OVER w - 1 AS BIGINT) AS rest_cnt
  FROM daily
  WINDOW w AS (PARTITION BY event_type)
),
z AS (
  SELECT event_type, day, n, rest_cnt,
         ROUND(
           (n - CAST(rest_sum AS DOUBLE) / rest_cnt)
           / sqrt(greatest(
               CAST(rest_sq AS DOUBLE) / rest_cnt
               - (CAST(rest_sum AS DOUBLE) / rest_cnt)
                 * (CAST(rest_sum AS DOUBLE) / rest_cnt),
               1e-12)), 9) AS vol_z
  FROM stats WHERE rest_cnt >= 2
)
SELECT event_type, day, n AS n_rows, vol_z,
       CAST(CASE WHEN abs(vol_z) > {_VOL_Z_THRESHOLD} THEN 1 ELSE 0 END AS INT)
         AS is_anomalous
FROM z
"""


@register("dq_volume_anomaly", oracle=_VOL_ANOMALY_ORACLE, tags=("quality", "timeseries"))
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly monitor: each (event_type, day)'s row count z-scored
    against the leave-one-out mean/std of the series' OTHER days — the
    ingest-health pager signal (a collapsed producer, a retry storm),
    with the broken day excluded from its own baseline so it cannot mask
    itself.

    Scale shape: the corpus collapses to one BIGINT count per (type, day)
    cell FIRST (partial/final hash aggregate — the only corpus-sized
    work); the leave-one-out stats are whole-partition window sums over
    that domain-bounded cell table (≤ types × days rows), subtracting
    self — no second scan, no self-join. One cell exchange + one tiny
    type-keyed window exchange; everything shuffled is a handful of
    integers per cell."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("event_type")
    stats = daily.select(
        "event_type",
        "day",
        "n",
        (F.sum("n").over(w) - F.col("n")).cast("bigint").alias("rest_sum"),
        (F.sum(F.col("n") * F.col("n")).over(w) - F.col("n") * F.col("n"))
        .cast("bigint")
        .alias("rest_sq"),
        (F.count(F.lit(1)).over(w) - 1).cast("bigint").alias("rest_cnt"),
    ).filter(F.col("rest_cnt") >= 2)
    mean = F.col("rest_sum").cast("double") / F.col("rest_cnt")
    var = F.greatest(
        F.col("rest_sq").cast("double") / F.col("rest_cnt") - mean * mean,
        F.lit(1e-12),
    )
    z = F.round((F.col("n") - mean) / F.sqrt(var), 9)
    return stats.select(
        "event_type",
        "day",
        F.col("n").alias("n_rows"),
        z.alias("vol_z"),
        F.when(F.abs(z) > _VOL_Z_THRESHOLD, 1).otherwise(0).cast("int").alias(
            "is_anomalous"
        ),
    )


# --- dq_join_skew: join-key skew advisor --------------------------------------

# The "should I salt this join" diagnostic, run BEFORE the shuffle that
# hurts: for each candidate join key of the fact table, the frequency
# distribution's hot-key share and tail ratio. A key whose top-1 share or
# max/median ratio explodes produces straggler reduce tasks at 100 TB —
# exactly what join_salted exists to fix; this operator names which keys
# need it. One corpus scan fans each row to its 3 (key_name, key_value)
# pairs map-side; everything after runs on the bounded key-frequency
# tables. Percentiles FLOOR-quantize to BIGINT (the llm_winsorize
# recipe); the two ratio divisions have exact-operand inputs.
_JOIN_SKEW_KEYS = ["l_partkey", "l_suppkey", "l_orderkey"]

_JOIN_SKEW_ORACLE = f"""
WITH pairs AS (
  {" UNION ALL ".join(
      f"SELECT '{k}' AS key_name, CAST({k} AS BIGINT) AS key_val FROM lineitem"
      for k in _JOIN_SKEW_KEYS
  )}
),
freq AS (
  SELECT key_name, key_val, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY key_name, key_val
)
SELECT key_name,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS max_freq,
       CAST(floor(quantile_cont(cnt, 0.5)) AS BIGINT) AS p50_freq,
       CAST(floor(quantile_cont(cnt, 0.99)) AS BIGINT) AS p99_freq,
       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top1_share,
       CAST(MAX(cnt) AS DOUBLE)
         / CAST(floor(quantile_cont(cnt, 0.5)) AS DOUBLE) AS skew_ratio
FROM freq
GROUP BY key_name
"""


@register("dq_join_skew", oracle=_JOIN_SKEW_ORACLE, tags=("dq",))
def dq_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew advisor: for each candidate join key of the fact
    table, the frequency distribution's size, hot-key share, and
    max/median tail ratio — the pre-shuffle diagnostic that names which
    keys need join_salted / AQE skew handling before a 100 TB shuffle
    makes the answer obvious the expensive way.

    Scale shape: ONE corpus scan fans each row to its 3 (key_name,
    key_value) pairs via a generator (map-side, no extra scans — the
    agg_countmin_freq lesson); the partial/final hash aggregate bounds
    everything after at the distinct-key grain, and the 3-row stats
    rollup keys on key_name. Exact percentiles FLOOR-quantize to BIGINT
    (swap approx_percentile at 100 TB — same plan); ratio divisions see
    exact-operand inputs in both engines."""
    li = table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("key_name"),
                        F.col(k).cast("bigint").alias("key_val"),
                    )
                    for k in _JOIN_SKEW_KEYS
                ]
            )
        ).alias("p")
    ).select("p.key_name", "p.key_val")
    freq = pairs.groupBy("key_name", "key_val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    p50 = F.floor(F.expr("percentile(cnt, 0.5D)")).cast("bigint")
    p99 = F.floor(F.expr("percentile(cnt, 0.99D)")).cast("bigint")
    return freq.groupBy("key_name").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_freq"),
        p50.alias("p50_freq"),
        p99.alias("p99_freq"),
        (F.max("cnt").cast("double") / F.sum("cnt").cast("double")).alias(
            "top1_share"
        ),
        (F.max("cnt").cast("double") / p50.cast("double")).alias("skew_ratio"),
    )


# --- dq_funcdep: functional-dependency audit -----------------------------------

# The schema-inference / constraint-mining primitive (Deequ's hasUniqueness
# cousin): for each candidate dependency A -> B, how many A-groups map to
# MORE than one B value, and how bad is the worst offender? A holding FD
# is a candidate primary key fragment / normalization opportunity; a
# broken "should-hold" FD is a data bug. The panel mixes one FD that holds
# by construction (l_orderkey -> month(shipdate)? no — orderkey->returnflag
# varies) with ones that measurably break, so both verdict branches are
# exercised at every SF.
_FUNCDEP_ORACLE = """
WITH pairs AS (
  SELECT 'orderkey->suppkey' AS fd, CAST(l_orderkey AS VARCHAR) AS lhs,
         CAST(l_suppkey AS VARCHAR) AS rhs FROM lineitem
  UNION ALL
  SELECT 'partkey->extendedprice', CAST(l_partkey AS VARCHAR),
         CAST(l_extendedprice AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'orderkey->linestatus', CAST(l_orderkey AS VARCHAR),
         l_linestatus FROM lineitem
  UNION ALL
  SELECT 'partkey,suppkey->partkey', CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR),
         CAST(l_partkey AS VARCHAR) FROM lineitem
),
grp AS (
  SELECT fd, lhs, COUNT(DISTINCT rhs) AS n_rhs
  FROM pairs GROUP BY fd, lhs
)
SELECT fd,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(MAX(n_rhs) AS BIGINT) AS worst_fanout,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS violation_rate,
       CAST(CASE WHEN MAX(n_rhs) = 1 THEN 1 ELSE 0 END AS BIGINT) AS fd_holds
FROM grp GROUP BY fd
"""


@register("dq_funcdep", oracle=_FUNCDEP_ORACLE, tags=("quality",))
def dq_funcdep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over a 4-candidate panel: per FD A -> B,
    the number of A-groups, how many map to >1 B (violations), the worst
    fan-out, and a holds/breaks verdict. One candidate
    (partkey,suppkey -> partkey) holds axiomatically so both verdict
    branches are data at every SF.

    Scale shape: ONE fact scan fans each row to its 4 (fd, lhs, rhs)
    triples via stack() (the dq_join_skew / agg_countmin_freq single-scan
    lesson — never 4 unioned scans); the distinct + both aggregates then
    run at the (fd, lhs) group grain, so exchanges carry keys and counts,
    never rows; violation_rate divides two exact BIGINTs."""
    # one-row-group fixture scans are 1 task; spread before the heavy
    # per-row map work (profiled single-task stage; see OPTIMIZATION_r10.md)
    li = rebalance_for_map(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_linestatus"
        ),
        spark,
    )
    pairs = li.selectExpr(
        "stack(4, "
        "'orderkey->suppkey', CAST(l_orderkey AS STRING), CAST(l_suppkey AS STRING), "
        "'partkey->extendedprice', CAST(l_partkey AS STRING), CAST(l_extendedprice AS STRING), "
        "'orderkey->linestatus', CAST(l_orderkey AS STRING), l_linestatus, "
        "'partkey,suppkey->partkey', CAST(l_partkey AS STRING) || '|' || CAST(l_suppkey AS STRING), CAST(l_partkey AS STRING)"
        ") AS (fd, lhs, rhs)"
    )
    grp = pairs.groupBy("fd", "lhs").agg(F.countDistinct("rhs").alias("n_rhs"))
    viol = F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)).cast("bigint")
    return grp.groupBy("fd").agg(
        F.count(F.lit(1)).alias("n_groups"),
        viol.alias("n_violating"),
        F.max("n_rhs").cast("bigint").alias("worst_fanout"),
        (viol.cast("double") / F.count(F.lit(1)).cast("double")).alias("violation_rate"),
        F.when(F.max("n_rhs") == 1, 1).otherwise(0).cast("bigint").alias("fd_holds"),
    )


# --- dq_temporal: cross-table temporal-consistency audit -----------------------

# The event-ordering rule single-table dq_rules can't see: a lineitem must
# not ship BEFORE its order was placed. Lag is an exact integer day count
# (both engines subtract DATEs), so rates, extrema, and the interpolated
# median are all cross-engine exact (percentile == quantile_cont, pinned
# by agg_quantiles).
_TEMPORAL_ORACLE = """
WITH lag AS (
  SELECT o.o_orderpriority,
         datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
           AS day_lag
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CASE WHEN day_lag < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       CAST(SUM(CASE WHEN day_lag < 0 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS violation_rate,
       CAST(MIN(day_lag) AS BIGINT) AS min_lag_days,
       CAST(MAX(day_lag) AS BIGINT) AS max_lag_days,
       quantile_cont(day_lag, 0.5) AS median_lag_days
FROM lag GROUP BY o_orderpriority
"""


@register("dq_temporal", oracle=_TEMPORAL_ORACLE, tags=("quality",))
def dq_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table temporal-consistency audit: per order priority, how many
    lineitems ship BEFORE their order date (impossible-order violations),
    plus the lag distribution (min/median/max days) — the referential
    cousin of dq_rules' single-table assertions.

    Scale shape: ONE fact-fact equi-join on the natural key (both sides
    shuffle once on l_orderkey/o_orderkey; AQE handles skew), then the
    corpus collapses map-side to the |priorities|-grain cell table. The
    lag is an exact BIGINT day difference of DATEs, so every statistic —
    including the interpolated median — is bit-identical cross-engine."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = li.join(od, li.l_orderkey == od.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("day_lag"),
    )
    viol = F.sum(F.when(F.col("day_lag") < 0, 1).otherwise(0)).cast("bigint")
    return lag.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        viol.alias("n_violations"),
        (viol.cast("double") / F.count(F.lit(1))).alias("violation_rate"),
        F.min("day_lag").cast("bigint").alias("min_lag_days"),
        F.max("day_lag").cast("bigint").alias("max_lag_days"),
        F.expr("percentile(day_lag, 0.5D)").alias("median_lag_days"),
    )


# --- dq_chi2: chi-squared independence test over a contingency table ----------

# Completes the statistical-audit trio (dq_ks_test = distribution shift,
# agg_ttest = mean shift, dq_chi2 = CATEGORICAL independence): is a
# document's language independent of its source? The classic Pearson
# chi-squared over the lang x source contingency table — the screening
# test for sampling skew ("does one crawl source over-represent a
# language?") every corpus audit runs. Per-cell expected counts
# row_total * col_total / N are exact-integer products divided once
# (IEEE correctly-rounded, deterministic in both engines); per-cell
# contributions are FLOOR-quantized to micro-units so the global
# statistic is an order-free BIGINT sum.
_CHI2_ORACLE = """
WITH obs AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
),
rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS row_tot FROM obs GROUP BY lang),
ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS col_tot FROM obs GROUP BY source),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS total FROM obs),
cells AS (
  SELECT obs.lang, obs.source, obs.o,
         CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.total AS e
  FROM obs JOIN rt ON rt.lang = obs.lang
           JOIN ct ON ct.source = obs.source
           CROSS JOIN n
),
contrib AS (
  SELECT lang, source, o,
         ROUND(e, 6) AS expected,
         CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
              * 1000000.0) AS BIGINT) AS contrib_micro
  FROM cells
),
dims AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) - 1 AS r1,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) - 1 AS c1
),
tot AS (SELECT CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro FROM contrib)
SELECT c.lang, c.source, c.o AS observed, c.expected, c.contrib_micro,
       t.chi2_micro AS chi2_micro_total, d.r1 * d.c1 AS dof
FROM contrib c CROSS JOIN tot t CROSS JOIN dims d
"""


@register("dq_chi2", oracle=_CHI2_ORACLE, tags=("quality", "stats"))
def dq_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence audit of the lang x source
    contingency table — the categorical-skew screen (dq_ks_test and
    agg_ttest cover the numeric analogs). Cells carry observed/expected/
    contribution; the global statistic and degrees of freedom ride every
    row for a self-contained report.

    Scale shape: ONE count aggregate over the corpus builds the |langs x
    sources| cell table (map-side combinable); everything after — row and
    column margins, expected counts, micro-quantized contributions, the
    order-free BIGINT chi-squared sum — is arithmetic on that tiny table
    with broadcast joins. The corpus is scanned exactly once."""
    docs = table(spark, sf_dir, "documents")
    # persist the |langs x sources| cell table: margins, total, dof and the
    # final join all derive from it, and without the barrier Catalyst
    # re-expands the corpus aggregate per consumer — observed as ~10
    # parquet scans of documents in the executed plan (plan-gated to 1)
    obs = scoped_persist(
        docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    )
    rt = obs.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(F.sum("o").alias("total"))
    cells = (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "o",
            ((F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("total")).alias("e"),
        )
    )
    od = F.col("o").cast("double")
    contrib = cells.select(
        "lang",
        "source",
        "o",
        F.round("e", 6).alias("expected"),
        F.floor((od - F.col("e")) * (od - F.col("e")) / F.col("e") * 1000000.0)
        .cast("bigint")
        .alias("contrib_micro"),
    )
    tot = contrib.agg(F.sum("contrib_micro").cast("bigint").alias("chi2_micro"))
    dims = rt.agg((F.count(F.lit(1)) - 1).alias("r1")).crossJoin(
        ct.agg((F.count(F.lit(1)) - 1).alias("c1"))
    )
    return (
        contrib.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dims))
        .select(
            "lang",
            "source",
            F.col("o").alias("observed"),
            "expected",
            "contrib_micro",
            F.col("chi2_micro").alias("chi2_micro_total"),
            (F.col("r1") * F.col("c1")).cast("bigint").alias("dof"),
        )
    )


# --- dq_psi: population stability index between time halves --------------------

# THE model-monitoring drift score: PSI = sum over bins of
# (p_cur - p_base) * ln(p_cur / p_base), computed here between the first
# and second half of the event history over 10 equal-width value bins.
# Everything that can be integer IS integer: the half split compares
# exact epoch-day numbers against their midpoint, bin edges come from an
# integer division of the micro-quantized value span (no double edge
# drift), and each bin's ln() is applied to IDENTICAL doubles in both
# engines (a ratio of exact BIGINT counts) with the per-bin term
# FLOOR-quantized to micro-units before any cross-bin arithmetic — the
# agg_entropy libm recipe. Bins empty on either side contribute NULL
# term (the standard "undefined without smoothing" convention) and are
# reported, not silently dropped.
_PSI_BINS = 10

_PSI_ORACLE = f"""
WITH span AS (
  SELECT MIN(epoch_us(ts) // 86400000000) AS d_lo,
         MAX(epoch_us(ts) // 86400000000) AS d_hi,
         MIN(CAST(floor(value * 1000000.0) AS BIGINT)) AS v_lo,
         MAX(CAST(floor(value * 1000000.0) AS BIGINT)) AS v_hi
  FROM events
),
binned AS (
  SELECT least((CAST(floor(e.value * 1000000.0) AS BIGINT) - s.v_lo)
               // ((s.v_hi - s.v_lo) // {_PSI_BINS} + 1), {_PSI_BINS} - 1) AS bin,
         CASE WHEN (epoch_us(e.ts) // 86400000000) * 2 < s.d_lo + s.d_hi
              THEN 1 ELSE 0 END AS is_base
  FROM events e CROSS JOIN span s
),
cells AS (
  SELECT bin,
         CAST(SUM(is_base) AS BIGINT) AS n_base,
         CAST(SUM(1 - is_base) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
),
tot AS (
  SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM cells
)
SELECT c.bin, c.n_base, c.n_cur,
       CASE WHEN c.n_base > 0 AND c.n_cur > 0 THEN
         CAST(floor(
           (CAST(c.n_cur AS DOUBLE) / t.tc - CAST(c.n_base AS DOUBLE) / t.tb)
           * ln((CAST(c.n_cur AS DOUBLE) / t.tc)
                / (CAST(c.n_base AS DOUBLE) / t.tb)) * 1000000.0
         ) AS BIGINT)
       END AS term_micro
FROM cells c CROSS JOIN tot t
"""


@register("dq_psi", oracle=_PSI_ORACLE, tags=("quality", "drift"))
def dq_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the first and second half of
    the event history, 10 equal-width bins over the micro-quantized value
    range — the drift family's fourth lens next to dq_drift (z-shift),
    dq_ks_test (max CDF gap) and dq_chi2 (independence). Per-bin PSI
    terms are floor-quantized micro-nats (see oracle comment), so the
    property-test total is an order-free exact integer sum.

    Scale shape: one 4-counter broadcast anchor, then ONE map-side
    collapse of the fact table to the 10-bin x 2-half cell grain —
    nothing downstream of the first aggregate sees an event row, and the
    closing join is |bins| vs a 1-row broadcast."""
    ev = table(spark, sf_dir, "events")
    day = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " div 86400000000"
    )
    vq = F.floor(F.col("value") * 1000000.0).cast("bigint")
    span = ev.agg(
        F.min(day).alias("d_lo"),
        F.max(day).alias("d_hi"),
        F.min(vq).alias("v_lo"),
        F.max(vq).alias("v_hi"),
    )
    width = F.expr(f"(v_hi - v_lo) div {_PSI_BINS} + 1")
    binned = ev.crossJoin(F.broadcast(span)).select(
        F.least(
            F.expr(
                f"(cast(floor(value * 1000000.0) as bigint) - v_lo) "
                f"div ((v_hi - v_lo) div {_PSI_BINS} + 1)"
            ),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
        F.when(day * 2 < F.col("d_lo") + F.col("d_hi"), 1).otherwise(0).alias(
            "is_base"
        ),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("is_base").cast("bigint").alias("n_base"),
        F.sum(1 - F.col("is_base")).cast("bigint").alias("n_cur"),
    )
    tot = cells.agg(F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc"))
    p_cur = F.col("n_cur").cast("double") / F.col("tc")
    p_base = F.col("n_base").cast("double") / F.col("tb")
    return cells.crossJoin(F.broadcast(tot)).select(
        "bin", "n_base", "n_cur",
        F.when(
            (F.col("n_base") > 0) & (F.col("n_cur") > 0),
            F.floor((p_cur - p_base) * F.log(p_cur / p_base) * 1000000.0).cast(
                "bigint"
            ),
        ).alias("term_micro"),
    )


# --- dq_sequence_gaps: key-continuity audit via range-partitioned scan ---------

# "Which orderkeys never shipped a line?" — the ID-continuity audit every
# ingest pipeline runs against a supposedly-dense key space. The naive
# form is lead(key) over a GLOBAL sort (single-partition at 100 TB); this
# is the two-level range scan instead: keys collapse map-side into
# fixed-width key ranges (width 1000), each range reports min/max/count,
# within-range missing keys fall out of arithmetic ((hi - lo + 1) - n),
# and only the |ranges|-row table rides an unpartitioned lead() window —
# the same dimension-grain-window discipline as win_ntile's counts table.
_GAP_RANGE = 1000

_SEQ_GAPS_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT l_orderkey AS k FROM lineitem
),
ranges AS (
  SELECT k // {_GAP_RANGE} AS range_id,
         MIN(k) AS lo, MAX(k) AS hi, CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM keys GROUP BY k // {_GAP_RANGE}
)
SELECT CAST(range_id AS BIGINT) AS range_id, lo, hi, n_keys,
       (hi - lo + 1) - n_keys AS missing_within,
       COALESCE(lead(lo) OVER (ORDER BY range_id) - hi - 1, 0) AS missing_to_next
FROM ranges
"""


@register("dq_sequence_gaps", oracle=_SEQ_GAPS_ORACLE, tags=("quality",))
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-continuity audit over the distinct l_orderkey space: per
    fixed-width key range, how many keys inside the observed span are
    missing, and how many fall in the gap to the next range — orders that
    never shipped a line surface here (257 at sf0.01). Exact integer
    arithmetic end to end.

    Scale shape: the fact table collapses to distinct keys (map-side
    partial dedup), then to the |keyspace / 1000| range grain in the same
    exchange cascade; the ONLY window rides that dimension-sized range
    table. No global sort of keys ever exists — within-range missing
    counts come from min/max/count arithmetic, not adjacency."""
    keys = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"))
        .distinct()
    )
    ranges = keys.groupBy(
        F.expr(f"k div {_GAP_RANGE}").alias("range_id")
    ).agg(
        F.min("k").alias("lo"),
        F.max("k").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    w = Window.orderBy("range_id")
    return ranges.select(
        F.col("range_id").cast("bigint").alias("range_id"),
        "lo", "hi", "n_keys",
        (F.col("hi") - F.col("lo") + 1 - F.col("n_keys")).alias("missing_within"),
        F.coalesce(
            F.lead("lo").over(w) - F.col("hi") - 1, F.lit(0).cast("bigint")
        ).alias("missing_to_next"),
    )

# --- dq_value_shape: value-mask (pattern) profiling ----------------------------

# The format-discovery profiler: map every value of the audited string
# columns to its character-class MASK (uppercase->A, lowercase->a,
# digit->9, everything else verbatim) and report the top 5 masks per
# column with counts and share — how a data steward discovers that 0.1%
# of part numbers carry a stray format without writing a single regex
# rule (dq_rules checks KNOWN formats; this one finds the unknowns).
# Cross-engine trap: DuckDB regexp_replace replaces the FIRST match
# unless given the 'g' flag, Spark always replaces all — the oracle must
# say 'g' explicitly. Tie-break on the mask string keeps the top-5 cut
# deterministic.
_VALUE_SHAPE_TOPK = 5

_VALUE_SHAPE_ORACLE = f"""
WITH vals AS (
  SELECT 'p_brand' AS col, p_brand AS v FROM part
  UNION ALL SELECT 'p_type', p_type FROM part
  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
),
masks AS (
  SELECT col,
         regexp_replace(regexp_replace(regexp_replace(v,
           '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g') AS mask,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM vals GROUP BY 1, 2
),
tot AS (SELECT col, CAST(SUM(c) AS BIGINT) AS n FROM masks GROUP BY col),
ranked AS (
  SELECT m.col, m.mask, m.c, t.n,
         ROW_NUMBER() OVER (PARTITION BY m.col ORDER BY m.c DESC, m.mask) AS rk
  FROM masks m JOIN tot t ON t.col = m.col
)
SELECT col, mask, c AS n_values, CAST(rk AS BIGINT) AS rnk,
       ROUND(CAST(c AS DOUBLE) / n, 9) AS share
FROM ranked WHERE rk <= {_VALUE_SHAPE_TOPK}
"""


@register("dq_value_shape", oracle=_VALUE_SHAPE_ORACLE, tags=("quality",))
def dq_value_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 character-class masks (A/a/9 with punctuation verbatim) per
    audited string column, with counts and share — format DISCOVERY
    (dq_rules validates known formats, this surfaces the unknown ones).
    See oracle comment for the DuckDB 'g'-flag parity trap.

    Scale shape: masks collapse map-side to the (col, mask) cell grain —
    the exchange carries distinct masks, not rows; totals broadcast back
    and the top-5 window rides the cell table partitioned by column. The
    audited tables are scanned once each."""
    part = table(spark, sf_dir, "part")
    orders = table(spark, sf_dir, "orders")
    vals = (
        part.select(F.lit("p_brand").alias("col"), F.col("p_brand").alias("v"))
        .unionAll(part.select(F.lit("p_type"), F.col("p_type")))
        .unionAll(orders.select(F.lit("o_orderpriority"), F.col("o_orderpriority")))
    )
    mask = F.regexp_replace(
        F.regexp_replace(F.regexp_replace("v", "[A-Z]", "A"), "[a-z]", "a"),
        "[0-9]",
        "9",
    )
    masks = vals.groupBy("col", mask.alias("mask")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = masks.groupBy("col").agg(F.sum("c").cast("bigint").alias("n"))
    wk = Window.partitionBy("col").orderBy(F.desc("c"), F.asc("mask"))
    ranked = masks.join(F.broadcast(tot), "col").select(
        "col", "mask", "c", "n", F.row_number().over(wk).alias("rk")
    )
    return ranked.filter(F.col("rk") <= _VALUE_SHAPE_TOPK).select(
        "col",
        "mask",
        F.col("c").alias("n_values"),
        F.col("rk").cast("bigint").alias("rnk"),
        F.round(F.col("c").cast("double") / F.col("n"), 9).alias("share"),
    )


# --- dq_cardinality_trend: day-over-day distinct-cardinality audit -------------

# dq_volume_anomaly watches ROW counts; this watches DISTINCT-KEY counts
# — the audit that catches an upstream dedup regression (volume steady,
# cardinality halves) or an id-generation bug (volume steady, cardinality
# doubles). Per day: exact distinct users, the day-over-day ratio, and an
# integer-arithmetic breach flag (n*2 < prev or n > prev*2) so the alert
# threshold never rides a double comparison.
_CARDINALITY_TREND_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY 1
),
trend AS (
  SELECT day, n_events, n_users,
         lag(n_users) OVER (ORDER BY day) AS prev_users
  FROM daily
)
SELECT CAST(day AS VARCHAR) AS day, n_events, n_users, prev_users,
       ROUND(CAST(n_users AS DOUBLE) / prev_users, 9) AS dod_ratio,
       CAST(CASE WHEN prev_users IS NULL THEN 0
                 WHEN n_users * 2 < prev_users OR n_users > prev_users * 2 THEN 1
                 ELSE 0 END AS BIGINT) AS breach
FROM trend
"""


@register("dq_cardinality_trend", oracle=_CARDINALITY_TREND_ORACLE, tags=("quality",))
def dq_cardinality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-user cardinality with day-over-day ratio and an
    integer halve/double breach flag — the dedup-regression /
    id-explosion sentinel beside dq_volume_anomaly's row-count watch.
    First day pins NULL ratio, breach 0.

    Scale shape: the exact distinct runs as a two-level aggregate —
    (day, user) cells collapse map-side, then the |days| grain counts
    cells — so the exchange carries one row per active (day, user), never
    raw events; the lag window rides the |days| calendar table in one
    partition of bounded (calendar) size. At 100 TB swap the exact
    distinct for agg_approx_distinct's HLL only if the (day, user) grain
    itself outgrows the cluster — it is the smaller of the two tables by
    construction."""
    ev = table(spark, sf_dir, "events")
    cells = ev.select(F.col("ts").cast("date").alias("day"), "user_id")
    daily = cells.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct(F.col("user_id")).cast("bigint").alias("n_users"),
    )
    wd = Window.orderBy("day")
    trend = daily.select(
        "day", "n_events", "n_users", F.lag("n_users").over(wd).alias("prev_users")
    )
    return trend.select(
        F.col("day").cast("string").alias("day"),
        "n_events",
        "n_users",
        "prev_users",
        F.round(F.col("n_users").cast("double") / F.col("prev_users"), 9).alias(
            "dod_ratio"
        ),
        F.when(F.col("prev_users").isNull(), 0)
        .when(
            (F.col("n_users") * 2 < F.col("prev_users"))
            | (F.col("n_users") > F.col("prev_users") * 2),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("breach"),
    )

# --- dq_label_balance: class-balance audit of a training-label column ----------

# The pre-training sanity check on any labeled table (here the
# embeddings' cluster label): per-class counts and shares, the imbalance
# ratio against the majority class, and the corpus-level Gini-Simpson
# diversity 1 - sum(share²) — computed WITHOUT a double sum-of-squares
# (order-dependent): sum(n_i²) is an exact BIGINT, so the diversity is
# the single identical division 1 - S2/n². A class under 1/(10·k) of
# uniform share gets an integer-arithmetic starved flag (n·10·k < n_tot
# — never a double threshold, the dq_cardinality_trend discipline).
_LABEL_BALANCE_ORACLE = """
WITH c AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings GROUP BY label
),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(MAX(n) AS BIGINT) AS n_max,
         CAST(SUM(n * n) AS BIGINT) AS s2,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM c
)
SELECT c.label, c.n,
       ROUND(CAST(c.n AS DOUBLE) / t.n_tot, 9) AS share,
       ROUND(CAST(c.n AS DOUBLE) / t.n_max, 9) AS vs_majority,
       CAST(CASE WHEN c.n * 10 * t.k < t.n_tot THEN 1 ELSE 0 END AS BIGINT)
         AS starved,
       t.k AS n_classes,
       ROUND(1.0e0 - CAST(t.s2 AS DOUBLE)
             / (CAST(t.n_tot AS DOUBLE) * t.n_tot), 9) AS gini_simpson
FROM c CROSS JOIN t
"""


@register("dq_label_balance", oracle=_LABEL_BALANCE_ORACLE, tags=("quality",))
def dq_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit of the embeddings' label column: per-class
    count/share, ratio to the majority class, an integer-arithmetic
    starved flag (< 10% of uniform share), and the corpus Gini-Simpson
    diversity from the exact integer sum of squared counts (see header
    for why no double sum-of-squares exists anywhere).

    Scale shape: ONE map-side collapse to the |labels| grain; the
    4-number corpus summary broadcasts back onto that dimension-sized
    table. The label column is the only thing read (column pruning —
    the 16-float vectors never leave the scan)."""
    emb = table(spark, sf_dir, "embeddings")
    c = scoped_persist(
        emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    t = c.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.max("n").cast("bigint").alias("n_max"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_tot"), 9).alias("share"),
        F.round(F.col("n").cast("double") / F.col("n_max"), 9).alias("vs_majority"),
        F.when(F.col("n") * 10 * F.col("k") < F.col("n_tot"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("starved"),
        F.col("k").alias("n_classes"),
        F.round(
            F.lit(1.0)
            - F.col("s2").cast("double")
            / (F.col("n_tot").cast("double") * F.col("n_tot")),
            9,
        ).alias("gini_simpson"),
    )


# --- dq_simpson: Simpson's-paradox detector ------------------------------------

# The aggregation trap every metrics team hits: an association that holds
# in the pooled data REVERSES inside every segment (or vice versa)
# because segment sizes confound it. The detector compares the sign of
# cov(discount, quantity) pooled vs within each return-flag segment.
# Signs come from the integer identity n*Sxy - Sx*Sy — discount is
# milli-exact, quantity integral, so no double ever decides a sign.
_SIMPSON_ORACLE = """
WITH q AS (
  SELECT l_returnflag AS seg,
         CAST(floor(l_discount * 1000.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(l_quantity) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM q GROUP BY seg
),
pooled AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
         CAST(SUM(sy) AS BIGINT) AS sy, CAST(SUM(sxy) AS BIGINT) AS sxy
  FROM s
)
SELECT s.seg, s.n,
       CASE WHEN CAST(s.n AS DECIMAL(38,0)) * s.sxy
                 - CAST(s.sx AS DECIMAL(38,0)) * s.sy > 0 THEN 1
            WHEN CAST(s.n AS DECIMAL(38,0)) * s.sxy
                 - CAST(s.sx AS DECIMAL(38,0)) * s.sy < 0 THEN -1
            ELSE 0 END AS seg_sign,
       CASE WHEN CAST(p.n AS DECIMAL(38,0)) * p.sxy
                 - CAST(p.sx AS DECIMAL(38,0)) * p.sy > 0 THEN 1
            WHEN CAST(p.n AS DECIMAL(38,0)) * p.sxy
                 - CAST(p.sx AS DECIMAL(38,0)) * p.sy < 0 THEN -1
            ELSE 0 END AS pooled_sign,
       (CASE WHEN CAST(s.n AS DECIMAL(38,0)) * s.sxy
                  - CAST(s.sx AS DECIMAL(38,0)) * s.sy > 0 THEN 1
             WHEN CAST(s.n AS DECIMAL(38,0)) * s.sxy
                  - CAST(s.sx AS DECIMAL(38,0)) * s.sy < 0 THEN -1
             ELSE 0 END)
       * (CASE WHEN CAST(p.n AS DECIMAL(38,0)) * p.sxy
                    - CAST(p.sx AS DECIMAL(38,0)) * p.sy > 0 THEN 1
               WHEN CAST(p.n AS DECIMAL(38,0)) * p.sxy
                    - CAST(p.sx AS DECIMAL(38,0)) * p.sy < 0 THEN -1
               ELSE 0 END) = -1 AS sign_flips
FROM s CROSS JOIN pooled p
"""


@register("dq_simpson", oracle=_SIMPSON_ORACLE, tags=("quality", "stats"))
def dq_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector: does the discount-quantity association
    reverse inside return-flag segments vs the pooled corpus? The
    pre-dashboard audit that catches confounded aggregations before
    anyone ships a wrong conclusion.

    Scale shape: ONE map-side-combined collapse to per-segment integer
    moment cells (n, Sx, Sy, Sxy); the pooled moments are a k-row
    re-aggregate; every sign comes from the exact DECIMAL identity
    n*Sxy - Sx*Sy — no double decides anything. The fact is scanned
    once."""
    li = table(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_returnflag").alias("seg"),
        F.floor(F.col("l_discount") * 1000.0 + 0.5).cast("bigint").alias("x"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("y"),
    )
    s = scoped_persist(
        q.groupBy("seg").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        )
    )
    pooled = s.agg(
        F.sum("n").cast("bigint").alias("pn"),
        F.sum("sx").cast("bigint").alias("psx"),
        F.sum("sy").cast("bigint").alias("psy"),
        F.sum("sxy").cast("bigint").alias("psxy"),
    )

    def sign(n, sxy, sx, sy):
        d = n.cast("decimal(38,0)") * sxy - sx.cast("decimal(38,0)") * sy
        return F.when(d > 0, 1).when(d < 0, -1).otherwise(0)

    out = s.crossJoin(F.broadcast(pooled))
    seg_sign = sign(F.col("n"), F.col("sxy"), F.col("sx"), F.col("sy"))
    pooled_sign = sign(F.col("pn"), F.col("psxy"), F.col("psx"), F.col("psy"))
    return out.select(
        "seg",
        "n",
        seg_sign.alias("seg_sign"),
        pooled_sign.alias("pooled_sign"),
        (seg_sign * pooled_sign == -1).alias("sign_flips"),
    )


# --- dq_dup_burden: storage/compute waste from duplicate rows ------------------

# Dedup operators answer "which rows"; this audit answers "how much is it
# COSTING us" per source: duplicate row share and wasted bytes. The
# fixture corpus is dup-free, so a deterministic 1-in-7 replay is planted
# in-query (both engines build the identical corpus — the
# llm_emb_neardup augmentation recipe); the metrics are then exact
# integer arithmetic on digest-grain cells.
_DUP_BURDEN_ORACLE = """
WITH corpus AS (
  SELECT doc_id, source, text, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, source, text, n_chars
  FROM documents WHERE doc_id % 7 = 0
),
cells AS (
  SELECT source, md5(text) AS digest,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(MAX(n_chars) AS BIGINT) AS chars
  FROM corpus GROUP BY source, md5(text)
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS dup_rows,
       CAST(SUM((cnt - 1) * chars) AS BIGINT) AS wasted_bytes,
       ROUND(CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 9)
         AS dup_row_share,
       ROUND(CAST(SUM((cnt - 1) * chars) AS DOUBLE)
             / CAST(SUM(cnt * chars) AS DOUBLE), 9) AS wasted_byte_share
FROM cells GROUP BY source
"""


@register("dq_dup_burden", oracle=_DUP_BURDEN_ORACLE, tags=("quality", "dedup"))
def dq_dup_burden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-burden audit per source: how many rows and bytes a
    dedup pass would reclaim — the cost-of-duplication dashboard that
    decides WHETHER to run the dedup family at all. A deterministic
    1-in-7 replay is planted in-query (the fixture is dup-free; both
    engines build the identical corpus).

    Scale shape: the only corpus exchange is the digest-grain collapse
    keyed on md5(text) — payloads never shuffle (the exact-dedup
    recipe); burden metrics are integer arithmetic on the distinct-text
    cell table re-aggregated per source."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "source",
            "text",
            "n_chars",
        )
    )
    cells = corpus.groupBy("source", F.md5("text").alias("digest")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.max("n_chars").cast("bigint").alias("chars"),
    )
    return cells.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        (F.sum("cnt") - F.count(F.lit(1))).cast("bigint").alias("dup_rows"),
        F.sum((F.col("cnt") - 1) * F.col("chars")).cast("bigint").alias(
            "wasted_bytes"
        ),
        F.round(
            (F.sum("cnt") - F.count(F.lit(1))).cast("double")
            / F.sum("cnt").cast("double"),
            9,
        ).alias("dup_row_share"),
        F.round(
            F.sum((F.col("cnt") - 1) * F.col("chars")).cast("double")
            / F.sum(F.col("cnt") * F.col("chars")).cast("double"),
            9,
        ).alias("wasted_byte_share"),
    )


# --- dq_heaping: digit-preference (round-number heaping) audit -------------------

# Human-entered or degraded-precision numerics heap on round values; the
# classic detector is the LAST-digit distribution against uniform
# (complementing dq_benford, which tests FIRST digits against log).
# Counts are integer cells on the 10-value digit domain; the chi-squared
# statistic divides exact integer counts by an exact ratio — row-local
# doubles on identical operands.
_HEAPING_ORACLE = """
WITH d AS (
  SELECT event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) % 10 AS digit
  FROM events
),
c AS (
  SELECT event_type, digit, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM d GROUP BY 1, 2
),
t AS (
  SELECT event_type, digit, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM c
),
terms AS (
  SELECT event_type, digit, cnt, n,
         CAST(floor((CAST(cnt AS DOUBLE) - CAST(n AS DOUBLE) / 10.0)
                    * (CAST(cnt AS DOUBLE) - CAST(n AS DOUBLE) / 10.0)
                    / (CAST(n AS DOUBLE) / 10.0) * 1000000.0 + 0.5)
              AS BIGINT) AS t_micro
  FROM t
),
g AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM(t_micro) AS BIGINT) AS chi2_micro
  FROM terms GROUP BY event_type
)
SELECT c.event_type, c.digit, c.cnt,
       ROUND(CAST(c.cnt AS DOUBLE) / CAST(g.n AS DOUBLE), 9) AS share,
       ROUND(CAST(g.chi2_micro AS DOUBLE) / 1000000.0, 9) AS chi2,
       g.chi2_micro > 16919000000 AS heaping_flag
FROM c JOIN g ON g.event_type = c.event_type
"""


@register("dq_heaping", oracle=_HEAPING_ORACLE, tags=("quality", "stats"))
def dq_heaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digit-preference (heaping) audit: last-cent-digit distribution per
    event type with the chi-squared-vs-uniform statistic and a flag at
    the 95% critical value (16.919, 9 df) — the detector for
    human-entered or precision-degraded numerics, complementing
    dq_benford's first-digit test.

    Scale shape: ONE map-side collapse to the (type, digit) 10-cell
    domain; chi-squared terms micro-quantize before the order-free sum;
    the flag compares INTEGERS (chi2_micro vs the scaled critical
    value) so no double boundary can disagree."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type",
        (F.floor(F.col("value") * 100.0 + 0.5).cast("bigint") % 10).alias(
            "digit"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_t = Window.partitionBy("event_type")
    exp = F.sum("cnt").over(w_t).cast("double") / 10.0
    term = F.floor(
        (F.col("cnt").cast("double") - exp)
        * (F.col("cnt").cast("double") - exp)
        / exp
        * 1000000.0
        + 0.5
    ).cast("bigint")
    withterm = c.select("event_type", "digit", "cnt", term.alias("t_micro"))
    g = withterm.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("t_micro").cast("bigint").alias("chi2_micro"),
    )
    return withterm.join(F.broadcast(g), "event_type").select(
        "event_type",
        "digit",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.col("n").cast("double"), 9).alias(
            "share"
        ),
        F.round(F.col("chi2_micro").cast("double") / 1000000.0, 9).alias("chi2"),
        (F.col("chi2_micro") > 16919000000).alias("heaping_flag"),
    )


# --- dq_null_correlation: missing-not-at-random (MNAR) audit --------------------

# "Is the field missing at random, or missing BECAUSE of the value?"
# The audit buckets rows by an observed driver (value quartile) and
# compares each bucket's null rate to the global rate; a monotone lift
# profile is the MNAR signature that invalidates naive mean imputation.
# The fixture has no nulls, so value-dependent missingness is PLANTED
# in-query (props withheld above a value threshold plus a 1-in-13
# random-looking hash drop) — both engines plant identically, so the
# audit's ground truth is known. Quartile edges are exact integer
# cents; every rate is an exact integer ratio.
_MNAR_ORACLE = """
WITH base AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
         CASE WHEN value > 350.0
                   OR CAST(('0x' || substring(md5('mnar|'
                        || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 13 = 0
              THEN NULL ELSE props END AS props_obs
  FROM events
),
b AS (
  SELECT event_id, event_type, props_obs,
         CASE WHEN cents < 12500 THEN 'q1'
              WHEN cents < 25000 THEN 'q2'
              WHEN cents < 37500 THEN 'q3'
              ELSE 'q4' END AS bucket
  FROM base
),
g AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN props_obs IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null
  FROM b GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(n_null) AS BIGINT) AS nnull
  FROM g
)
SELECT g.bucket, g.n, g.n_null,
       ROUND(CAST(g.n_null AS DOUBLE) / CAST(g.n AS DOUBLE), 9) AS null_rate,
       ROUND(CAST(t.nnull AS DOUBLE) / CAST(t.nn AS DOUBLE), 9)
         AS global_rate,
       ROUND(CAST(g.n_null AS DOUBLE) / CAST(g.n AS DOUBLE)
             / (CAST(t.nnull AS DOUBLE) / CAST(t.nn AS DOUBLE)), 9) AS lift,
       g.n_null * t.nn > 2 * t.nnull * g.n AS mnar_flag
FROM g CROSS JOIN tot t
"""


@register("dq_null_correlation", oracle=_MNAR_ORACLE, tags=("quality",))
def dq_null_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-not-at-random audit: null rate of the props payload by
    value quartile vs the global rate, with lift and an MNAR flag when
    a bucket's missingness doubles the global rate (integer
    cross-multiply — no double decides). Value-dependent missingness is
    planted in-query (the fixture is null-free; both engines plant
    identically): props withheld above a value threshold plus a 1-in-13
    hash drop as the MCAR background.

    Scale shape: row-local bucket/null projections collapse map-side to
    the 4-bucket cell table; the global rate is a second k-row
    aggregate; everything after the one collapse is dimension-sized."""
    ev = table(spark, sf_dir, "events")
    hash13 = F.expr(
        "cast(conv(substring(md5(concat('mnar|', cast(event_id as string))), 1, 8),"
        " 16, 10) as bigint) % 13"
    )
    base = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        F.when(
            (F.col("value") > 350.0) | (hash13 == 0), F.lit(None)
        )
        .otherwise(F.col("props"))
        .alias("props_obs"),
    )
    b = base.select(
        "props_obs",
        F.when(F.col("cents") < 12500, "q1")
        .when(F.col("cents") < 25000, "q2")
        .when(F.col("cents") < 37500, "q3")
        .otherwise("q4")
        .alias("bucket"),
    )
    g = scoped_persist(
        b.groupBy("bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("props_obs").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("n_null").cast("bigint").alias("nnull"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n",
        "n_null",
        F.round(F.col("n_null").cast("double") / F.col("n").cast("double"), 9).alias(
            "null_rate"
        ),
        F.round(F.col("nnull").cast("double") / F.col("nn").cast("double"), 9).alias(
            "global_rate"
        ),
        F.round(
            F.col("n_null").cast("double")
            / F.col("n").cast("double")
            / (F.col("nnull").cast("double") / F.col("nn").cast("double")),
            9,
        ).alias("lift"),
        (F.col("n_null") * F.col("nn") > 2 * F.col("nnull") * F.col("n")).alias(
            "mnar_flag"
        ),
    )
