"""Window-function operators (SURVEY.md §2.H).

The reference's per-city ranking loop (main.py:171-172) and its reliance on
the API's "latest per sensor" endpoint (main.py:175-180) are both window
shapes. Every window here orders by a unique tiebreak so row_number is
deterministic under any partitioning; partition keys are the natural
distribution keys (user_id), so at 100 TB each executor sorts only its own
key ranges after one hash exchange.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.exact import exact_sum
from ..registry import register
from ..session import scoped_persist
from ..tables import table

_WIN_RANK_ORACLE = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rn,
       RANK()       OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey ASC) AS rnk,
       DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey ASC) AS drnk
FROM customer
QUALIFY rn <= 10
"""


@register("win_rank", oracle=_WIN_RANK_ORACLE, tags=("window",))
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ranking (the reference's per-city sort-then-slice,
    main.py:171-172): row_number/rank/dense_rank + rank filter."""
    cust = table(spark, sf_dir, "customer")
    w_rn = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_nk = Window.partitionBy("c_mktsegment").orderBy(F.asc("c_nationkey"))
    return (
        cust.select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.row_number().over(w_rn).alias("rn"),
            F.rank().over(w_nk).alias("rnk"),
            F.dense_rank().over(w_nk).alias("drnk"),
        )
        .filter(F.col("rn") <= 10)
    )


_WIN_LATEST_ORACLE = """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


@register("win_latest", oracle=_WIN_LATEST_ORACLE, tags=("window",))
def win_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-to-latest (the reference delegates this to the OpenAQ /latest
    endpoint, main.py:175-180) — the canonical row_number()=1 pattern."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


_WIN_FRAME_ORACLE = """
SELECT event_id, user_id, ts,
       COUNT(*) OVER w AS cnt_7d,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sum_7d
FROM events
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY epoch_us(ts) // 1000000
  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
)
"""


@register("win_frame", oracle=_WIN_FRAME_ORACLE, tags=("window",))
def win_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling range-frame aggregate (the reference's 30-day freshness horizon
    as a moving window, main.py:36, 97): per-user 7-day rolling count/sum.
    The sum is decimal-exact so any frame evaluation order matches the oracle.
    The frame key is epoch-µs INTEGER-divided to seconds in both engines —
    DuckDB's ``epoch(ts)::BIGINT`` ROUNDS fractional seconds where Spark's
    ``timestampdiff(SECOND, ...)`` floors, an off-by-one that only surfaces
    when an event pair straddles the frame edge by < 0.5 s (caught by the
    sf1 oracle replay; shipped SFs never hit the boundary).
    """
    ev = table(spark, sf_dir, "events").withColumn(
        "ts_sec", F.expr("unix_micros(to_timestamp(ts)) div 1000000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-604800, 0)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("cnt_7d"),
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias("sum_7d"),
    )


_WIN_OFFSETS_ORACLE = """
SELECT event_id, user_id, ts, value,
       LAG(value)  OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       NTILE(4)    OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


@register("win_offsets", oracle=_WIN_OFFSETS_ORACLE, tags=("window",))
def win_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset window functions: lag/lead/ntile over per-user event history."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    w_val = Window.partitionBy("user_id").orderBy(F.asc("value"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.ntile(4).over(w_val).alias("quartile"),
    )


# --- win_distribution (engine completeness, SURVEY §2.H note) ----------------

_WIN_DISTRIBUTION_ORACLE = """
SELECT c_custkey,
       c_nationkey,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       dense_rank() OVER w AS dr
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


@register("win_distribution", oracle=_WIN_DISTRIBUTION_ORACLE, tags=("window",))
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist /
    dense_rank) per nation ordered by balance — rank normalization for
    quantile bucketing. One exchange on the partition key; the tiebreak on
    c_custkey makes every rank deterministic."""
    cust = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.dense_rank().over(w).alias("dr"),
    )


# --- win_sessionize (engine completeness, gap-based sessions) ----------------

# session_no: DuckDB's windowed SUM returns HUGEINT (pandas float64) while
# Spark returns BIGINT — the driver hashes dtypes, so cast explicitly.
_WIN_SESSIONIZE_ORACLE = """
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
),
sess AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM marked
)
SELECT user_id, session_no, COUNT(*) AS n_events,
       epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us
FROM sess GROUP BY user_id, session_no
"""


@register("win_sessionize", oracle=_WIN_SESSIONIZE_ORACLE, tags=("window",))
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as window functions: mark rows >30 min
    after their predecessor as session starts (lag), number sessions with a
    running sum, aggregate per session. The window formulation needs ONE
    exchange on user_id shared by both windows — the classic alternative to
    session_window (st_session) when you need per-event session IDs, not
    just session aggregates."""
    ev = table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.to_timestamp("ts"))
    )
    w_lag = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag("us").over(w_lag)
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            prev.isNull() | (F.col("us") - prev > 1800 * 1_000_000), 1
        ).otherwise(0).alias("is_start"),
    )
    # event_id tiebreak: a (user_id, ts) tie would otherwise make the
    # running sum's row order — and thus session_no — nondeterministic.
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn("session_no", F.sum("is_start").over(w_run))
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.to_timestamp(F.min("ts"))).alias("start_us"),
        F.unix_micros(F.to_timestamp(F.max("ts"))).alias("end_us"),
    )


# --- win_funnel (ordered multi-stage conversion funnel) -----------------------

# Ordered funnel view -> click -> purchase: each stage's timestamp is the
# MINIMUM event time STRICTLY AFTER the previous stage's timestamp. The
# min-chain formulation below is the ground truth; the Spark side computes the
# identical chain in ONE pass with a sorted-array fold (see builder docstring).
_WIN_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
s1 AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN us END) AS view_us
  FROM e GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(us) AS click_us
  FROM e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.us > s1.view_us
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(us) AS purchase_us
  FROM e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.us > s2.click_us
  GROUP BY e.user_id
)
SELECT s1.user_id, view_us, click_us, purchase_us,
       CASE WHEN purchase_us IS NOT NULL THEN 3
            WHEN click_us    IS NOT NULL THEN 2
            WHEN view_us     IS NOT NULL THEN 1
            ELSE 0 END AS stage
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""

# Sorted-array state-machine fold: state = (view_us, click_us, purchase_us);
# events arrive in (us, event_id) order, so the first qualifying event per
# stage carries that stage's minimum timestamp.
_FUNNEL_FOLD = """
aggregate(
  evs,
  named_struct('t1', CAST(NULL AS BIGINT), 't2', CAST(NULL AS BIGINT),
               't3', CAST(NULL AS BIGINT)),
  (s, e) -> CASE
    WHEN e.event_type = 'view' AND s.t1 IS NULL
      THEN named_struct('t1', e.us, 't2', s.t2, 't3', s.t3)
    WHEN e.event_type = 'click' AND s.t1 IS NOT NULL AND s.t2 IS NULL
         AND e.us > s.t1
      THEN named_struct('t1', s.t1, 't2', e.us, 't3', s.t3)
    WHEN e.event_type = 'purchase' AND s.t2 IS NOT NULL AND s.t3 IS NULL
         AND e.us > s.t2
      THEN named_struct('t1', s.t1, 't2', s.t2, 't3', e.us)
    ELSE s
  END
)
"""


@register("win_funnel", oracle=_WIN_FUNNEL_ORACLE, tags=("window", "analytics"))
def win_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase) per user: each
    stage matches the earliest event strictly after the previous stage.

    The three-stage min-chain would naively be three grouped aggregations
    with two re-joins of the event table (the oracle's formulation). Here it
    is ONE shuffle: collect each user's events into a (us, event_id)-sorted
    array and run a higher-order ``aggregate`` fold whose struct state is
    the per-stage timestamps — because the array is time-sorted, the first
    qualifying event per stage IS that stage's minimum, so the fold output
    equals the min-chain exactly. The fold is a JVM codegen'd expression
    (no Python). At 100 TB per-user event counts are bounded (human activity,
    thousands at most), so the collected arrays stay small; a pathological
    hot key would fall back to the join formulation."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.to_timestamp("ts")).alias("us"),
    )
    folded = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                "array_sort(collect_list(struct(us, event_id, event_type)))"
            ).alias("evs")
        )
        .select("user_id", F.expr(_FUNNEL_FOLD).alias("f"))
    )
    return folded.select(
        "user_id",
        F.col("f.t1").alias("view_us"),
        F.col("f.t2").alias("click_us"),
        F.col("f.t3").alias("purchase_us"),
        F.when(F.col("f.t3").isNotNull(), 3)
        .when(F.col("f.t2").isNotNull(), 2)
        .when(F.col("f.t1").isNotNull(), 1)
        .otherwise(0)
        .alias("stage"),
    )


# --- win_ntile: equi-depth bucketing + per-bucket profile --------------------

# ntile(4) is deterministic only under a TOTAL order — c_acctbal ties are
# broken by the unique c_custkey, so both engines assign identical quartiles.
_NTILE_ORACLE = """
WITH q AS (
  SELECT c_custkey, c_acctbal, c_mktsegment,
         ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT quartile,
       COUNT(*) AS n_customers,
       min(c_acctbal) AS lo,
       max(c_acctbal) AS hi,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(20, 4))) AS DOUBLE) AS sum_bal
FROM q
GROUP BY quartile
"""


# number of balance ranges for the distributed row-position scan; at 100 TB
# this is the shuffle-partition count, locally a small constant so every
# range still exercises both the local and cross-range paths
_NTILE_RANGES = 8
_NTILE_K = 4


@register("win_ntile", oracle=_NTILE_ORACLE, tags=("window",))
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quartiles over a TOTAL order (balance, then unique
    custkey as tie-break — without it ntile is nondeterministic), then a
    per-quartile profile. Decimal-exact sums keep the profile
    engine-identical.

    Scale shape: exact equi-depth bucketing needs every row's GLOBAL
    position, but not a single-partition sort — the position is computed
    with the win_skyline two-level parallel scan (the round-8 drop-in for
    the last honestly-serial window in the repo): repartitionByRange on
    (balance, custkey) (RangePartitioner keeps partition ids ascending in
    sort order), per-range row_number via a rid-PARTITIONED window
    (parallel across ranges), then a prefix sum of the |ranges|-row
    per-range counts — a window over a config constant, not the data —
    broadcast back as each range's global offset. The tile index is then
    pure row-local arithmetic from (position, N): ntile semantics give the
    first N mod k tiles one extra row, reproduced exactly (property-pinned
    row-identical to the single-window ntile form). No single-partition
    window ever sees the row grain.

    The rid assignment is PERSISTED before fan-out (round-9 hardening,
    same as win_skyline/agg_spearman): the range exchange re-samples its
    boundaries per execution, and the offset join on rid is only correct
    when the counts branch and the join-back read ONE materialized
    assignment — disk-backed persist of the working set, linear and
    partition-local."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranged = scoped_persist(
        cust.repartitionByRange(_NTILE_RANGES, "c_acctbal", "c_custkey").withColumn(
            "rid", F.spark_partition_id()
        )
    )
    w_local = Window.partitionBy("rid").orderBy("c_acctbal", "c_custkey")
    ranged = ranged.withColumn("rn", F.row_number().over(w_local))
    counts = ranged.groupBy("rid").agg(F.count(F.lit(1)).alias("c"))
    w_rid = Window.orderBy("rid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "rid",
        F.coalesce(F.sum("c").over(w_rid), F.lit(0)).alias("off"),
    )
    n_tot = counts.agg(F.sum("c").cast("bigint").alias("n_tot"))
    pos = (
        ranged.join(F.broadcast(offs), "rid")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "c_custkey",
            "c_acctbal",
            (F.col("off") + F.col("rn")).alias("p"),
            "n_tot",
        )
    )
    # ntile(k): the first (N mod k) tiles hold base+1 rows, the rest base
    base = F.expr(f"n_tot div {_NTILE_K}")
    rem = F.col("n_tot") % _NTILE_K
    big_rows = rem * (base + 1)  # rows covered by the oversized tiles
    tile = (
        F.when(F.col("p") <= big_rows, F.expr(f"(p - 1) div (n_tot div {_NTILE_K} + 1) + 1"))
        .otherwise(
            rem
            + F.expr(
                f"(p - (n_tot % {_NTILE_K}) * (n_tot div {_NTILE_K} + 1) - 1) "
                f"div (n_tot div {_NTILE_K}) + 1"
            )
        )
        .cast("int")
    )
    q = pos.select("c_custkey", "c_acctbal", tile.alias("quartile"))
    return q.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
        exact_sum(F.col("c_acctbal")).alias("sum_bal"),
    )


# --- win_median_smooth: rolling median over a bounded frame ------------------

# No arithmetic at all — collect the 5-row frame, sort it, take the lower
# median element. Pure selection keeps the doubles untouched, so the result
# is engine-exact by construction (vs a rolling mean, which would need the
# shared-expression treatment ts_ewma uses).
_MEDIAN_USERS = 100

_MEDIAN_ORACLE = f"""
SELECT user_id, event_id, value,
       list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         [(len(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) + 1) // 2]
         AS smoothed
FROM events
WHERE user_id < {_MEDIAN_USERS}
"""


@register("win_median_smooth", oracle=_MEDIAN_ORACLE, tags=("window", "timeseries"))
def win_median_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-median smoothing (the robust de-spiker for sensor streams —
    a single bad reading never moves the median, unlike the rolling mean):
    collect the trailing 5-row frame per series, sort INSIDE the row, take
    the lower-median element. The frame is bounded, so per-row state is
    O(5) regardless of series length; the plan is ONE window exchange on
    user_id (the lag-chain/EWMA shape) and every series smooths
    independently across executors. Lower median (not interpolated) keeps
    the output an actual observed value — and exactly equal across
    engines, since no arithmetic touches the doubles."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < _MEDIAN_USERS)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    frame = F.sort_array(F.collect_list("value").over(w))
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.element_at(frame, ((F.size(frame) + 1) / 2).cast("int")).alias("smoothed"),
    )


# --- win_streaks: gaps-and-islands (consecutive-day streaks) -----------------

# The islands trick: within a user's DISTINCT activity days ordered by day,
# (day_number - row_number) is CONSTANT exactly while days are consecutive —
# so it is the streak's group key, computed with one window and no self
# join. All arithmetic is integer day counts -> engine-exact.
_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
),
islands AS (
  SELECT user_id,
         datediff('day', DATE '2024-01-01', d)
           - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
  FROM islands GROUP BY user_id, grp
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest,
       CAST(SUM(len) AS BIGINT) AS active_days
FROM streaks
GROUP BY user_id
"""


@register("win_streaks", oracle=_STREAKS_ORACLE, tags=("window", "timeseries"))
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-day activity streak per user.
    The classic trick — within a user's distinct activity days ordered by
    day, ``day_number - row_number`` stays constant exactly while days are
    consecutive, so it IS the streak id: one dedup exchange, one window,
    one aggregate, and crucially NO self-join (the naive formulation joins
    each day to its predecessor — a second shuffle and a skew magnet).
    Complements win_sessionize (gap-threshold sessions in continuous time)
    with the calendar-bucketed variant retention products actually report.
    Every quantity is an integer day count — engine-exact with no float
    anywhere."""
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    islands = days.select(
        "user_id",
        (F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")) - rn).alias("grp"),
    )
    streaks = islands.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest"),
        F.sum("len").alias("active_days"),
    )


# --- win_share: percent-of-total within a partition --------------------------

# Determinism: the full-partition total is a WINDOW SUM — which DuckDB
# evaluates with a segment tree and Spark sequentially, so a DOUBLE sum
# would drift (the ts_cusum lesson). The sum therefore runs in DECIMAL
# (exact, association-free); the share is ONE double division of
# identical exact values.
_WIN_SHARE_ORACLE = """
SELECT c_custkey, c_nationkey,
       CAST(c_acctbal AS DOUBLE) AS acctbal,
       CAST(CAST(c_acctbal AS DECIMAL(20, 4)) AS DOUBLE)
         / CAST(SUM(CAST(c_acctbal AS DECIMAL(20, 4)))
                OVER (PARTITION BY c_nationkey) AS DOUBLE) AS nation_share
FROM customer
WHERE c_acctbal > 0.0
"""


@register("win_share", oracle=_WIN_SHARE_ORACLE, tags=("window",))
def win_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each customer's share of their
    nation's positive balance — the BI staple behind every contribution /
    mix report. One window exchange on the partition key, no join-back
    (the aggregate-then-join formulation costs a second shuffle and
    re-reads the table). The full-partition window total runs in DECIMAL
    because window-sum association order differs between engines (Spark
    sequential, DuckDB segment tree — the ts_cusum finding); exact
    arithmetic makes the fold order irrelevant and the single double
    division bit-stable."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0.0)
    dec = F.col("c_acctbal").cast("decimal(20,4)")
    total = F.sum(dec).over(Window.partitionBy("c_nationkey"))
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        (dec.cast("double") / total.cast("double")).alias("nation_share"),
    )


# --- win_pct_rank: relative-standing window functions ------------------------

# percent_rank and cume_dist are RANK-derived: their values depend only on
# the order statistics of the partition (integer rank arithmetic, one
# double division), never on float accumulation — so they are bit-portable
# across engines and partitionings even with duplicate sort keys (ties get
# identical ranks in both engines by definition).
_PCT_RANK_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       CAST(o_totalprice AS DOUBLE) AS price,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
"""


@register("win_pct_rank", oracle=_PCT_RANK_ORACLE, tags=("window",))
def win_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing within a segment: each order's percentile
    (percent_rank = (rank-1)/(n-1)) and cumulative share of rows at or
    below it (cume_dist) among same-priority orders — the distribution
    complement to win_rank's ordinal top-N. ONE window exchange on the
    partition key serves both functions (they share the sort); no
    join-back against a percentile table, which would cost a second
    shuffle and an approximate-quantile detour. At 100 TB each priority
    partition sorts independently across executors."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --- win_running_extrema: running min/max over a pinned order ----------------

# Running MIN/MAX are SELECTIONS, not accumulations — no fold-order
# sensitivity, so doubles are safe where a running SUM would need the
# fixed-point detour (module ts_cusum note). The drawup subtraction is one
# float op on identical operands.
_RUNNING_EXTREMA_ORACLE = """
SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
       min(value) OVER w AS run_min,
       max(value) OVER w AS run_max,
       CAST(value - min(value) OVER w AS DOUBLE) AS drawup
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING)
"""


@register("win_running_extrema", oracle=_RUNNING_EXTREMA_ORACLE, tags=("window",))
def win_running_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running minimum / maximum per user series and the drawup (distance
    from the running low) — the monitoring primitive behind high-water-
    mark alerts and max-drawdown analytics. ONE window exchange on
    user_id with a cumulative ROWS frame; Spark evaluates running
    extrema in O(1) per row (monotone accumulator), so the post-shuffle
    cost is a single pass per series. The order is pinned by (ts,
    event_id) — unique — so every engine sees the same prefix sets."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.min("value").over(w).alias("run_min"),
        F.max("value").over(w).alias("run_max"),
        (F.col("value") - F.min("value").over(w)).cast("double").alias("drawup"),
    )


# --- win_cumulative_distinct: running COUNT(DISTINCT) --------------------------

# No SQL engine supports COUNT(DISTINCT) OVER a running frame directly (the
# accumulator isn't invertible); the standard rewrite is two windows:
# flag each row that is the FIRST occurrence of its (key, item), then a
# running SUM of flags per key. All integer, order pinned by the unique
# (ts, event_id) pair -> exact in both engines.
_CUMDIST_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(FLOOR(value) AS BIGINT) AS bucket,
         CASE WHEN ROW_NUMBER() OVER (
           PARTITION BY user_id, CAST(FLOOR(value) AS BIGINT)
           ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, event_id, us, bucket,
       CAST(SUM(first_seen) OVER (
         PARTITION BY user_id ORDER BY us, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS distinct_so_far
FROM flagged
"""


@register("win_cumulative_distinct", oracle=_CUMDIST_ORACLE, tags=("window",))
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of DISTINCT value-buckets per user — "unique items
    seen to date", the engagement-breadth signal dashboards chart. A
    running COUNT(DISTINCT) window doesn't exist in any engine (the
    accumulator can't retract), so this is the canonical two-window
    rewrite: first-occurrence flag via row_number over (user, bucket),
    then a running integer SUM of flags over (user). Two hash exchanges —
    (user, bucket) then (user) — each linear, map-side-light; at 100 TB
    the exact form is this shape or nothing (the sketch alternative is a
    merging HLL per prefix, which loses exactness). Order is pinned by
    the unique (ts, event_id) pair so both engines see identical
    prefixes; every quantity is an integer."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.to_timestamp("ts")).alias("us"),
        F.floor("value").cast("bigint").alias("bucket"),
    )
    w_first = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "first_seen",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
        )
        .select(
            "user_id",
            "event_id",
            "us",
            "bucket",
            F.sum("first_seen").over(w_run).cast("bigint").alias("distinct_so_far"),
        )
    )


# --- win_attribution: first/last/linear touch attribution ---------------------

# Marketing attribution over the click->purchase stream: every purchase
# distributes its revenue across the clicks ("touches") in its 3-day
# lookback — all three industry models from ONE banded join + ONE window:
# first-touch (all to the earliest), last-touch (all to the latest),
# linear (equal split). Money is FLOOR-quantized to 10^-6 units and the
# equal split is integer division (remainder deliberately dropped — a
# defined, engine-exact semantic; float splits would sum differently per
# partitioning). Ties inside a lookback are pinned by (ts, click id).
_ATTR_LOOKBACK_US = 259_200_000_000  # 3 days
_ATTR_CHANNELS = 5

_ATTRIBUTION_ORACLE = f"""
WITH p AS (
  SELECT user_id, event_id AS pid, epoch_us(ts) AS us,
         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS rev_mu
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id AS cid, epoch_us(ts) AS cus,
         CAST(FLOOR(value) AS BIGINT) % {_ATTR_CHANNELS} AS channel
  FROM events WHERE event_type = 'click'
),
j AS (
  SELECT p.pid, p.rev_mu, c.cid, c.cus, c.channel
  FROM p JOIN c ON c.user_id = p.user_id
   AND c.cus >= p.us - {_ATTR_LOOKBACK_US} AND c.cus <= p.us
),
t AS (
  SELECT pid, rev_mu, channel,
         COUNT(*) OVER (PARTITION BY pid) AS n,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY cus, cid) AS rf,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY cus DESC, cid DESC) AS rl
  FROM j
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(rev_mu // n) AS BIGINT) AS linear_rev_mu,
       CAST(SUM(CASE WHEN rf = 1 THEN rev_mu ELSE 0 END) AS BIGINT) AS first_rev_mu,
       CAST(SUM(CASE WHEN rl = 1 THEN rev_mu ELSE 0 END) AS BIGINT) AS last_rev_mu
FROM t GROUP BY channel
"""


@register("win_attribution", oracle=_ATTRIBUTION_ORACLE, tags=("window", "join"))
def win_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch revenue attribution (first / last / linear) per
    channel: each purchase's revenue is attributed to the clicks in its
    3-day lookback under all three standard models at once. Shape: one
    per-user banded equi-join (fan-out bounded by touches-per-lookback,
    never a cross join), one window keyed on the purchase id computing
    touch count + both rank orders in a single node, then one hash
    aggregate by channel. Exchanges carry ids + integer micro-units only.
    Equal-split uses integer DIV so partial sums are exact on any
    partitioning (the float alternative is order-dependent); the dropped
    remainder is a defined semantic, identical in both engines."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.unix_micros(F.to_timestamp("ts")).alias("us"),
        F.expr("CAST(FLOOR(value * 1000000.0) AS BIGINT)").alias("rev_mu"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("cid"),
        F.unix_micros(F.to_timestamp("ts")).alias("cus"),
        (F.floor("value").cast("bigint") % _ATTR_CHANNELS).alias("channel"),
    )
    j = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("cus") >= F.col("us") - _ATTR_LOOKBACK_US)
        & (F.col("cus") <= F.col("us")),
    ).select("pid", "rev_mu", "cid", "cus", "channel")
    wp = Window.partitionBy("pid")
    t = j.select(
        "pid",
        "rev_mu",
        "channel",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.row_number().over(wp.orderBy(F.asc("cus"), F.asc("cid"))).alias("rf"),
        F.row_number().over(wp.orderBy(F.desc("cus"), F.desc("cid"))).alias("rl"),
    )
    return t.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(F.expr("rev_mu div n")).cast("bigint").alias("linear_rev_mu"),
        F.sum(F.when(F.col("rf") == 1, F.col("rev_mu")).otherwise(0))
        .cast("bigint")
        .alias("first_rev_mu"),
        F.sum(F.when(F.col("rl") == 1, F.col("rev_mu")).otherwise(0))
        .cast("bigint")
        .alias("last_rev_mu"),
    )


# --- win_gaps_islands: consecutive-activity islands ---------------------------

# The canonical gaps-and-islands problem: collapse each user's set of
# active DAYS into maximal runs of consecutive dates (islands), the
# engagement-streak / uptime-segment primitive that powers retention
# cohorts and SLA reports. The trick is the classic one: within a user,
# (epoch_day - rank) is CONSTANT across a consecutive run and strictly
# increasing across gaps, so one window + one hash aggregate does what a
# self-join formulation needs O(n²) for. DENSE_RANK (not row_number over
# a pre-distinct) absorbs duplicate days inside the same window pass, and
# island length is (last − first + 1) by consecutiveness — so the whole
# operator needs ONE exchange. Integer epoch days and counts; boundary
# dates serialized yyyy-MM-dd (the portable date contract, see
# f_date_arith) — value-hash exact.
_GAPS_ISLANDS_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
t AS (
  SELECT user_id, day,
         (day - DATE '1970-01-01')
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM d
)
SELECT user_id, strftime(MIN(day), '%Y-%m-%d') AS island_start,
       strftime(MAX(day), '%Y-%m-%d') AS island_end,
       CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS n_days
FROM t GROUP BY user_id, grp
"""


@register("win_gaps_islands", oracle=_GAPS_ISLANDS_ORACLE, tags=("window",))
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's maximal runs of consecutive active
    days (start, end, length) — activity streaks via the epoch_day −
    row_number constant-group trick.

    Scale shape: ONE exchange on user_id serves everything — DENSE_RANK
    over the raw event stream replaces the usual pre-distinct (which
    would cost a second, wider (user, day) shuffle), the epoch_day −
    dense_rank group key is a row-local projection, and the island
    aggregate keys on (user_id, grp), which the user_id partitioning
    already clusters (no re-exchange; island length is last − first + 1
    by consecutiveness, so duplicate days never miscount). Every
    exchanged row is (BIGINT, DATE); per-user work is linear. The
    self-join alternative (day d joins d+1) re-shuffles the same data
    twice and still needs the run collapse; this is the shape that
    survives a 100 TB event log."""
    ev = table(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day"))
    w = Window.partitionBy("user_id").orderBy("day")
    t = d.select(
        "user_id",
        "day",
        (F.unix_date(F.col("day")) - F.dense_rank().over(w)).alias("grp"),
    )
    return (
        t.groupBy("user_id", "grp")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("island_end"),
            (F.unix_date(F.max("day")) - F.unix_date(F.min("day")) + 1)
            .cast("bigint")
            .alias("n_days"),
        )
        .drop("grp")
    )


# --- win_skyline: 2-D Pareto frontier (skyline) via a price-grain window ------

# The "best tradeoff" query a top-k can't answer: every part for which no
# other part is at-least-as-cheap AND at-least-as-large with one strict
# inequality (minimize p_retailprice, maximize p_size). The naive shape is
# an all-pairs NOT EXISTS self-join (the oracle keeps that formulation as
# ground truth); the engine shape is the classic sort-scan: collapse to
# the price grain (max size per price), one running-max window over the
# strictly-cheaper prefix, then a row survives iff its size beats every
# strictly-cheaper part (prev_max) and ties the best at its own price
# (grp_max — a same-price strictly-larger part dominates).
_SKYLINE_ORACLE = """
SELECT p_partkey, p_retailprice, p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
"""


# number of price ranges for the distributed prefix-max; at 100 TB this is
# the shuffle-partition count, locally a small constant so each range still
# holds enough rows to exercise both the local and cross-range paths
_SKYLINE_RANGES = 8


@register("win_skyline", oracle=_SKYLINE_ORACLE, tags=("window", "analytics"))
def win_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts (min price, max size): a part survives iff
    nothing is at-least-as-cheap and at-least-as-large with one strict.

    Scale shape: O(n log n) instead of the oracle's O(n²) NOT-EXISTS, and
    the prefix-max is DISTRIBUTED (VERDICT r7 item 2) — the classic
    two-level parallel scan: collapse to the (price, grp_max) grain
    map-side-combined, repartitionByRange on price (RangePartitioner keeps
    partition ids ascending in price order, and AQE coalescing merges only
    contiguous ranges, preserving that), per-range running max via a
    rid-PARTITIONED window (parallel across ranges), then a cummax of the
    |ranges| per-range maxima — a window over _SKYLINE_RANGES rows, a
    constant of the config, not the data — broadcast-joined back so
    prev_max = greatest(local strict prefix, all strictly-prior ranges).
    No single-partition window ever sees the price grain. The verdict
    joins back to the fact on the price key; dominance is row-local
    arithmetic."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    per_price = p.groupBy("p_retailprice").agg(F.max("p_size").alias("grp_max"))
    # PERSIST the rid assignment: the SQL range exchange re-samples its
    # partition boundaries on every execution (seeded per RDD id), so the
    # two consumers (prior-max branch, join-back) must read ONE
    # materialized assignment. Before this pin the consistency hinged on
    # a ReusedExchange the optimizer happened to produce — agg_spearman's
    # identical shape lost that reuse to column pruning and mis-ranked
    # 4477/6000 keys (round-9 find); the persist makes the invariant
    # structural. The persisted table is the price value grain, not part.
    ranged = scoped_persist(
        per_price.repartitionByRange(_SKYLINE_RANGES, "p_retailprice").withColumn(
            "rid", F.spark_partition_id()
        )
    )
    w_local = (
        Window.partitionBy("rid")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranged = ranged.withColumn("local_prev", F.max("grp_max").over(w_local))
    rmax = ranged.groupBy("rid").agg(F.max("grp_max").alias("rmax"))
    w_rid = Window.orderBy("rid").rowsBetween(Window.unboundedPreceding, -1)
    prior = rmax.select("rid", F.max("rmax").over(w_rid).alias("prior_max"))
    per_price = ranged.join(F.broadcast(prior), "rid").select(
        "p_retailprice",
        "grp_max",
        # greatest() skips NULLs (first row of first range has neither)
        F.greatest("local_prev", "prior_max").alias("prev_max"),
    )
    return (
        p.join(per_price, "p_retailprice")
        .filter(
            (F.col("prev_max").isNull() | (F.col("p_size") > F.col("prev_max")))
            & (F.col("p_size") == F.col("grp_max"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


# --- win_hopping: overlapping hopping-window aggregation (batch form) -----------

# The batch analog of st_slide: 2-hour windows hopping every 30 minutes,
# so each event lands in exactly WIN/HOP = 4 windows. Streaming engines
# get this from window(ts, '2 hours', '30 minutes'); the batch form IS
# that operator's expansion — a 4-row broadcast explode assigning each
# event to the 4 hop-aligned window starts covering it, then one hash
# aggregate on the (type, window_start) cell grain. Window starts are
# exact epoch-second integers (hop-aligned integer division), values
# micro-quantized BIGINTs — no timestamp arithmetic survives past the
# first projection.
_HOP_S = 1800
_HOP_PER_WIN = 4  # window = 4 hops = 2 hours

_HOPPING_ORACLE = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) // 1000000 AS sec,
         CAST(floor(value * 1000000.0) AS BIGINT) AS vq
  FROM events
),
x AS (
  SELECT e.event_type,
         (e.sec // {_HOP_S}) * {_HOP_S} - t.k * {_HOP_S} AS window_start,
         e.vq
  FROM e CROSS JOIN UNNEST(range(0, {_HOP_PER_WIN})) AS t(k)
)
SELECT event_type, CAST(window_start AS BIGINT) AS window_start,
       CAST(window_start + {_HOP_S * _HOP_PER_WIN} AS BIGINT) AS window_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(vq) AS BIGINT) AS sum_value_micro
FROM x
GROUP BY event_type, window_start
"""


@register("win_hopping", oracle=_HOPPING_ORACLE, tags=("window", "timeseries"))
def win_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (2-hour windows every 30 minutes) per
    event type — the batch expansion of Structured Streaming's sliding
    window: each event joins the 4 hop-aligned windows covering it, then
    ONE hash aggregate on the (type, window_start) cell grain. Exact
    integer window starts and micro-quantized sums.

    Scale shape: the explode is a 4-row broadcast (BNLJ), a constant 4x
    row multiplier applied map-side BEFORE the single cell-grain
    exchange — at 100 TB the shuffle carries (type, start, partial
    count/sum) cells, bounded by types x time-slots, not events."""
    ev = table(spark, sf_dir, "events")
    sec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    e = ev.select(
        "event_type",
        sec.alias("sec"),
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("vq"),
    )
    ks = spark.range(_HOP_PER_WIN).select(F.col("id").alias("k"))
    x = e.crossJoin(F.broadcast(ks)).select(
        "event_type",
        (
            F.expr(f"(sec div {_HOP_S}) * {_HOP_S}") - F.col("k") * _HOP_S
        ).alias("window_start"),
        "vq",
    )
    return x.groupBy("event_type", "window_start").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("vq").cast("bigint").alias("sum_value_micro"),
    ).select(
        "event_type",
        F.col("window_start").cast("bigint").alias("window_start"),
        (F.col("window_start") + _HOP_S * _HOP_PER_WIN).cast("bigint").alias(
            "window_end"
        ),
        "n_events",
        "sum_value_micro",
    )

# --- win_rank_delta: period-over-period rank movement --------------------------

# League-table analytics: each supplier's revenue RANK within a ship
# month, and how many places it moved vs the previous month it appeared
# in — the "biggest climbers / fallers" report (win_rank is a single
# period; the delta needs two window layers on orthogonal partitions).
# Ranking uses row_number over (revenue DESC, suppkey) — fully
# deterministic under ties, unlike rank() whose gap behavior would still
# be deterministic but leaves tie pairs order-ambiguous to readers.
# Revenue is the exact cent BIGINT, so the sort key never hits a double.
_RANK_DELTA_ORACLE = """
WITH rev AS (
  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
         l_suppkey,
         CAST(SUM(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT ship_month, l_suppkey, cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY ship_month
                                 ORDER BY cents DESC, l_suppkey) AS BIGINT) AS rnk
  FROM rev
)
SELECT ship_month, l_suppkey, cents, rnk,
       lag(rnk) OVER (PARTITION BY l_suppkey ORDER BY ship_month) AS prev_rank,
       lag(rnk) OVER (PARTITION BY l_suppkey ORDER BY ship_month) - rnk
         AS places_gained
FROM ranked
"""


@register("win_rank_delta", oracle=_RANK_DELTA_ORACLE, tags=("window",))
def win_rank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly supplier revenue rank and its month-over-month movement
    (positive = climbed). Two window layers on ORTHOGONAL partitions —
    rank within ship_month, lag within supplier — the league-table
    pattern win_rank (single period) can't express. Deterministic under
    revenue ties via the (cents DESC, suppkey) row_number key; first
    month per supplier pins NULL movement.

    Scale shape: ONE fact collapse to the (month, supplier) cent grain;
    both windows ride that cell table with bounded partitions (suppliers
    per month / months per supplier) — two cell-grain exchanges, no
    global sort, nothing after the collapse touches a lineitem row."""
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("bigint")
        .alias("ship_month"),
        "l_suppkey",
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    wm = Window.partitionBy("ship_month").orderBy(F.desc("cents"), F.asc("l_suppkey"))
    ranked = rev.select(
        "ship_month", "l_suppkey", "cents",
        F.row_number().over(wm).cast("bigint").alias("rnk"),
    )
    ws = Window.partitionBy("l_suppkey").orderBy("ship_month")
    return ranked.select(
        "ship_month", "l_suppkey", "cents", "rnk",
        F.lag("rnk").over(ws).alias("prev_rank"),
        (F.lag("rnk").over(ws) - F.col("rnk")).alias("places_gained"),
    )


# --- win_reset_cumsum: running total since the last reset event -----------------

# The "spend since last purchase" / "errors since last deploy" window:
# a running sum that restarts whenever a marker event occurs. The classic
# two-window composition — a cumulative count of markers assigns each row
# a segment id, then the sum accumulates within (user, segment). Values
# ride as exact micro-integers; both windows share one partitioning, so
# the whole operator costs a single user-keyed exchange.
_RESET_TYPE = "purchase"

_RESET_CUMSUM_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_micro,
         CAST(SUM(CASE WHEN event_type = '{_RESET_TYPE}' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           AS segment
  FROM events
)
SELECT user_id, event_id, event_type, segment,
       ROUND(CAST(CAST(SUM(CASE WHEN event_type <> '{_RESET_TYPE}'
                                THEN v_micro ELSE 0 END)
                       OVER (PARTITION BY user_id, segment
                             ORDER BY event_id) AS BIGINT) AS DOUBLE)
             / 1000000.0, 9) AS run_sum
FROM seq
"""


@register("win_reset_cumsum", oracle=_RESET_CUMSUM_ORACLE, tags=("window",))
def win_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user value total that RESETS at every '{t}' event —
    the "accumulated since last marker" window (spend since last
    purchase, errors since last deploy). Two stacked windows: a
    cumulative marker count assigns segment ids, the sum accumulates
    within (user, segment); marker rows restart at 0.

    Scale shape: both windows share the user partitioning, so the whole
    operator is ONE user-keyed exchange (the sessionization exchange);
    values accumulate as exact micro-integers — the running sum is
    identical under any partition count.""".format(t=_RESET_TYPE)
    ev = table(spark, sf_dir, "events")
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v_micro"),
        F.sum(
            F.when(F.col("event_type") == _RESET_TYPE, 1).otherwise(0)
        )
        .over(w_seg)
        .cast("bigint")
        .alias("segment"),
    )
    w_run = (
        Window.partitionBy("user_id", "segment")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seq.select(
        "user_id",
        "event_id",
        "event_type",
        "segment",
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") != _RESET_TYPE, F.col("v_micro")
                ).otherwise(0)
            )
            .over(w_run)
            .cast("bigint")
            .cast("double")
            / 1000000.0,
            9,
        ).alias("run_sum"),
    )
