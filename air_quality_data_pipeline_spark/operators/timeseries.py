"""Time-series operators: grid resampling with forward-fill, and OHLC
downsampling (SURVEY.md §2.L additions).

The reference pipeline fetches "latest measurement per sensor" snapshots
(main.py:146-175) but has no resampling layer; any monitoring product built
on it needs regular time grids (dashboards, rate-of-change alerts) and
coarse summaries (daily bands). Both operators here are the canonical
Spark formulations:

- ``ts_gapfill``: per-entity fixed-interval grid (sequence → explode) left
  joined with per-interval last-observation, then forward-filled with a
  ``last(ignorenulls)`` running window. The grid is generated, never
  shuffled from data; the only exchanges are the per-interval aggregate and
  the per-entity window, both keyed on the entity — at 100 TB this
  partitions by sensor and each partition holds one bounded day-grid.
- ``ts_ohlc``: open/high/low/close downsampling in ONE hash aggregate via
  the min/max(struct) argmin/argmax pattern (no window, no self-join) —
  first/last/extremes all combine map-side, so the exchange carries one row
  per (entity, bucket) regardless of input size.

Determinism: open/close tiebreak on (ts, event_id) which is unique; the
volume sum goes through DECIMAL so hash-aggregate combine order cannot
perturb the double.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.exact import exact_round, exact_round_sql, exact_sum, exact_sum_sql
from ..registry import register
from ..session import scoped_persist, scoped_view
from ..tables import table

# one fully-covered fixture day; the grid is FIXED-SIZE (20 users x 1440
# minutes) at every scale factor so benchmarks measure data scaling, not
# output scaling
_DAY = "2024-01-05"
_NEXT_DAY = "2024-01-06"
_N_USERS = 20

_GAPFILL_ORACLE = f"""
WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id < {_N_USERS}),
g AS (
  SELECT u.user_id, t.m AS minute
  FROM u CROSS JOIN generate_series(
    TIMESTAMP '{_DAY} 00:00:00', TIMESTAMP '{_DAY} 23:59:00', INTERVAL 1 MINUTE
  ) AS t(m)
),
obs AS (
  SELECT user_id, date_trunc('minute', ts) AS minute,
         (MAX(struct_pack(ts := ts, event_id := event_id, value := value))).value AS v
  FROM events
  WHERE user_id < {_N_USERS}
    AND ts >= TIMESTAMP '{_DAY} 00:00:00' AND ts < TIMESTAMP '{_NEXT_DAY} 00:00:00'
  GROUP BY user_id, date_trunc('minute', ts)
)
SELECT g.user_id, g.minute,
       LAST_VALUE(obs.v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.minute
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_ffill,
       CAST(CASE WHEN obs.v IS NULL THEN 0 ELSE 1 END AS INT) AS is_observed
FROM g LEFT JOIN obs ON obs.user_id = g.user_id AND obs.minute = g.minute
"""


@register("ts_gapfill", oracle=_GAPFILL_ORACLE, tags=("timeseries", "window"))
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event stream onto a 1-minute grid for one day
    and forward-fill the last observed value. The minute grid is built with
    ``sequence``+``explode`` from 20 constant rows (never read from data, so
    it costs nothing at any scale); per-minute "last observation" is the
    max(struct(ts, event_id, value)) argmax aggregate (map-side combine);
    the fill itself is one running ``last(ignorenulls)`` window per user.
    Rows before a user's first observation stay NULL — the honest contract
    for leading gaps."""
    ev = table(spark, sf_dir, "events").filter(
        (F.col("user_id") < _N_USERS)
        & (F.col("ts") >= F.expr(f"TIMESTAMP_NTZ '{_DAY} 00:00:00'"))
        & (F.col("ts") < F.expr(f"TIMESTAMP_NTZ '{_NEXT_DAY} 00:00:00'"))
    )
    users = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < _N_USERS)
        .select("user_id")
        .distinct()
    )
    grid = users.select(
        "user_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, 1439), "
                f"m -> timestampadd(MINUTE, m, TIMESTAMP_NTZ '{_DAY} 00:00:00'))"
            )
        ).alias("minute"),
    )
    obs = (
        ev.select(
            "user_id",
            F.date_trunc("minute", F.col("ts")).alias("minute"),
            F.struct("ts", "event_id", "value").alias("s"),
        )
        .groupBy("user_id", "minute")
        .agg(F.max("s")["value"].alias("v"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(obs, ["user_id", "minute"], "left").select(
        "user_id",
        "minute",
        F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
        F.when(F.col("v").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("is_observed"),
    )


_OHLC_ORACLE = """
SELECT user_id, date_trunc('day', ts) AS day,
       (MIN(struct_pack(ts := ts, event_id := event_id, value := value))).value AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       (MAX(struct_pack(ts := ts, event_id := event_id, value := value))).value AS close,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS volume
FROM events
GROUP BY user_id, date_trunc('day', ts)
"""


@register("ts_ohlc", oracle=_OHLC_ORACLE, tags=("timeseries", "agg"))
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) candles per user in one hash
    aggregate: open/close are min/max(struct(ts, event_id, value)) argmin /
    argmax — no sort, no window, no self-join, and every aggregate combines
    map-side, so the single exchange carries one row per (user, day). The
    volume sum is DECIMAL-exact (combine-order independent) then cast back
    to double."""
    ev = table(spark, sf_dir, "events")
    s = F.struct("ts", "event_id", "value")
    return (
        ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"), "value", s.alias("s"))
        .groupBy("user_id", "day")
        .agg(
            F.min("s")["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max("s")["value"].alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("volume"),
        )
    )


# --- win_retention ------------------------------------------------------------

_RETENTION_OFFSETS = (0, 1, 3, 7, 14, 30)

_RETENTION_ORACLE = f"""
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
coh AS (
  SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id
)
SELECT coh.cohort_day,
       CAST(date_diff('day', coh.cohort_day, act.day) AS BIGINT) AS offset_days,
       COUNT(*) AS n_users
FROM act JOIN coh ON act.user_id = coh.user_id
WHERE date_diff('day', coh.cohort_day, act.day) IN {_RETENTION_OFFSETS}
GROUP BY coh.cohort_day, offset_days
"""


@register("win_retention", oracle=_RETENTION_ORACLE, tags=("timeseries", "agg"))
def win_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (the product-analytics companion to win_funnel,
    which the reference — a one-shot snapshot fetcher, main.py:198-309 —
    cannot express): users are cohorted by their first active day, and each
    (cohort, day-offset) cell counts users still active at that offset.

    Spark-first shape: ONE shuffle keyed on user_id builds each user's
    activity calendar (min day + collect_set of active days — bounded by
    days-in-range, not events), the offsets are derived by exploding that
    per-user set (zero-shuffle fan-out), and the final (cohort, offset)
    aggregate exchanges only |cohorts|x|offsets| rows. No join, no distinct
    over the raw stream, no per-event exchange: the classic
    act-join-cohorts formulation ships the activity table twice; this ships
    each user once."""
    ev = table(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"), F.collect_set("day").alias("days"))
    )
    offsets = per_user.select(
        "cohort_day",
        F.explode("days").alias("day"),
    ).select(
        "cohort_day",
        F.datediff(F.col("day"), F.col("cohort_day")).cast("bigint").alias("offset_days"),
    )
    return (
        offsets.filter(F.col("offset_days").isin(*_RETENTION_OFFSETS))
        .groupBy("cohort_day", "offset_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- ts_rolling ---------------------------------------------------------------

_ROLL_USERS = 100
_HOUR_US = 3_600_000_000

_ROLLING_ORACLE = f"""
SELECT user_id, event_id, ts,
       COUNT(*) OVER w AS roll_cnt,
       CAST(SUM(CAST(value AS DECIMAL(18, 6))) OVER w AS DOUBLE) AS roll_sum
FROM events
WHERE user_id < {_ROLL_USERS}
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN {_HOUR_US - 1} PRECEDING AND CURRENT ROW
)
"""


@register("ts_rolling", oracle=_ROLLING_ORACLE, tags=("timeseries", "window"))
def ts_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour rolling count/sum per user as a RANGE-frame window —
    the time-based frame (win_frame covers ROWS frames; RANGE frames bound
    by event TIME are what monitoring/rate-limit features actually need).
    Ordering key is epoch microseconds, so the frame bound is exact integer
    arithmetic in both engines; the rolling sum goes through DECIMAL so the
    within-frame accumulation order (peers with equal timestamps) cannot
    perturb the double. One exchange keyed on user_id; each partition sorts
    once and every frame is computed by the sliding-window aggregator, not
    per-row rescans."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < _ROLL_USERS)
    us = F.unix_micros(F.to_timestamp("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-(_HOUR_US - 1), 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("roll_cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("roll_sum"),
    )


# --- ts_seasonal: hour-of-day seasonal baseline + residual anomaly counts ----

# fixed-point stats per (event_type, hour-of-day) cell — same exact-sum
# machinery as dq_anomaly (quality.py), but profiled along the SEASONAL
# axis: the baseline a monitor compares "3pm today" against is "3pm on
# every other day", not the global mean. Output is the compact 5x24
# seasonal profile with per-cell anomaly counts.
#
# The 3-sigma gate is EXACT INTEGER arithmetic end to end:
#   |v - mean| > 3 sigma   <=>   (n*qv - sm)^2 > 9 * (n*s2 - sm^2)
# (both sides through 128-bit integers: DECIMAL(38,0) in Spark, HUGEINT in
# DuckDB). The naive float formulation casts the ~1e21 DECIMAL sum-of-
# squares to DOUBLE, and THAT cast is not identically rounded across
# engines (Spark goes through BigDecimal round-to-nearest; DuckDB's
# hugeint->double path differs in the last ulp for values beyond 2^53 —
# observed as 1-ulp sigma drift at sf1). The only float column out of this
# query is the mean, whose numerator fits well under 2^53.
_SEAS_MEAN = "CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)"

_TS_SEASONAL_ORACLE = f"""
WITH q AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hr,
         CAST(floor(value * 1000000.0) AS BIGINT) AS qv
  FROM events
),
s AS (
  SELECT event_type, hr, COUNT(*) AS n,
         CAST(SUM(qv) AS BIGINT) AS sm,
         CAST(SUM(CAST(qv AS HUGEINT) * qv) AS HUGEINT) AS s2
  FROM q GROUP BY event_type, hr
),
m AS (
  SELECT event_type, hr, n, sm, s2,
         CAST(n AS HUGEINT) * s2 - CAST(sm AS HUGEINT) * sm AS var_num
  FROM s
)
SELECT m.event_type, m.hr, m.n, {_SEAS_MEAN} AS mean_value,
       CAST(SUM(CASE WHEN CAST(m.n * q.qv - m.sm AS HUGEINT)
                          * CAST(m.n * q.qv - m.sm AS HUGEINT)
                          > 9 * m.var_num
                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous
FROM q JOIN m ON q.event_type = m.event_type AND q.hr = m.hr
GROUP BY m.event_type, m.hr, m.n, m.sm
"""


@register("ts_seasonal", oracle=_TS_SEASONAL_ORACLE, tags=("timeseries", "quality", "agg"))
def ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day) baseline per event source with per-cell
    anomaly counts: stats per (event_type, hour) from ONE fixed-point
    aggregate (exact BIGINT/DECIMAL sums, map-side combined — the exchange
    carries one row per cell), broadcast back onto the stream, and a second
    tiny aggregate counts the 3-sigma residuals per cell. Two linear scans,
    two cell-sized exchanges, nothing wide — at 100 TB this is the standard
    seasonal-profile screen (dq_anomaly is the same screen along the global
    axis). The sigma gate is evaluated in exact 128-bit integer arithmetic
    ((n*qv - sm)^2 > 9*(n*s2 - sm^2)) — no float boundary anywhere, so the
    count is bit-stable at any parallelism AND across engines (see the
    module comment on the DECIMAL->DOUBLE cast ulp divergence)."""
    q = table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("qv"),
    )
    s = q.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("sm"),
        F.sum(F.expr("CAST(qv AS DECIMAL(38,0)) * qv")).cast("decimal(38,0)").alias("s2"),
    )
    m = s.select(
        "event_type",
        "hr",
        "n",
        "sm",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * s2 - CAST(sm AS DECIMAL(38,0)) * CAST(sm AS DECIMAL(38,0))"
        ).alias("var_num"),
    )
    return (
        q.join(F.broadcast(m), ["event_type", "hr"])
        .groupBy("event_type", "hr", "n", "sm")
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "CAST(n * qv - sm AS DECIMAL(38,0)) * CAST(n * qv - sm AS DECIMAL(38,0))"
                        " > 9 * var_num"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalous")
        )
        .select(
            "event_type",
            "hr",
            "n",
            F.expr(_SEAS_MEAN).alias("mean_value"),
            "n_anomalous",
        )
    )


# --- ts_concurrency: sweep-line max-concurrency per day ----------------------

# each event opens a half-open activity interval [ts, ts + _CONC_MIN minutes);
# intervals that cross midnight are SPLIT at the boundary so the sweep can
# partition by day — the window never sees more than one day of boundaries,
# which is what makes the plan hold at 100 TB (a global-ordering sweep would
# serialize on one task). With [start, end) semantics an interval ending
# exactly when another starts never overlaps it; aggregating boundary deltas
# per instant BEFORE the running sum makes the sweep deterministic (no
# within-tie ordering) and catches every concurrency change, since
# concurrency only changes at boundary instants.
_CONC_MIN = 10

_TS_CONCURRENCY_ORACLE = f"""
WITH iv AS (
  SELECT ts AS s, ts + INTERVAL {_CONC_MIN} MINUTE AS e FROM events
),
seg AS (
  SELECT s, LEAST(e, date_trunc('day', s) + INTERVAL 1 DAY) AS e FROM iv
  UNION ALL
  SELECT date_trunc('day', e) AS s, e FROM iv
  WHERE e > date_trunc('day', s) + INTERVAL 1 DAY AND e > date_trunc('day', e)
),
b AS (
  SELECT date_trunc('day', s) AS day, s AS t, 1 AS delta FROM seg
  UNION ALL
  SELECT date_trunc('day', s) AS day, e AS t, -1 AS delta FROM seg
  WHERE e > s AND e <= date_trunc('day', s) + INTERVAL 1 DAY
),
net AS (
  SELECT day, t, CAST(SUM(delta) AS BIGINT) AS nd FROM b GROUP BY day, t
),
run AS (
  SELECT day, t,
         SUM(nd) OVER (PARTITION BY day ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM net
)
SELECT day, CAST(MAX(conc) AS BIGINT) AS max_concurrency,
       COUNT(*) AS n_boundary_instants
FROM run GROUP BY day
"""


@register("ts_concurrency", oracle=_TS_CONCURRENCY_ORACLE, tags=("timeseries", "window"))
def ts_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent activity per day by sweep line: explode each interval
    into day-clipped segments, each segment into (+1 at start, -1 at end)
    boundary deltas, aggregate deltas per (day, instant) — one map-side
    combined exchange — then one running-sum window PARTITIONED BY DAY over
    the per-day distinct instants (bounded by 2x events-per-day, and
    order-deterministic because instants are unique after the aggregate).
    The day-split is what scales: concurrency state never crosses a
    partition, so 1000 executors sweep 1000 days independently. A -1
    boundary landing exactly on midnight belongs to the segment's own day
    (frame end, exclusive); the next day's copy re-opens with +1 at 00:00."""
    ev = table(spark, sf_dir, "events").select(
        F.col("ts").alias("s"),
        F.expr(f"ts + INTERVAL {_CONC_MIN} MINUTE").alias("e"),
    )
    seg1 = ev.select(
        "s",
        F.least("e", F.expr("date_trunc('day', s) + INTERVAL 1 DAY")).alias("e"),
    )
    seg2 = ev.filter(
        (F.col("e") > F.expr("date_trunc('day', s) + INTERVAL 1 DAY"))
        & (F.col("e") > F.expr("date_trunc('day', e)"))
    ).select(F.expr("date_trunc('day', e)").alias("s"), "e")
    seg = seg1.unionByName(seg2)
    starts = seg.select(
        F.date_trunc("day", F.col("s")).alias("day"), F.col("s").alias("t"), F.lit(1).alias("delta")
    )
    ends = seg.filter(
        (F.col("e") > F.col("s"))
        & (F.col("e") <= F.expr("date_trunc('day', s) + INTERVAL 1 DAY"))
    ).select(
        F.date_trunc("day", F.col("s")).alias("day"), F.col("e").alias("t"), F.lit(-1).alias("delta")
    )
    net = (
        starts.unionByName(ends)
        .groupBy("day", "t")
        .agg(F.sum("delta").cast("long").alias("nd"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = net.select("day", "t", F.sum("nd").over(w).alias("conc"))
    return run.groupBy("day").agg(
        F.max("conc").cast("long").alias("max_concurrency"),
        F.count(F.lit(1)).alias("n_boundary_instants"),
    )


# --- ts_ewma: bit-exact exponential smoothing over a bounded lag chain ------

# alpha = 1/2 with an 8-term horizon. Every weight is a power of two, so each
# multiply is a bare exponent shift (exact in IEEE double), and the numerator
# and weight sum are written as the SAME left-associative + chain in both
# engines — identical operand bits through identical operations = identical
# result bits. The tail weight 2^-7 < 1%, so the truncation matches the
# usual "effective memory ~ 2/alpha" rule for streaming EWMA.
_EWMA_K = 8
_EWMA_USERS = 200


def _ewma_terms(lag_fn) -> tuple[str, str]:
    num = " + ".join(
        f"coalesce({lag_fn(k)}, 0.0) * {0.5 ** k!r}" for k in range(_EWMA_K)
    )
    den = " + ".join(
        f"(CASE WHEN {lag_fn(k)} IS NOT NULL THEN {0.5 ** k!r} ELSE 0.0 END)"
        for k in range(_EWMA_K)
    )
    return num, den


_EWMA_WIN = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
_EWMA_NUM, _EWMA_DEN = _ewma_terms(lambda k: f"lag(value, {k}) {_EWMA_WIN}")

_EWMA_SQL = f"""
SELECT user_id, event_id, value,
       ({_EWMA_NUM}) / ({_EWMA_DEN}) AS ewma
FROM events
WHERE user_id < {_EWMA_USERS}
"""


@register("ts_ewma", oracle=_EWMA_SQL, tags=("timeseries", "window"))
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per entity series, expressed
    as a BOUNDED lag chain instead of the textbook recurrence. The
    recurrence s_t = a*x_t + (1-a)*s_{t-1} is sequential per key — fine in
    a streaming stateful operator, but batch engines can't parallelize a
    per-row dependency chain. Truncating at 8 terms (tail weight < 1%)
    turns it into 8 lag() reads over ONE window sort: a single exchange on
    user_id, per-row O(1) arithmetic after it, and every series processed
    independently — 1000 executors each smooth their own keys. Power-of-two
    weights + a shared left-associative expression make the floats
    bit-identical across engines (no decimal detour needed)."""
    table(spark, sf_dir, "events").createOrReplaceTempView(scoped_view(spark, "events"))
    return spark.sql(_EWMA_SQL)


# --- ts_cusum: mean-shift change detection -----------------------------------

# Determinism note: a double running sum is NOT portable even over a
# pinned total order — Spark folds window sums sequentially but DuckDB
# evaluates them with a SEGMENT TREE, so association order differs and
# the engines drift ~1e-13 after a few hundred terms (measured). The fix
# is the repo's fixed-point rule: per-row deviations are quantized to
# integer micro-units with FLOOR (exact on identical doubles, no rounding-
# rule ambiguity), the cumulative sum runs in BIGINT (association-free),
# and the threshold compares in micro-units. The per-user mean and
# variance come from DECIMAL-exact power sums with one double division
# each.
_CUSUM_K = 3.0

_CUSUM_ORACLE = f"""
WITH stats AS (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(18, 9))) AS DOUBLE) / COUNT(*) AS mu,
         sqrt(greatest(0.0,
           CAST(SUM(CAST(value AS DECIMAL(18, 9)) * CAST(value AS DECIMAL(18, 9)))
                AS DOUBLE) / COUNT(*)
           - (CAST(SUM(CAST(value AS DECIMAL(18, 9))) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(CAST(value AS DECIMAL(18, 9))) AS DOUBLE) / COUNT(*))
         )) AS sigma
  FROM events GROUP BY user_id
),
cusum AS (
  SELECT e.user_id, e.event_id,
         SUM(CAST(FLOOR((e.value - s.mu) * 1000000.0) AS BIGINT)) OVER (
           PARTITION BY e.user_id ORDER BY e.ts, e.event_id
           ROWS UNBOUNDED PRECEDING
         ) AS s_fp,
         s.sigma
  FROM events e JOIN stats s ON e.user_id = s.user_id
)
SELECT user_id, event_id, CAST(s_fp AS DOUBLE) / 1000000.0 AS cusum
FROM cusum
WHERE abs(CAST(s_fp AS DOUBLE)) > {_CUSUM_K} * sigma * 1000000.0 AND sigma > 0.0
"""


@register("ts_cusum", oracle=_CUSUM_ORACLE, tags=("timeseries", "quality", "window"))
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift detection per user series: the cumulative sum of
    deviations from the series mean drifts away from zero when the level
    SHIFTS (a step change), while i.i.d. noise keeps it mean-reverting —
    the classic control-chart complement to dq_anomaly's pointwise
    z-scores (a small persistent shift never trips a 3σ point test but
    accumulates linearly in the CUSUM).

    Physical shape: one DECIMAL-exact per-user stats aggregate broadcast
    back onto the stream, then ONE window exchange on user_id for the
    running sum — the same two-exchange skeleton as dq_anomaly. The
    flagged rows are the operator's output, so only drift points leave
    the executors. Cross-engine exactness comes from the fixed-point
    BIGINT cumulative sum over FLOOR-quantized deviations (module note) —
    the running accumulator is association-free integer arithmetic."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    # decimal(18,9): the squared term is then decimal(37,18) — inside Spark's
    # max precision 38, so the power sum is EXACT in both engines. At (20,9)
    # the product would be precision 41 and Spark silently rounds the scale,
    # while DuckDB keeps int128 exactness — a knife-edge threshold row could
    # flip between engines at large |value| (ADVICE r5).
    dec = F.col("value").cast("decimal(18,9)")
    stats = ev.groupBy("user_id").agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.sum(dec * dec).cast("double") / F.count(F.lit(1))
                - (F.sum(dec).cast("double") / F.count(F.lit(1)))
                * (F.sum(dec).cast("double") / F.count(F.lit(1))),
            )
        ).alias("sigma"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = ev.join(F.broadcast(stats), "user_id")
    dev_fp = F.floor((F.col("value") - F.col("mu")) * 1000000.0).cast("bigint")
    flagged = joined.select(
        "user_id",
        "event_id",
        F.sum(dev_fp).over(w).alias("s_fp"),
        "sigma",
    ).filter(
        (F.abs(F.col("s_fp").cast("double")) > _CUSUM_K * F.col("sigma") * 1000000.0)
        & (F.col("sigma") > 0.0)
    )
    return flagged.select(
        "user_id", "event_id", (F.col("s_fp").cast("double") / 1000000.0).alias("cusum")
    )


# --- ts_mad_outliers: robust outlier detection (median / MAD) ----------------

# Exact medians travel the proven percentile()/quantile_cont bridge
# (agg_quantiles): both engines sort and linearly interpolate at p*(n-1),
# so the statistics are bit-identical; the deviation, threshold compare,
# and score division are single IEEE ops on identical operands.
_MAD_K = 3.5

_MAD_ORACLE = f"""
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id
),
dev AS (
  SELECT e.user_id, e.event_id, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.user_id = m.user_id
),
mad AS (
  SELECT user_id, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY user_id
)
SELECT d.user_id, d.event_id, CAST(d.value AS DOUBLE) AS value,
       d.med, m.mad, d.adev / m.mad AS score
FROM dev d JOIN mad m ON d.user_id = m.user_id
WHERE d.adev > {_MAD_K} * m.mad AND m.mad > 0.0
"""


@register("ts_mad_outliers", oracle=_MAD_ORACLE, tags=("timeseries", "quality"))
def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outliers per user series — the heavy-tail-safe
    complement to dq_anomaly's z-scores (mean and sigma are themselves
    dragged by the outliers they're meant to catch; the median absolute
    deviation has a 50% breakdown point). Two per-key exact-median
    aggregates (each one exchange on user_id) with the |V|-row stats
    tables BROADCAST back onto the stream both times — the fact table is
    never reshuffled. Exact medians sort per group, which is fine for
    bounded per-user series; unbounded keys would swap in
    approx_percentile partials (agg_approx_quantiles)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    med = ev.groupBy("user_id").agg(F.expr("percentile(value, 0.5D)").alias("med"))
    # persist the deviation frame: it feeds BOTH the MAD aggregate and the
    # final flagging pass — without the cache each consumer re-scans events
    # (4 scans total; with it, 2)
    dev = scoped_persist(
        ev.join(F.broadcast(med), "user_id").withColumn(
            "adev", F.abs(F.col("value") - F.col("med"))
        )
    )
    mad = dev.groupBy("user_id").agg(F.expr("percentile(adev, 0.5D)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "user_id")
        .filter((F.col("adev") > _MAD_K * F.col("mad")) & (F.col("mad") > 0.0))
        .select(
            "user_id",
            "event_id",
            F.col("value").cast("double").alias("value"),
            "med",
            "mad",
            (F.col("adev") / F.col("mad")).alias("score"),
        )
    )


# --- ts_interval_merge: overlapping-interval coalescing ----------------------

# Every quantity is integer microseconds (unix_micros / epoch_us + a
# floor-quantized duration), so island detection and the merged bounds are
# association-free integer work — exact on any partitioning and in DuckDB.
# The (start, event_id) window order is unique, pinning the prefix sets.
_IVL_MERGE_ORACLE = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(floor(value * 60.0) AS BIGINT) * 1000000
           + 60000000 AS e
  FROM events
),
mk AS (
  SELECT user_id, event_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
),
isl AS (
  SELECT user_id, s, e,
         SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM mk
)
SELECT user_id, CAST(island AS BIGINT) AS island,
       min(s) AS merged_start, max(e) AS merged_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       max(e) - min(s) AS span_us
FROM isl GROUP BY user_id, island
"""


@register("ts_interval_merge", oracle=_IVL_MERGE_ORACLE, tags=("timeseries", "window"))
def ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping validity intervals per user (each event opens an
    interval of 1 + value-scaled minutes) into maximal disjoint spans —
    the interval-coalescing primitive behind uptime stitching, session
    coverage, and calendar merging. The gaps-and-islands formulation
    needs ONE window exchange on user_id: a running max(end) over
    strictly-preceding rows detects island starts, a running sum assigns
    island ids, and a same-key groupBy (exchange reused) folds each
    island to its bounds. Contrast the naive interval self-join: O(n²)
    per key and a second shuffle. All arithmetic is integer microseconds
    — bit-exact across engines and layouts."""
    ev = table(spark, sf_dir, "events")
    s = F.unix_micros(F.to_timestamp("ts"))
    e = s + (F.floor(F.col("value") * 60.0).cast("bigint") * F.lit(1000000)) + F.lit(
        60000000
    )
    iv = ev.select("user_id", "event_id", s.alias("s"), e.alias("e"))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mk = iv.withColumn("pme", F.max("e").over(w_prev))
    isl = mk.withColumn(
        "island",
        F.sum(
            F.when(F.col("pme").isNull() | (F.col("s") > F.col("pme")), 1).otherwise(0)
        ).over(w_run),
    )
    return isl.groupBy("user_id", F.col("island").cast("bigint").alias("island")).agg(
        F.min("s").alias("merged_start"),
        F.max("e").alias("merged_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("e") - F.min("s")).alias("span_us"),
    )


# --- ts_trend_slope: rolling OLS trend over a bounded lag chain --------------

# The ts_ewma recipe applied to least squares: the trailing-8 OLS slope is
# a CLOSED FORM in the current value plus 7 lags with integer x-offsets
# (0, -1 .. -7), so one window sort feeds the lag() reads and a fixed
# arithmetic tree. The SAME SQL text runs in both engines — identical
# left-associative chains on identical doubles give identical bits.
# With x = -k: Sx = -28, Sxx = 140, n = 8 -> n*Sxx - Sx^2 = 336, and
# slope = (8*Sxy + 28*Sy) / 336 where Sxy = -(1*y1 + 2*y2 + ... + 7*y7).
_SLOPE_K = 8
_SLOPE_WIN = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
_SLOPE_SY = "value + " + " + ".join(
    f"lag(value, {k}) {_SLOPE_WIN}" for k in range(1, _SLOPE_K)
)
_SLOPE_SXY = " - ".join(
    f"{k}.0 * lag(value, {k}) {_SLOPE_WIN}" for k in range(1, _SLOPE_K)
)

_TREND_SLOPE_SQL = f"""
SELECT user_id, event_id, slope FROM (
  SELECT user_id, event_id,
         lag(value, {_SLOPE_K - 1}) {_SLOPE_WIN} AS oldest,
         (8.0 * (0.0 - {_SLOPE_SXY}) + 28.0 * ({_SLOPE_SY})) / 336.0 AS slope
  FROM events
) WHERE oldest IS NOT NULL
"""


@register("ts_trend_slope", oracle=_TREND_SLOPE_SQL, tags=("timeseries", "window"))
def ts_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ordinary-least-squares trend per user series: the slope of
    the best-fit line over the trailing 8 observations — the local trend
    detector behind rate-of-change alerting and the batch analog of
    Holt's linear term. Like ts_ewma, the per-row recurrence is unrolled
    into a bounded lag chain: ONE window exchange on user_id, then pure
    per-row arithmetic (the OLS closed form with integer x-offsets, so
    Sx/Sxx/n are compile-time constants and only the two y-sums touch
    data). 1000 executors each fit their own keys; no state, no
    iteration. The identical SQL text runs in DuckDB — float parity by
    construction (shared expression tree, ts_ewma note)."""
    table(spark, sf_dir, "events").createOrReplaceTempView(scoped_view(spark, "events"))
    return spark.sql(_TREND_SLOPE_SQL)


# --- ts_downsample: representative-point downsampling (LTTB-style) -----------

# True LTTB is sequential (each pick depends on the previous); this is the
# parallel variant real dashboards ship: fixed hourly buckets, neighbor
# anchors are the adjacent buckets' DECIMAL-exact means, and each bucket
# keeps its max-deviation point. Selection over identical doubles is
# order-free, so the whole thing is engine-exact without quantization.
# Tiebreak (equal dev): lowest event_id — Spark expresses it as ONE
# max_by(struct(dev, -event_id)); DuckDB's arg_max lacks struct
# comparators (llm_dedup_keep_best note), so the oracle spells the same
# selection as max-dev join-back + min(event_id).
_DOWNSAMPLE_ORACLE = """
WITH pts AS (
  SELECT user_id, event_id, value,
         epoch_us(ts) // 3600000000 AS bucket
  FROM events
),
stats AS (
  SELECT user_id, bucket,
         CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) / COUNT(*) AS avg_v,
         CAST(COUNT(*) AS BIGINT) AS n_in_bucket
  FROM pts GROUP BY user_id, bucket
),
anchored AS (
  SELECT user_id, bucket, avg_v, n_in_bucket,
         coalesce(lag(avg_v) OVER w, avg_v) AS prev_avg,
         coalesce(lead(avg_v) OVER w, avg_v) AS next_avg
  FROM stats
  WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
),
scored AS (
  SELECT p.user_id, p.bucket, p.event_id, p.value, a.n_in_bucket,
         abs(p.value - (a.prev_avg + a.next_avg) / 2.0) AS dev
  FROM pts p JOIN anchored a ON p.user_id = a.user_id AND p.bucket = a.bucket
),
md AS (
  SELECT user_id, bucket, max(dev) AS dev FROM scored GROUP BY user_id, bucket
)
SELECT s.user_id, s.bucket,
       min(s.event_id) AS event_id,
       arg_min(s.value, s.event_id) AS value,
       min(s.dev) AS dev,
       min(s.n_in_bucket) AS n_in_bucket
FROM scored s
JOIN md ON s.user_id = md.user_id AND s.bucket = md.bucket AND s.dev = md.dev
GROUP BY s.user_id, s.bucket
"""


@register("ts_downsample", oracle=_DOWNSAMPLE_ORACLE, tags=("timeseries", "window"))
def ts_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB-style representative-point downsampling: per (user, hour)
    keep the single point deviating most from the line between the
    neighbor buckets' means — the visualization/preview reduction that
    preserves spikes where naive per-bucket averaging flattens them.
    Parallel shape: bucket means in one hash aggregate (DECIMAL-exact),
    neighbor anchors via lag/lead over a per-user window on the
    aggregated rows, then the per-bucket argmax as ONE max_by(struct)
    on the re-join — co-partitioned on (user, bucket) at scale (AQE
    broadcasts the anchor side only while it is genuinely small).
    True LTTB's pick-depends-on-previous chain cannot parallelize; the
    fixed-anchor variant is the standard scale-out compromise and is
    deterministic enough to value-hash across engines."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        "value",
        # integer div, not `/` + cast: double division of a near-boundary
        # epoch can round up across the bucket edge while DuckDB's `//`
        # floors exactly — integer div is identical in both engines
        F.expr("unix_micros(to_timestamp(ts)) div 3600000000").alias("bucket"),
    )
    stats = pts.groupBy("user_id", "bucket").agg(
        (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))).alias("avg_v"),
        F.count(F.lit(1)).alias("n_in_bucket"),
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    anchored = stats.select(
        "user_id",
        "bucket",
        "n_in_bucket",
        F.coalesce(F.lag("avg_v").over(w), F.col("avg_v")).alias("prev_avg"),
        F.coalesce(F.lead("avg_v").over(w), F.col("avg_v")).alias("next_avg"),
    )
    # no broadcast hint: the anchor table is |users x buckets| rows — small
    # at fixture scale (AQE picks BHJ) but NOT broadcastable at 100 TB,
    # where this becomes a co-partitioned join on (user_id, bucket) sharing
    # the stats aggregate's exchange
    scored = pts.join(anchored, ["user_id", "bucket"]).select(
        "user_id",
        "bucket",
        "event_id",
        "value",
        "n_in_bucket",
        F.abs(F.col("value") - (F.col("prev_avg") + F.col("next_avg")) / 2.0).alias("dev"),
    )
    return scored.groupBy("user_id", "bucket").agg(
        F.expr("max_by(event_id, struct(dev, -event_id))").alias("event_id"),
        F.expr("max_by(value, struct(dev, -event_id))").alias("value"),
        F.max("dev").alias("dev"),
        F.min("n_in_bucket").alias("n_in_bucket"),
    )


# --- ts_autocorr ----------------------------------------------------------------

# Lag-k autocorrelation per user series. Like agg_corr, the built-in corr()
# keeps float state whose result depends on partition combine order, so both
# engines instead accumulate EXACT fixed-point sums (values quantized to
# BIGINT micro-units; the double multiply+floor is the same IEEE op in both
# engines) and derive Pearson r with one shared final double expression.
_AC_NUM = "(CAST(n{k} AS DOUBLE) * CAST(sxy{k} AS DOUBLE) - CAST(sx{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE))"
_AC_DEN_X = "sqrt(greatest(CAST(0 AS DOUBLE), CAST(n{k} AS DOUBLE) * CAST(sx2{k} AS DOUBLE) - CAST(sx{k} AS DOUBLE) * CAST(sx{k} AS DOUBLE)))"
_AC_DEN_Y = "sqrt(greatest(CAST(0 AS DOUBLE), CAST(n{k} AS DOUBLE) * CAST(sy2{k} AS DOUBLE) - CAST(sy{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE)))"


def _ac_expr(k: int) -> str:
    return (
        f"{_AC_NUM.format(k=k)} / nullif({_AC_DEN_X.format(k=k)} * {_AC_DEN_Y.format(k=k)}, "
        f"CAST(0 AS DOUBLE))"
    )


def _ac_sums(k: int) -> str:
    """Shared (Spark ∩ DuckDB) conditional-sum fragment for lag k pairs."""
    return f"""
         COUNT(l{k}) AS n{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN l{k} END) AS BIGINT) AS sx{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN q END) AS BIGINT) AS sy{k},
         SUM(CASE WHEN l{k} IS NOT NULL THEN CAST(l{k} AS DECIMAL(38, 0)) * q END) AS sxy{k},
         SUM(CASE WHEN l{k} IS NOT NULL THEN CAST(l{k} AS DECIMAL(38, 0)) * l{k} END) AS sx2{k},
         SUM(CASE WHEN l{k} IS NOT NULL THEN CAST(q AS DECIMAL(38, 0)) * q END) AS sy2{k}"""


_AUTOCORR_ORACLE = f"""
WITH q AS (
  SELECT user_id,
         CAST(floor(value * 1000000.0) AS BIGINT) AS q,
         LAG(CAST(floor(value * 1000000.0) AS BIGINT), 1) OVER w AS l1,
         LAG(CAST(floor(value * 1000000.0) AS BIGINT), 2) OVER w AS l2
  FROM events
  WHERE user_id < 50
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, {_ac_sums(1)}, {_ac_sums(2)}
  FROM q GROUP BY user_id
)
SELECT user_id, n1 AS n_lag1, {_ac_expr(1)} AS ac_lag1, n2 AS n_lag2, {_ac_expr(2)} AS ac_lag2
FROM s
"""


@register("ts_autocorr", oracle=_AUTOCORR_ORACLE, tags=("timeseries", "window", "agg"))
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series lag-1/lag-2 autocorrelation — the serial-dependence audit a
    sensor pipeline runs before alerting on trends (the reference stores raw
    hourly series, main.py:146-175, with no dependence diagnostics).

    Shape: ONE window exchange keyed on user_id produces both lag columns,
    and the following groupBy(user_id) hash aggregate REUSES that
    partitioning (Catalyst elides the second exchange), so the whole query
    is a single shuffle whose payload is three BIGINT columns. All sums are
    exact fixed-point (map-side combinable, combine-order independent) —
    bit-stable on 32 cores or 1000 executors; the float division happens
    once per group at the end, identically in both engines. nullif guards
    constant series (zero variance → NULL, not a sqrt domain error)."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    qcol = F.expr("CAST(floor(value * 1000000.0) AS BIGINT)")
    q = ev.select(
        "user_id",
        qcol.alias("q"),
        F.lag(qcol, 1).over(w).alias("l1"),
        F.lag(qcol, 2).over(w).alias("l2"),
    )
    s = q.groupBy("user_id").agg(
        *[
            F.expr(frag.strip()).alias(alias)
            for k in (1, 2)
            for frag, alias in (
                (f"COUNT(l{k})", f"n{k}"),
                (f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN l{k} END) AS BIGINT)", f"sx{k}"),
                (f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN q END) AS BIGINT)", f"sy{k}"),
                (
                    f"SUM(CASE WHEN l{k} IS NOT NULL THEN CAST(l{k} AS DECIMAL(38, 0)) * q END)",
                    f"sxy{k}",
                ),
                (
                    f"SUM(CASE WHEN l{k} IS NOT NULL THEN CAST(l{k} AS DECIMAL(38, 0)) * l{k} END)",
                    f"sx2{k}",
                ),
                (
                    f"SUM(CASE WHEN l{k} IS NOT NULL THEN CAST(q AS DECIMAL(38, 0)) * q END)",
                    f"sy2{k}",
                ),
            )
        ]
    )
    return s.select(
        "user_id",
        F.col("n1").alias("n_lag1"),
        F.expr(_ac_expr(1)).alias("ac_lag1"),
        F.col("n2").alias("n_lag2"),
        F.expr(_ac_expr(2)).alias("ac_lag2"),
    )


# --- ts_sliding_corr: rolling cross-series Pearson correlation ----------------

# Rolling 7-day correlation between a user's view-value and click-value
# daily series — the co-movement monitor (sensor cross-validation, price/
# volume, engagement channels). The ts_autocorr fixed-point recipe with a
# ROLLING frame: daily sums quantized to BIGINT micro-units, rolling
# power sums over ROWS 6 PRECEDING (DECIMAL(38,0) products — exact), one
# shared final double expression. Rolling SUMs of integers are exact under
# any fold order, sqrt/division are single IEEE ops on identical operands
# -> engine-exact, unlike a rolling corr() of floats.
_SC_NUM = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
_SC_DEN = (
    "(sqrt(greatest(CAST(0 AS DOUBLE), CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
    " * sqrt(greatest(CAST(0 AS DOUBLE), CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
)
_SC_CORR = f"{_SC_NUM} / nullif({_SC_DEN}, CAST(0 AS DOUBLE))"

_SLIDING_CORR_ORACLE = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
              THEN CAST(floor(value * 1000000.0) AS BIGINT) END), 0) AS BIGINT) AS xq,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
              THEN CAST(floor(value * 1000000.0) AS BIGINT) END), 0) AS BIGINT) AS yq
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
rolled AS (
  SELECT user_id, day,
         CAST(COUNT(*) OVER w7 AS BIGINT) AS n,
         CAST(SUM(xq) OVER w7 AS BIGINT) AS sx,
         CAST(SUM(yq) OVER w7 AS BIGINT) AS sy,
         SUM(CAST(xq AS DECIMAL(38, 0)) * yq) OVER w7 AS sxy,
         SUM(CAST(xq AS DECIMAL(38, 0)) * xq) OVER w7 AS sx2,
         SUM(CAST(yq AS DECIMAL(38, 0)) * yq) OVER w7 AS sy2
  FROM daily
  WINDOW w7 AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT user_id, CAST(day AS VARCHAR) AS day, n AS n_window, {_SC_CORR} AS corr_xy
FROM rolled WHERE n >= 3
"""


@register("ts_sliding_corr", oracle=_SLIDING_CORR_ORACLE, tags=("timeseries", "window"))
def ts_sliding_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day Pearson correlation between two per-user daily
    series (view value vs click value). ONE hash aggregate to the
    (user, day) grain — exchange carries two BIGINTs per row — then ONE
    window exchange on user_id computing all six rolling power sums in a
    single Window node; the correlation itself is a row-local expression.
    At 100 TB the day-grain aggregate makes the window input tiny
    (days x users, not events), which is why the pre-aggregation comes
    first — never run a rolling frame over raw events when the grain is
    coarser. Fixed-point sums keep every partial exact; see module
    docstring for the float-corr pitfall."""
    ev = table(spark, sf_dir, "events")
    qv = "CAST(floor(value * 1000000.0) AS BIGINT)"
    daily = ev.groupBy(
        "user_id", F.expr("CAST(ts AS DATE)").alias("day")
    ).agg(
        F.expr(
            f"CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN {qv} END), 0) AS BIGINT)"
        ).alias("xq"),
        F.expr(
            f"CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN {qv} END), 0) AS BIGINT)"
        ).alias("yq"),
    )
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    rolled = daily.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(w7).cast("bigint").alias("n"),
        F.sum("xq").over(w7).cast("bigint").alias("sx"),
        F.sum("yq").over(w7).cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(xq AS DECIMAL(38, 0)) * yq")).over(w7).alias("sxy"),
        F.sum(F.expr("CAST(xq AS DECIMAL(38, 0)) * xq")).over(w7).alias("sx2"),
        F.sum(F.expr("CAST(yq AS DECIMAL(38, 0)) * yq")).over(w7).alias("sy2"),
    )
    return rolled.filter(F.col("n") >= 3).select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.col("n").alias("n_window"),
        F.expr(_SC_CORR).alias("corr_xy"),
    )


# --- ts_period_over_period: MoM / YoY growth ----------------------------------

# The BI staple: monthly revenue per nation with month-over-month and
# year-over-year deltas from lag(1)/lag(12) over the month series. Money
# in exact cents; pct change is one double division on identical integer
# operands. The month grain makes the window input (nations x months)
# trivially small regardless of fact-table size — the aggregate does the
# heavy lifting, the window is bookkeeping.
_POP_ORACLE = """
WITH monthly AS (
  SELECT n_name AS nation, DATE_TRUNC('month', o_orderdate) AS month,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, DATE_TRUNC('month', o_orderdate)
),
lagged AS (
  SELECT nation, month, rev_cents,
         LAG(rev_cents, 1) OVER w AS prev_m,
         LAG(rev_cents, 12) OVER w AS prev_y
  FROM monthly WINDOW w AS (PARTITION BY nation ORDER BY month)
)
SELECT nation, CAST(CAST(month AS DATE) AS VARCHAR) AS month, rev_cents,
       rev_cents - prev_m AS mom_cents,
       rev_cents - prev_y AS yoy_cents,
       CAST(rev_cents - prev_m AS DOUBLE) / nullif(prev_m, 0) AS mom_pct
FROM lagged
"""


@register("ts_period_over_period", oracle=_POP_ORACLE, tags=("timeseries", "window"))
def ts_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth per nation —
    the period-comparison report every BI layer ships. One fact-sized
    hash aggregate to the (nation, month) grain (dims broadcast), then
    lag(1)/lag(12) over a window whose input is nations x months — a few
    hundred rows at ANY fact scale, so the window cost is constant while
    the aggregate scans scale-out. Cents are exact integers; the growth
    pct is a single IEEE division on identical operands."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    monthly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100.0) AS BIGINT)"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("nation").orderBy("month")
    lagged = monthly.select(
        "nation",
        "month",
        "rev_cents",
        F.lag("rev_cents", 1).over(w).alias("prev_m"),
        F.lag("rev_cents", 12).over(w).alias("prev_y"),
    )
    return lagged.select(
        "nation",
        F.col("month").cast("date").cast("string").alias("month"),
        "rev_cents",
        (F.col("rev_cents") - F.col("prev_m")).alias("mom_cents"),
        (F.col("rev_cents") - F.col("prev_y")).alias("yoy_cents"),
        (
            (F.col("rev_cents") - F.col("prev_m")).cast("double")
            / F.expr("nullif(prev_m, 0)")
        ).alias("mom_pct"),
    )


# --- ts_forecast_baseline: seasonal-naive backtest ----------------------------

# The honest forecasting baseline every pipeline needs before anything
# fancier: predict each (source, day-of-week, hour) cell's value as the
# TRAINING-window mean for that cell, score the final week against it.
# Day-of-week portability: Spark dayofweek() is 1=Sunday..7, DuckDB
# date_part('dow') is 0=Sunday..6 — the Spark side subtracts 1 so both
# engines key on 0..6. All accumulation is fixed-point: per-row values
# FLOOR-quantized to BIGINT micro-units, the cell mean is an exact integer
# division (truncation — all values positive), and MAE/bias divide exact
# BIGINT sums — no float ever crosses an aggregation.
_FC_SPLIT = "TIMESTAMP '2024-01-22 00:00:00'"

_FC_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         CAST(date_part('dow', ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hr,
         CAST(floor(value * 1000000.0) AS BIGINT) AS qv,
         ts < {_FC_SPLIT} AS is_train
  FROM events
),
fc AS (
  SELECT event_type, dow, hr,
         CAST(SUM(qv) AS BIGINT) // COUNT(*) AS fc_micro
  FROM base WHERE is_train
  GROUP BY event_type, dow, hr
),
scored AS (
  SELECT b.event_type, b.qv, f.fc_micro
  FROM base b JOIN fc f
    ON f.event_type = b.event_type AND f.dow = b.dow AND f.hr = b.hr
  WHERE NOT b.is_train
)
SELECT event_type,
       COUNT(*) AS n_test,
       CAST(SUM(abs(qv - fc_micro)) AS DOUBLE) / COUNT(*) / 1000000.0 AS mae,
       CAST(SUM(qv - fc_micro) AS DOUBLE) / COUNT(*) / 1000000.0 AS bias
FROM scored
GROUP BY event_type
"""


@register("ts_forecast_baseline", oracle=_FC_ORACLE, tags=("timeseries", "agg"))
def ts_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: train on the first three weeks,
    predict each (source, day-of-week, hour) cell as its training mean,
    report MAE and signed bias per source over the held-out final week —
    the baseline any forecasting / capacity-planning feature must beat,
    and the shape of every batch backtest (fit = aggregate, predict =
    join, score = aggregate).

    Scale: ONE scan feeds both phases; the model is ≤ sources×7×24 cells
    (map-side-combined aggregate, then BROADCAST back onto the held-out
    slice — the fact table never shuffles); the scoring aggregate is
    map-side combinable on event_type. Fixed-point integer arithmetic
    end-to-end (see module comment) makes the backtest engine-exact."""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.dayofweek("ts") - F.lit(1)).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("qv"),
        (F.col("ts") < F.expr(_FC_SPLIT)).alias("is_train"),
    )
    fc = (
        base.filter("is_train")
        .groupBy("event_type", "dow", "hr")
        .agg(F.expr("CAST(SUM(qv) AS BIGINT) div COUNT(*)").alias("fc_micro"))
    )
    scored = base.filter(~F.col("is_train")).join(
        F.broadcast(fc), ["event_type", "dow", "hr"]
    )
    n = F.count(F.lit(1))
    return scored.groupBy("event_type").agg(
        n.alias("n_test"),
        (
            F.sum(F.abs(F.col("qv") - F.col("fc_micro"))).cast("double")
            / n
            / F.lit(1000000.0)
        ).alias("mae"),
        (
            F.sum(F.col("qv") - F.col("fc_micro")).cast("double")
            / n
            / F.lit(1000000.0)
        ).alias("bias"),
    )


# --- ts_twa: time-weighted average ---------------------------------------------

# Plain AVG over irregular sensor readings over-weights bursts: ten
# readings in a noisy minute count ten times what one reading covering a
# quiet hour does. The time-weighted average integrates value × holding
# time (last-observation-carried-forward between consecutive readings) —
# the metric billing meters, SLA monitors and air-quality reporting
# actually need. Exactness: value quantized to milli-units (FLOOR —
# identical double op both engines), holding time to integer
# milliseconds via identical integer division; the integral is then a
# SUM of BIGINT products (≤ 1e6 × 8.6e7 per segment — no overflow), and
# the single final division runs on identical operands. The last reading
# of each (type, day) holds no segment (dt undefined → excluded), and
# all-identical-timestamp groups (total dt 0) are dropped, not divided.
_TWA_ORACLE = """
WITH seg AS (
  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(floor(value * 1000.0) AS BIGINT) AS v_milli,
         (lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000 AS dt_ms
  FROM events
  WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY epoch_us(ts), event_id)
)
SELECT event_type, day,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(dt_ms) AS BIGINT) AS covered_ms,
       CAST(SUM(v_milli * dt_ms) AS BIGINT) AS integral_milli_ms,
       CAST(SUM(v_milli * dt_ms) AS DOUBLE) / (1000.0 * SUM(dt_ms)) AS twa
FROM seg
WHERE dt_ms IS NOT NULL
GROUP BY event_type, day
HAVING SUM(dt_ms) > 0
"""


@register("ts_twa", oracle=_TWA_ORACLE, tags=("timeseries",))
def ts_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per (event_type, day): integrate value ×
    holding-time over consecutive readings (LOCF) and divide by covered
    time — the burst-robust mean for irregular telemetry.

    Scale shape: ONE exchange on (event_type, day) serves both the
    lead() window (segment construction) and the integral aggregate
    (same keys — Catalyst reuses the partitioning); every shuffled row
    is (type, day, BIGINT, BIGINT). Integer milli-value × milli-second
    products keep the integral commutative and bit-portable (see module
    comment); day strings ride the portable yyyy-MM-dd contract."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.to_timestamp("ts"))
    base = ev.select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") * 1000.0).cast("bigint").alias("v_milli"),
        us.alias("us"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    seg = base.select(
        "event_type",
        "day",
        "v_milli",
        ((F.lead("us").over(w) - F.col("us")) / F.lit(1000))
        .cast("bigint")
        .alias("dt_ms"),
    ).filter(F.col("dt_ms").isNotNull())
    return (
        seg.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("dt_ms").cast("bigint").alias("covered_ms"),
            F.sum(F.col("v_milli") * F.col("dt_ms"))
            .cast("bigint")
            .alias("integral_milli_ms"),
            (
                F.sum(F.col("v_milli") * F.col("dt_ms")).cast("double")
                / (F.lit(1000.0) * F.sum("dt_ms"))
            ).alias("twa"),
        )
        .filter(F.col("covered_ms") > 0)
    )


# --- ts_theilsen: robust trend (median of pairwise slopes) ---------------------

# OLS trend (ts_trend_slope) is one outlier away from nonsense; the
# Theil–Sen estimator — the MEDIAN of all pairwise slopes — has a 29%
# breakdown point and is THE robust trend line for noisy telemetry.
# Pairwise over DAYS (not raw rows): the daily pre-aggregate bounds the
# pair stage to days²/2 per series (~4k pairs for a quarter of data) no
# matter how many raw readings exist — the same bounded-panel discipline
# as llm_ngram_jaccard. Exactness: the daily mean is quantized FIRST —
# mean_mu = SUM(FLOOR(value·10⁶)) div COUNT(*), an exact BIGINT integer
# division (error < 1 micro-unit, identical both engines) — and each
# slope is FLOOR(1000 × (mean_mu_j − mean_mu_i) / (10⁶·Δday)): every
# intermediate stays ~10⁹ regardless of rows per day, so nothing can
# overflow at ANY scale (the cross-multiplied s·c alternative exceeds
# int64 around 10⁸ rows/day·type). No raw double ever enters the
# ranking; the median picks the LOWER middle element (rank (m+1)//2),
# an actual quantized slope — integer-exact in both engines.
_THEILSEN_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) - DATE '1970-01-01' AS d,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT))
              // COUNT(*) AS BIGINT) AS mean_mu
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
slopes AS (
  SELECT a.event_type,
         CAST(floor(1000.0 * (b.mean_mu - a.mean_mu)
              / (1000000.0 * (b.d - a.d))) AS BIGINT) AS slope_milli
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.d > a.d
),
ranked AS (
  SELECT event_type, slope_milli,
         row_number() OVER (PARTITION BY event_type ORDER BY slope_milli) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM slopes
)
SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
       slope_milli AS ts_slope_milli,
       CAST(slope_milli AS DOUBLE) / 1000.0 AS ts_slope_per_day
FROM ranked WHERE rn = (m + 1) // 2
"""


@register("ts_theilsen", oracle=_THEILSEN_ORACLE, tags=("timeseries",))
def ts_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event_type: the median pairwise slope of
    the DAILY series — the 29%-breakdown alternative to ts_trend_slope's
    OLS, for telemetry where spikes would hijack a least-squares fit.

    Scale shape: the raw stream collapses to one (type, day, BIGINT sum,
    count) row per day FIRST (partial/final hash aggregate — the only
    corpus-sized work); the quadratic pair stage runs on that bounded
    daily table (days²/2 per series, independent of raw volume) as a
    type-keyed equi-join, and the median is one rank window per type.
    Slopes rank as cross-multiplied BIGINTs — no float in the order key
    (see module comment)."""
    ev = table(spark, sf_dir, "events")
    # persist the bounded daily table: both pair-join branches read it, so
    # without this the corpus-sized aggregate (the expensive stage) runs
    # twice — scoped_persist caps it at ONE scan of events. The mean is
    # quantized to BIGINT micro-units HERE (div — exact integer division)
    # so the pair stage works on ~1e9-magnitude integers at any scale.
    daily = scoped_persist(
        ev.groupBy(
            "event_type", F.unix_date(F.to_date("ts")).cast("bigint").alias("d")
        ).agg(
            F.expr(
                "CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT))"
                " div COUNT(*) AS BIGINT)"
            ).alias("mean_mu")
        )
    )
    a = daily.select(
        "event_type",
        F.col("d").alias("d_a"),
        F.col("mean_mu").alias("m_a"),
    )
    b = daily.select(
        "event_type",
        F.col("d").alias("d_b"),
        F.col("mean_mu").alias("m_b"),
    )
    slopes = a.join(b, "event_type").filter(F.col("d_b") > F.col("d_a")).select(
        "event_type",
        F.floor(
            F.lit(1000.0)
            * (F.col("m_b") - F.col("m_a"))
            / (F.lit(1000000.0) * (F.col("d_b") - F.col("d_a")))
        )
        .cast("bigint")
        .alias("slope_milli"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_milli")
    wc = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope_milli",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("m"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(m + 1) div 2")
    ).select(
        "event_type",
        F.col("m").cast("bigint").alias("n_pairs"),
        F.col("slope_milli").alias("ts_slope_milli"),
        (F.col("slope_milli").cast("double") / 1000.0).alias("ts_slope_per_day"),
    )


# --- ts_changepoint: CUSUM argmax change-point per series ---------------------

# Daily (event_type, 'YYYY-MM-DD') cells of floored micro-unit values, the
# BIGINT series the ts_changepoint, ts_drawdown and ts_peak_detect oracles
# scan.
_DAILY_X_DUCK = """SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')"""

# Offline change-point estimation (the "when did the level shift" question
# behind incident timelines and A/B launch audits): for each event_type's
# daily-volume series x_1..x_n, the CUSUM statistic
# S_k = n·(x_1+..+x_k) − k·(x_1+..+x_n) peaks at the most likely mean-shift
# index. Everything is BIGINT: x is the FLOOR-micro-quantized daily value
# sum, so S_k is exact in both engines (no float drift, no ordering
# sensitivity). Overflow bound: |S_k| ≤ n_days · tot_micro — with 30 days
# and value ≤ ~600, tot_micro reaches ~1.2e16 at sf100, keeping S under
# 4e17, well inside int64; the cliff (tot_micro > 3e17) is three decades
# past that.
_CHANGEPOINT_ORACLE = f"""
WITH daily AS ({_DAILY_X_DUCK}),
cum AS (
  SELECT event_type, day, x,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
         CAST(SUM(x) OVER w AS BIGINT) AS cum_x,
         CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT event_type, day, k, n_days,
         n_days * cum_x - k * tot AS s,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY abs(n_days * cum_x - k * tot) DESC, k ASC)
           AS rnk
  FROM cum
)
SELECT event_type, n_days, day AS cp_day, k AS cp_k, s AS cusum_stat
FROM scored WHERE rnk = 1
"""


@register("ts_changepoint", oracle=_CHANGEPOINT_ORACLE, tags=("timeseries",))
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM change-point per event_type: the day k maximizing
    |n·cumsum_k − k·total| over the daily-volume series — the most likely
    mean-shift index (incident timelines, launch audits). ts_cusum tracks
    the running drift; this names the single most likely break.

    Scale shape: the corpus collapses to the (type, day) daily cell table
    in ONE map-side-combined aggregate — bounded by types × days at any
    input size; every window after that (cumsum, total, argmax rank) runs
    on the cell table inside one type-keyed exchange. All arithmetic is
    BIGINT on FLOOR-micro-quantized sums: S_k is exact in both engines,
    and |S_k| ≤ n_days · tot_micro keeps int64 headroom through sf100+
    (see oracle comment)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    cum = daily.select(
        "event_type",
        "day",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("bigint")
        .alias("k"),
        F.sum("x").over(wcum).cast("bigint").alias("cum_x"),
        F.sum("x").over(wall).cast("bigint").alias("tot"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n_days"),
    )
    s = F.col("n_days") * F.col("cum_x") - F.col("k") * F.col("tot")
    scored = cum.select(
        "event_type",
        "day",
        "k",
        "n_days",
        s.alias("s"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.abs(s).desc(), F.col("k").asc()
            )
        )
        .alias("rnk"),
    )
    return scored.filter(F.col("rnk") == 1).select(
        "event_type",
        "n_days",
        F.col("day").alias("cp_day"),
        F.col("k").alias("cp_k"),
        F.col("s").alias("cusum_stat"),
    )


# --- ts_drawdown: maximum drawdown of the cumulative daily series ------------

# The path-dependent risk statistic running extrema alone don't give: how
# far the cumulative series fell from its best-so-far peak, and when. The
# "equity curve" is the running total of daily micro-quantized value sums
# per event_type; drawdown_k = runmax(cum)_k − cum_k; the answer is the
# worst (largest) drawdown with its trough day and the peak day it fell
# from. All BIGINT — same overflow envelope as ts_changepoint.
_DRAWDOWN_ORACLE = f"""
WITH daily AS ({_DAILY_X_DUCK}),
curve AS (
  SELECT event_type, day, x,
         CAST(SUM(x) OVER w AS BIGINT) AS cum
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
dd AS (
  SELECT event_type, day, cum,
         CAST(MAX(cum) OVER w AS BIGINT) AS peak,
         CAST(MAX(cum) OVER w AS BIGINT) - cum AS drawdown
  FROM curve
  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ranked AS (
  SELECT event_type, day, peak, drawdown,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY drawdown DESC, day ASC) AS rnk,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
  FROM dd
)
SELECT event_type, n_days, day AS trough_day, peak AS peak_cum_micro,
       drawdown AS max_drawdown_micro
FROM ranked WHERE rnk = 1
"""


@register("ts_drawdown", oracle=_DRAWDOWN_ORACLE, tags=("timeseries",))
def ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per event_type: the deepest fall of the cumulative
    daily-value curve below its running peak, with the trough day — the
    path-dependent severity statistic behind SLA burn-down and revenue-dip
    audits (win_running_extrema gives the extrema; this measures the gap
    between them in sequence).

    Scale shape: identical envelope to ts_changepoint — one map-side
    combined corpus collapse to (type, day) cells, then cumsum / running
    max / argmax windows all inside one type-keyed exchange on the
    bounded cell table. BIGINT micro-units throughout; drawdown ≥ 0 by
    construction (running max includes the current row)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = daily.select(
        "event_type", "day", F.sum("x").over(wcum).cast("bigint").alias("cum")
    )
    dd = curve.select(
        "event_type",
        "day",
        F.max("cum").over(wcum).cast("bigint").alias("peak"),
        (F.max("cum").over(wcum) - F.col("cum")).cast("bigint").alias("drawdown"),
    )
    wall = Window.partitionBy("event_type")
    ranked = dd.select(
        "event_type",
        "day",
        "peak",
        "drawdown",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("drawdown").desc(), F.col("day").asc()
            )
        )
        .alias("rnk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n_days"),
    )
    return ranked.filter(F.col("rnk") == 1).select(
        "event_type",
        "n_days",
        F.col("day").alias("trough_day"),
        F.col("peak").alias("peak_cum_micro"),
        F.col("drawdown").alias("max_drawdown_micro"),
    )


# --- ts_peak_detect: strict local maxima of the daily series ------------------

# The alerting primitive between ts_mad_outliers (distribution outliers)
# and ts_changepoint (single break): which DAYS are strict local peaks of
# each series, with their prominence over the higher neighbor. Neighbor
# comparison is lag/lead on the bounded (type, day) cell table; BIGINT
# micro-units end to end, so peak membership is bit-identical in both
# engines (no float tie ambiguity).
_PEAK_ORACLE = f"""
WITH daily AS ({_DAILY_X_DUCK}),
nb AS (
  SELECT event_type, day, x,
         LAG(x)  OVER w AS prev_x,
         LEAD(x) OVER w AS next_x
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
)
SELECT event_type, day, x AS x_micro, prev_x AS prev_micro,
       next_x AS next_micro,
       x - CASE WHEN prev_x > next_x THEN prev_x ELSE next_x END
         AS prominence_micro
FROM nb
WHERE prev_x IS NOT NULL AND next_x IS NOT NULL
  AND x > prev_x AND x > next_x
"""


@register("ts_peak_detect", oracle=_PEAK_ORACLE, tags=("timeseries",))
def ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local-maximum days per event_type with prominence over the
    higher neighbor — the spike-alert primitive (campaign day, incident
    burst) that names WHICH days peaked, where ts_mad_outliers only says
    how far from typical they were.

    Scale shape: the ts_changepoint envelope — one map-side-combined
    corpus collapse to (type, day) cells, one lag/lead window inside the
    type-keyed exchange on the bounded cell table, row-local peak
    predicate. BIGINT micro-units make peak membership exact (float ties
    can't flip a comparison differently per engine)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    nb = daily.select(
        "event_type",
        "day",
        "x",
        F.lag("x").over(w).alias("prev_x"),
        F.lead("x").over(w).alias("next_x"),
    )
    return nb.filter(
        F.col("prev_x").isNotNull()
        & F.col("next_x").isNotNull()
        & (F.col("x") > F.col("prev_x"))
        & (F.col("x") > F.col("next_x"))
    ).select(
        "event_type",
        "day",
        F.col("x").alias("x_micro"),
        F.col("prev_x").alias("prev_micro"),
        F.col("next_x").alias("next_micro"),
        (F.col("x") - F.greatest("prev_x", "next_x")).alias("prominence_micro"),
    )


# --- ts_markov_transitions: event-type transition matrix ----------------------

# Each event with its user's previous event type (ties on ts broken by
# event_id), shared by the ts_markov_transitions and ts_entropy_rate
# oracles.
_TRANSITIONS_DUCK = """SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events"""

# The first-order Markov view of user behavior: for every consecutive pair
# of events within a user's timeline, count (prev_type -> next_type) and
# the conditional P(next|prev). Session-path analytics (what follows a
# "view"?), bot signatures (self-loops), and the input grain for
# graph_reciprocity's directed graph. The per-user ordering ties on ts are
# broken by event_id, so lag() is a total order in both engines.
_MARKOV_ORACLE = f"""
WITH seq AS ({_TRANSITIONS_DUCK}),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n_trans,
       CAST(n_trans AS DOUBLE)
         / CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE) AS p_trans
FROM pairs
"""


@register("ts_markov_transitions", oracle=_MARKOV_ORACLE, tags=("timeseries", "window"))
def ts_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    counts and conditional probabilities for every (prev_type, next_type)
    bigram, with (ts, event_id) total ordering inside each user.

    Scale shape: ONE user-keyed exchange feeds the lag window (each
    executor sorts only its own users), then the corpus collapses
    map-side into the |types|² cell table; the row-total window rides
    that bounded table, and p_trans divides two exact BIGINTs, so the
    doubles are identical in both engines."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_trans",
        (F.col("n_trans").cast("double") / F.sum("n_trans").over(tot).cast("double")).alias(
            "p_trans"
        ),
    )


# --- ts_interarrival: inter-event cadence profile ------------------------------

# The cadence statistic behind rate limiting, bot detection (machine-gun
# gaps), and capacity planning: per-user inter-arrival gaps, profiled at
# the event-type grain of the LATER event. Gaps are exact BIGINT epoch-
# second differences, so mean (exact-operand division) and interpolated
# percentiles (percentile == quantile_cont, pinned by agg_quantiles) are
# bit-identical cross-engine.
_INTERARRIVAL_ORACLE = """
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) // 1000000
           - LAG(epoch_us(ts) // 1000000)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_gaps,
       CAST(SUM(gap_s) AS BIGINT) AS total_gap_s,
       CAST(SUM(gap_s) AS DOUBLE) / COUNT(*) AS mean_gap_s,
       quantile_cont(gap_s, 0.5) AS p50_gap_s,
       quantile_cont(gap_s, 0.95) AS p95_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
FROM seq WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


@register("ts_interarrival", oracle=_INTERARRIVAL_ORACLE, tags=("timeseries", "window"))
def ts_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival cadence profile: per-user gaps between consecutive
    events ((ts, event_id) total order), aggregated per type of the later
    event — n, total, mean, p50/p95 (interpolated exact), max seconds.

    Scale shape: the ts_markov_transitions envelope — ONE user-keyed
    exchange for the lag window, then a map-side-combined collapse to the
    |types|-grain cell table (the exact percentile is the honest small-
    domain choice; approx_percentile is the 100 TB drop-in). Gaps are
    exact BIGINT second differences."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) div 1000000"
    )
    seq = ev.select(
        "event_type", (sec - F.lag(sec).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").cast("bigint").alias("total_gap_s"),
        (F.sum("gap_s").cast("double") / F.count(F.lit(1))).alias("mean_gap_s"),
        F.expr("percentile(gap_s, 0.5D)").alias("p50_gap_s"),
        F.expr("percentile(gap_s, 0.95D)").alias("p95_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
    )


# --- ts_cov_matrix: pairwise covariance/correlation of daily type activity -----

# The multivariate companion to agg_corr's single pair: the full
# covariance + correlation matrix of per-day event-type counts — do
# purchases co-move with views day over day? Which signals are redundant?
# The matrix grain is |types|², the inputs exact BIGINT day-counts, so
# every moment is an integer power sum and the only doubles are closing
# divisions of exact operands (ROUND(9) for the sqrt ulp).
_COV_ORACLE = """
WITH cells AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY day, event_type
),
days AS (SELECT DISTINCT day FROM cells),
grid AS (
  SELECT d.day, t.event_type, coalesce(c.c, 0) AS c
  FROM days d CROSS JOIN (SELECT DISTINCT event_type FROM cells) t
  LEFT JOIN cells c ON c.day = d.day AND c.event_type = t.event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_days,
         CAST(SUM(a.c) AS BIGINT) AS sa, CAST(SUM(b.c) AS BIGINT) AS sb,
         CAST(SUM(a.c * b.c) AS BIGINT) AS sab,
         CAST(SUM(a.c * a.c) AS BIGINT) AS saa,
         CAST(SUM(b.c * b.c) AS BIGINT) AS sbb
  FROM grid a JOIN grid b ON a.day = b.day AND a.event_type <= b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n_days,
       (CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb / n_days) / n_days AS cov,
       ROUND((CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb / n_days)
             / sqrt((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / n_days)
                    * (CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / n_days)), 9)
         AS corr
FROM pairs
"""


@register("ts_cov_matrix", oracle=_COV_ORACLE, tags=("timeseries", "stats"))
def ts_cov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance + correlation matrix of per-day event-type counts (upper
    triangle incl. diagonal) — the co-movement / signal-redundancy view
    one pairwise agg_corr can't give.

    Scale shape: the corpus collapses map-side into the (day, type) cell
    table — bounded by horizon × domain — and is PERSISTED; the dense
    day grid (absent cells = 0, required for honest covariance) and the
    pair self-join both run on that bounded table (broadcast at any
    corpus size). Counts are exact BIGINTs, so all five power sums are
    integer-exact; the closing divisions see exact operands, ROUND(9)
    on corr for the sqrt ulp."""
    from ..session import scoped_persist

    ev = table(spark, sf_dir, "events")
    day = F.expr(
        "CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) "
        "div 86400000000 AS BIGINT)"
    )
    cells = scoped_persist(
        ev.groupBy(day.alias("day"), F.col("event_type")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
    )
    days = cells.select("day").distinct()
    types = cells.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(cells, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    a = grid.alias("a")
    b = grid.alias("b")
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") <= F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("a.c").cast("bigint").alias("sa"),
            F.sum("b.c").cast("bigint").alias("sb"),
            F.sum(F.col("a.c") * F.col("b.c")).cast("bigint").alias("sab"),
            F.sum(F.col("a.c") * F.col("a.c")).cast("bigint").alias("saa"),
            F.sum(F.col("b.c") * F.col("b.c")).cast("bigint").alias("sbb"),
        )
    )
    n = F.col("n_days").cast("double")
    cov = (F.col("sab").cast("double") - F.col("sa").cast("double") * F.col("sb") / n) / n
    va = F.col("saa").cast("double") - F.col("sa").cast("double") * F.col("sa") / n
    vb = F.col("sbb").cast("double") - F.col("sb").cast("double") * F.col("sb") / n
    return pairs.select(
        "type_a",
        "type_b",
        "n_days",
        cov.alias("cov"),
        F.round(
            (F.col("sab").cast("double") - F.col("sa").cast("double") * F.col("sb") / n)
            / F.sqrt(va * vb),
            9,
        ).alias("corr"),
    )


# --- ts_decay_score: exponential time-decay (recency-weighted) score -----------

# The recency weighting every ranking/engagement pipeline applies before
# aggregating history: each event contributes value · 2^(-age_days/7)
# (7-day half-life), anchored to the corpus max day so the score is a
# pure function of the data. The per-row product is FLOOR-quantized to
# micro-units BEFORE summation (a raw double sum of decay terms is
# partition-order-dependent).
#
# Cross-engine exactness (ADVICE r7): pow() with a fractional exponent is
# libm-dependent (Java Math.pow permits 1-ulp error vs glibc's correctly
# rounded pow), so a product within an ulp of an integer flips floor() by
# one micro-unit. The weight is instead DEFINED as frac[age % 7] / 2^(age
# div 7): frac is a 7-entry table of shortest-roundtrip double literals
# (both engines parse decimal literals correctly rounded, so they see
# identical doubles), and division by an exact power of two plus the two
# multiplies are IEEE correctly-rounded basic ops — bit-exact everywhere,
# no libm in the expression. Ages past 62 half-life weeks (q > 62, where
# 2^q leaves BIGINT) are defined as weight 0 in both engines.
_DECAY_FRAC = (
    "1.0",
    "0.9057236642639067",
    "0.820335356007638",
    "0.7429971445684742",
    "0.6729500963161781",
    "0.6095068271022377",
    "0.5520447568369062",
)
_DECAY_FRAC_CASE = "CASE CAST(({age}) % 7 AS INTEGER) " + " ".join(
    f"WHEN {r} THEN {lit}" for r, lit in enumerate(_DECAY_FRAC)
) + " END"

_DECAY_ORACLE = f"""
WITH anchor AS (
  SELECT MAX(epoch_us(ts) // 86400000000) AS max_day FROM events
),
t AS (
  SELECT event_type,
         CASE WHEN a.max_day - (epoch_us(ts) // 86400000000) > 7 * 62 THEN 0
              ELSE CAST(floor(
                value
                * {_DECAY_FRAC_CASE.format(age="a.max_day - (epoch_us(ts) // 86400000000)")}
                * 1000000.0
                / CAST(CAST(1 AS BIGINT) << CAST(
                    (a.max_day - (epoch_us(ts) // 86400000000)) // 7 AS INTEGER)
                  AS DOUBLE)) AS BIGINT)
         END AS term,
         CAST(value AS DECIMAL(18, 9)) AS v
  FROM events CROSS JOIN anchor a
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(term) AS DOUBLE) / 1000000.0 AS decay_score,
       ROUND(CAST(SUM(v) AS DOUBLE), 6) AS raw_sum,
       ROUND((CAST(SUM(term) AS DOUBLE) / 1000000.0) / CAST(SUM(v) AS DOUBLE), 9)
         AS freshness_ratio
FROM t GROUP BY event_type
"""


@register("ts_decay_score", oracle=_DECAY_ORACLE, tags=("timeseries", "agg"))
def ts_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement score per event type: each event
    contributes value · 2^(-age_days / 7) (7-day half-life against the
    corpus max day), next to the raw sum and their ratio — how "fresh"
    each signal is, the weighting feed-ranking and churn models apply.

    Scale shape: the anchor is a one-row broadcast; the decay projection
    and FLOOR-micro quantization run in codegen per row, so the single
    exchange carries (type, n, Σterm, Σv) cells — order-free BIGINT /
    DECIMAL sums (a raw double decay sum would be partition-order-
    dependent). The weight avoids libm entirely — frac[age%7] literal
    table / exact 2^(age div 7) shift, all IEEE correctly-rounded basic
    ops — so the quantized terms are bit-exact cross-engine (ADVICE r7;
    see _DECAY_ORACLE comment)."""
    ev = table(spark, sf_dir, "events")
    day_sql = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " div 86400000000"
    )
    anchor = ev.agg(F.max(F.expr(day_sql)).alias("max_day"))
    age_sql = f"max_day - ({day_sql})"
    frac_case = _DECAY_FRAC_CASE.format(age=age_sql).replace("INTEGER", "INT")
    term_sql = (
        f"CASE WHEN {age_sql} > 7 * 62 THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(floor(value * {frac_case} * 1000000.0 "
        f"/ CAST(shiftleft(CAST(1 AS BIGINT), "
        f"CAST(({age_sql}) div 7 AS INT)) AS DOUBLE)) AS BIGINT) END"
    )
    t = ev.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        F.expr(term_sql).alias("term"),
        F.col("value").cast("decimal(18,9)").alias("v"),
    )
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("term").cast("double") / 1000000.0).alias("decay_score"),
        # ROUND(6)/ROUND(9): the exact decimal sum's double conversion can
        # differ by one ulp past 2^53 (the agg_geomean sf10 finding).
        F.round(F.sum("v").cast("double"), 6).alias("raw_sum"),
        F.round(
            (F.sum("term").cast("double") / 1000000.0)
            / F.sum("v").cast("double"),
            9,
        ).alias("freshness_ratio"),
    )


# --- ts_holt: Holt double exponential smoothing (level + trend) ---------------


def _daily_micro_duck(col: str) -> str:
    """Daily (event_type, DATE) cells: the exact DECIMAL sum of the day's
    values, floored to micro-units as BIGINT column ``col``."""
    return f"""SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(SUM(CAST(value AS DECIMAL(18, 9))) * 1000000) AS BIGINT) AS {col}
  FROM events GROUP BY event_type, CAST(ts AS DATE)"""


# ts_forecast_baseline carries naive/seasonal-naive/drift;
# ts_ewma smooths level only. Holt's linear-trend method is the next rung
# every capacity-planning pipeline climbs: level and trend recursions
# l_t = a·x_t + (1-a)(l_{t-1} + b_{t-1}), b_t = g(l_t - l_{t-1}) +
# (1-g)b_{t-1} with a = g = 1/2, so both updates are ARITHMETIC RIGHT
# SHIFTS on micro-quantized BIGINTs: (x + l + b) >> 1 and
# (b + (l_new - l)) >> 1. Shift semantics on negatives are floor in both
# engines (Java >> and DuckDB >> are arithmetic), so the whole recursion
# is integer-exact cross-engine — no libm, no float accumulation. The
# per-type recursion folds a CELL-BOUNDED day array (|days|, not |rows|).
# Oracle note: DuckDB 1.0.0's list_reduce mis-evaluates struct-typed
# accumulators past 2 elements (verified with a 3-element probe whose
# pairwise replay gives a different answer), so the oracle expresses the
# identical recursion as a RECURSIVE CTE over the day index instead —
# the Spark side's aggregate() fold is a true left fold and needs no
# workaround.
_HOLT_ORACLE = f"""
WITH RECURSIVE daily AS ({_daily_micro_duck('v')}),
idx AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k
  FROM daily
),
nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM idx GROUP BY event_type),
rec AS (
  SELECT event_type, k, v AS l, CAST(0 AS BIGINT) AS t
  FROM idx WHERE k = 1
  UNION ALL
  SELECT i.event_type, i.k,
         (i.v + r.l + r.t) >> 1 AS l,
         (r.t + (((i.v + r.l + r.t) >> 1) - r.l)) >> 1 AS t
  FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.k = r.k + 1
)
SELECT r.event_type, nd.n_days,
       r.l AS level_micro, r.t AS trend_micro,
       r.l + r.t AS forecast_next_micro,
       CAST(r.l + r.t AS DOUBLE) / 1000000.0 AS forecast_next
FROM rec r JOIN nd ON nd.event_type = r.event_type AND nd.n_days = r.k
"""


@register("ts_holt", oracle=_HOLT_ORACLE, tags=("timeseries", "forecast"))
def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing of the daily total per event
    type: level + trend recursion with alpha = gamma = 1/2, one-step-ahead
    forecast = level + trend. The half-weights make every update an
    arithmetic shift over micro-quantized BIGINTs — the recursion is
    integer-exact on both engines (see oracle comment).

    Scale shape: ONE map-side-combinable aggregate collapses the stream to
    the (type, day) grain; the sequential fold then runs over a
    cell-bounded array (days per type — a constant of the calendar, not
    the corpus), per type in parallel. This is the batch analog of a
    stateful streaming smoother: sequential in time, embarrassingly
    parallel across keys."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.floor(F.sum(F.col("value").cast("decimal(18,9)")) * 1000000)
        .cast("bigint")
        .alias("v")
    )
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("dv"),
    )
    fold = (
        "aggregate(slice(vs, 2, greatest(size(vs) - 1, 0)), "
        "named_struct('l', element_at(vs, 1), 't', cast(0 as bigint)), "
        "(acc, x) -> named_struct("
        "'l', shiftright(x + acc.l + acc.t, 1), "
        "'t', shiftright(acc.t + (shiftright(x + acc.l + acc.t, 1) - acc.l), 1)))"
    )
    fitted = series.select(
        "event_type",
        "n_days",
        F.expr(fold.replace("vs", "transform(dv, p -> p.v)")).alias("st"),
    )
    return fitted.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("st.l").alias("level_micro"),
        F.col("st.t").alias("trend_micro"),
        (F.col("st.l") + F.col("st.t")).alias("forecast_next_micro"),
        ((F.col("st.l") + F.col("st.t")).cast("double") / 1000000.0).alias(
            "forecast_next"
        ),
    )


# --- ts_bollinger: rolling volatility bands over the daily series --------------

# The volatility-band monitor on top of the daily grain every ops
# dashboard draws: 7-day rolling mean +/- 2 population sigma per event
# type, with a breach flag. Exactness recipe: daily totals are the
# micro-quantized BIGINTs of ts_holt; the 7-row window sums s1 = sum(v)
# and s2 = sum(v^2) are exact DECIMAL(38,0) accumulations, and the
# BREACH decision is made entirely in integers — |v - s1/7| > 2*sigma
# is multiplied through by 49 into (7v - s1)^2 > 4*(7*s2 - s1^2), so
# the flag can never flip on a double ulp (the ts_seasonal 3-sigma-gate
# recipe). Only the *reported* band edges are doubles, ROUND(6) from
# exact operands.
_BOLLINGER_ORACLE = f"""
WITH daily AS ({_daily_micro_duck('v')}),
w AS (
  SELECT event_type, day, v,
         SUM(CAST(v AS HUGEINT)) OVER w7 AS s1,
         SUM(CAST(v AS HUGEINT) * v) OVER w7 AS s2,
         COUNT(*) OVER w7 AS cnt
  FROM daily
  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(day AS VARCHAR) AS day, v AS v_micro,
       ROUND(CAST(s1 AS DOUBLE) / 7e6, 6) AS mean_7d,
       ROUND((CAST(s1 AS DOUBLE) + 2 * sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE))) / 7e6, 6)
         AS upper_band,
       ROUND((CAST(s1 AS DOUBLE) - 2 * sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE))) / 7e6, 6)
         AS lower_band,
       CAST(CASE WHEN CAST(7 * v - s1 AS HUGEINT) * (7 * v - s1)
                      > 4 * (7 * s2 - s1 * s1)
                 THEN 1 ELSE 0 END AS BIGINT) AS breach
FROM w WHERE cnt = 7
"""


@register("ts_bollinger", oracle=_BOLLINGER_ORACLE, tags=("timeseries", "anomaly"))
def ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the per-type daily series: 7-day rolling mean
    +/- 2 population sigma, plus an integer-exact breach flag — the
    rolling companion to ts_seasonal's per-slot 3-sigma gate. Band edges
    are doubles from exact integer window sums; the breach comparison is
    multiplied through by 49 so it never touches a double (see module
    comment).

    Scale shape: ONE map-side collapse to the (type, day) grain, then a
    7-ROW window per type over the day-grain table — cell-bounded by the
    calendar, not the corpus; partitions parallelize across types and the
    frame is O(1) per row."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.floor(F.sum(F.col("value").cast("decimal(18,9)")) * 1000000)
        .cast("bigint")
        .alias("v")
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    w = daily.select(
        "event_type",
        "day",
        "v",
        F.sum(d("v")).over(w7).alias("s1"),
        F.sum(d("v") * F.col("v")).over(w7).alias("s2"),
        F.count(F.lit(1)).over(w7).alias("cnt"),
    ).filter(F.col("cnt") == 7)
    delta = 7 * F.col("s2") - F.col("s1") * F.col("s1")  # 49 * window variance
    dev7 = 7 * d("v") - F.col("s1")  # 7 * (v - mean)
    return w.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("v").alias("v_micro"),
        F.round(F.col("s1").cast("double") / 7e6, 6).alias("mean_7d"),
        F.round(
            (F.col("s1").cast("double") + 2 * F.sqrt(delta.cast("double"))) / 7e6, 6
        ).alias("upper_band"),
        F.round(
            (F.col("s1").cast("double") - 2 * F.sqrt(delta.cast("double"))) / 7e6, 6
        ).alias("lower_band"),
        F.when(dev7 * dev7 > 4 * delta, 1).otherwise(0).cast("bigint").alias("breach"),
    )


# --- ts_rsi: relative strength index over the daily series ---------------------

# Momentum-regime classification of the daily totals: 14-day SMA-based
# RSI per event type. Gains and losses are BIGINT differences of the
# micro-quantized daily totals, the 14-row window sums are exact, and the
# overbought/oversold verdicts are cross-multiplied into pure integer
# comparisons (RSI > 70 <=> 3*gain_sum > 7*loss_sum), so the regime
# label can never flip on a double ulp. Only the reported RSI value is a
# double, ROUND(6) from exact operands; the zero-movement window
# (gain_sum = loss_sum = 0) is pinned to the 50.0 convention in both
# engines.
_RSI_ORACLE = f"""
WITH daily AS ({_daily_micro_duck('v')}),
d AS (
  SELECT event_type, day,
         v - lag(v) OVER (PARTITION BY event_type ORDER BY day) AS delta
  FROM daily
),
gl AS (
  SELECT event_type, day,
         greatest(delta, 0) AS gain, greatest(-delta, 0) AS loss
  FROM d WHERE delta IS NOT NULL
),
w AS (
  SELECT event_type, day,
         SUM(CAST(gain AS HUGEINT)) OVER w14 AS sg,
         SUM(CAST(loss AS HUGEINT)) OVER w14 AS sl,
         COUNT(*) OVER w14 AS cnt
  FROM gl
  WINDOW w14 AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       CASE WHEN sg + sl = 0 THEN 50.0
            ELSE ROUND(100.0 * CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE), 6)
       END AS rsi_14,
       CASE WHEN 3 * sg > 7 * sl THEN 'overbought'
            WHEN 7 * sg < 3 * sl THEN 'oversold'
            ELSE 'neutral' END AS signal
FROM w WHERE cnt = 14
"""


@register("ts_rsi", oracle=_RSI_ORACLE, tags=("timeseries", "forecast"))
def ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day SMA relative strength index of the daily total per event
    type, with integer-exact overbought (RSI > 70) / oversold (RSI < 30)
    regime labels — the momentum companion to ts_ewma (level) and ts_holt
    (trend). Cross-multiplied comparisons keep the label decision in
    BIGINTs (see module comment).

    Scale shape: ONE map-side collapse to the (type, day) grain, a lag
    and a 14-ROW window over the cell-bounded day table — O(1) frame per
    row, parallel across types, nothing downstream of the first
    aggregate sees a fact-table row."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.floor(F.sum(F.col("value").cast("decimal(18,9)")) * 1000000)
        .cast("bigint")
        .alias("v")
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    d = daily.select(
        "event_type", "day", (F.col("v") - F.lag("v").over(wlag)).alias("delta")
    ).filter(F.col("delta").isNotNull())
    gl = d.select(
        "event_type",
        "day",
        F.greatest("delta", F.lit(0)).alias("gain"),
        F.greatest(-F.col("delta"), F.lit(0)).alias("loss"),
    )
    w14 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, Window.currentRow)
    )
    w = gl.select(
        "event_type",
        "day",
        F.sum(F.col("gain").cast("decimal(38,0)")).over(w14).alias("sg"),
        F.sum(F.col("loss").cast("decimal(38,0)")).over(w14).alias("sl"),
        F.count(F.lit(1)).over(w14).alias("cnt"),
    ).filter(F.col("cnt") == 14)
    return w.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.when(F.col("sg") + F.col("sl") == 0, F.lit(50.0))
        .otherwise(
            F.round(
                100.0 * F.col("sg").cast("double")
                / (F.col("sg") + F.col("sl")).cast("double"),
                6,
            )
        )
        .alias("rsi_14"),
        F.when(3 * F.col("sg") > 7 * F.col("sl"), "overbought")
        .when(7 * F.col("sg") < 3 * F.col("sl"), "oversold")
        .otherwise("neutral")
        .alias("signal"),
    )


# --- ts_leadlag: lagged cross-correlation between two daily series -------------

# "Do views LEAD purchases, and by how many days?" — the lead-lag scan
# every growth/attribution analysis runs: Pearson correlation between the
# global daily view series and the purchase series shifted by each lag in
# [-3, +3]. Micro-quantized BIGINT daily totals make all six moments per
# lag exact DECIMAL(38,0) sums; the closing correlation sees exact
# operands (ROUND(9) for the int128/BigDecimal double ulp). Day pairs
# that fall off either series end drop via the inner join, so each lag's
# n_days is part of the answer, not an artifact.
_LEADLAG_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
              THEN CAST(floor(value * 1000000.0) AS BIGINT) END), 0) AS BIGINT) AS xq,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * 1000000.0) AS BIGINT) END), 0) AS BIGINT) AS yq
  FROM events GROUP BY CAST(ts AS DATE)
),
lagged AS (
  SELECT t.l AS lag, a.xq, b.yq
  FROM daily a
  CROSS JOIN UNNEST(range(-3, 4)) AS t(l)
  JOIN daily b ON b.day = a.day + CAST(t.l AS INTEGER)
),
m AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(yq AS HUGEINT)) AS sy,
         SUM(CAST(xq AS HUGEINT) * yq) AS sxy,
         SUM(CAST(xq AS HUGEINT) * xq) AS sx2,
         SUM(CAST(yq AS HUGEINT) * yq) AS sy2
  FROM lagged GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n_days,
       CASE WHEN (n_days * sx2 - sx * sx) > 0 AND (n_days * sy2 - sy * sy) > 0
            THEN ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n_days * sx2 - sx * sx AS DOUBLE)
                              * CAST(n_days * sy2 - sy * sy AS DOUBLE)), 9)
            ELSE NULL END AS corr_xy
FROM m
"""


@register("ts_leadlag", oracle=_LEADLAG_ORACLE, tags=("timeseries", "stats"))
def ts_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation: Pearson correlation between the daily
    view series and the purchase series shifted by each lag in [-3, +3]
    — positive peak at a positive lag means views lead purchases by that
    many days. The cross-series companion to ts_sliding_corr (same-day,
    per-user) and ts_autocorr (self-lag). Exact integer moments per lag
    (see oracle comment).

    Scale shape: ONE map-side collapse to the |days|-row daily grain; the
    7x lag explode and self-join operate on that cell-bounded table
    (calendar-sized, not corpus-sized), and the per-lag moment aggregate
    outputs 7 rows. Nothing downstream of the first aggregate sees a
    fact-table row."""
    ev = table(spark, sf_dir, "events")
    q = lambda t: F.sum(  # noqa: E731
        F.when(
            F.col("event_type") == t,
            F.floor(F.col("value") * 1000000.0).cast("bigint"),
        )
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.coalesce(q("view"), F.lit(0)).cast("bigint").alias("xq"),
        F.coalesce(q("purchase"), F.lit(0)).cast("bigint").alias("yq"),
    )
    daily = scoped_persist(daily)
    a = daily.select("day", "xq").crossJoin(
        F.broadcast(spark.range(-3, 4).select(F.col("id").cast("int").alias("lag")))
    )
    b = daily.select(F.col("day").alias("bday"), "yq")
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = (
        a.join(b, F.expr("date_add(day, lag)") == F.col("bday"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(d("xq")).alias("sx"),
            F.sum(d("yq")).alias("sy"),
            F.sum(d("xq") * d("yq")).alias("sxy"),
            F.sum(d("xq") * d("xq")).alias("sx2"),
            F.sum(d("yq") * d("yq")).alias("sy2"),
        )
    )
    nd = F.col("n_days").cast("decimal(38,0)")
    vx = nd * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = nd * F.col("sy2") - F.col("sy") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n_days",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(
                num.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")), 9
            ),
        ).alias("corr_xy"),
    )


# --- ts_calendar_profile: day-of-week x hour seasonality heatmap ----------------

# The seasonality fingerprint behind every traffic dashboard: for each
# event type, how activity distributes over the 7x24 calendar cells, with
# each cell's share of its type's total. Cross-engine day-of-week is the
# one trap: Spark weekday() is Monday=0 while DuckDB isodow() is
# Monday=1, so the Spark side ships weekday(ts)+1 and both engines see
# ISO numbering. Counts and micro-sums are exact integers; the share is
# one ROUND(9) division of two exact BIGINTs.
_CAL_PROFILE_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
           AS sum_value_micro
  FROM events
  GROUP BY 1, 2, 3
)
SELECT event_type, dow, hr, n_events, sum_value_micro,
       ROUND(CAST(n_events AS DOUBLE)
             / SUM(n_events) OVER (PARTITION BY event_type), 9) AS share
FROM cells
"""


@register("ts_calendar_profile", oracle=_CAL_PROFILE_ORACLE, tags=("timeseries",))
def ts_calendar_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality profile: per event type, the 7x24
    day-of-week x hour activity heatmap with each cell's share of the
    type's events — ISO day numbering in both engines (weekday()+1 ==
    isodow(), see oracle comment).

    Scale shape: ONE map-side collapse to the <= |types| x 168 cell
    grain; the share window rides that dimension-sized cell table
    partitioned by type. Nothing after the first aggregate sees an
    event row."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.expr("weekday(ts)") + 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("sum_value_micro"),
    )
    w = Window.partitionBy("event_type")
    return cells.select(
        "event_type", "dow", "hr", "n_events", "sum_value_micro",
        F.round(
            F.col("n_events").cast("double") / F.sum("n_events").over(w), 9
        ).alias("share"),
    )


# --- ts_macd: dyadic MACD momentum indicator over the daily series -------------

# MACD = fast EWMA minus slow EWMA, with a signal line smoothing the
# MACD itself and a histogram of their gap — the trend-shift detector
# paired with ts_rsi (levels) and ts_bollinger (volatility). This is the
# DYADIC variant: decay factors 1/2 (fast), 3/4 (slow) and 1/2 (signal)
# make every weight (1-a)^k an EXACT double literal (3^k/4^k, mantissa-
# representable through k=11), so each weighted term is one correctly-
# rounded IEEE multiply of identical operands and the numerator/
# denominator chains are the SAME left-associative sums in both engines
# — identical bits with zero libm, the ts_ewma recipe with a second
# window layer for the signal lag. Truncated horizons: 8 taps fast, 12
# taps slow, 4 taps signal (tail weights < 4%).
_MACD_FAST_K = 8
_MACD_SLOW_K = 12
_MACD_SIG_K = 4


def _macd_chain(lag_fn, base: float, k: int) -> tuple[str, str]:
    # "e0" suffix: plain fractional literals parse as DECIMAL in both
    # engines and their precision/coercion rules differ (Spark capped
    # DECIMAL chains vs DuckDB widening) — scientific notation forces
    # DOUBLE in both, so the chain is pure IEEE ops on identical bits
    num = " + ".join(
        f"coalesce({lag_fn(j)}, 0.0e0) * {base ** j!r}e0" for j in range(k)
    )
    den = " + ".join(
        f"(CASE WHEN {lag_fn(j)} IS NOT NULL THEN {base ** j!r}e0 ELSE 0.0e0 END)"
        for j in range(k)
    )
    return num, den


_MACD_WIN = "OVER (PARTITION BY event_type ORDER BY day)"
_MACD_FN, _MACD_FD = _macd_chain(lambda j: f"lag(vd, {j}) {_MACD_WIN}", 0.5, _MACD_FAST_K)
_MACD_SN, _MACD_SD = _macd_chain(lambda j: f"lag(vd, {j}) {_MACD_WIN}", 0.75, _MACD_SLOW_K)
_SIG_N, _SIG_D = _macd_chain(lambda j: f"lag(macd, {j}) {_MACD_WIN}", 0.5, _MACD_SIG_K)

_MACD_CORE = f"""
m AS (
  SELECT event_type, day, vd,
         ({_MACD_FN}) / ({_MACD_FD}) - ({_MACD_SN}) / ({_MACD_SD}) AS macd
  FROM daily
),
s AS (
  SELECT event_type, day, vd, macd,
         ({_SIG_N}) / ({_SIG_D}) AS signal
  FROM m
)
SELECT event_type, CAST(day AS VARCHAR) AS day, vd AS v_micro,
       macd, signal, macd - signal AS histogram,
       CAST(CASE WHEN macd > signal THEN 1 ELSE 0 END AS BIGINT) AS bullish
FROM s
"""

_MACD_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(CAST(floor(SUM(CAST(value AS DECIMAL(18, 9))) * 1000000)
              AS BIGINT) AS DOUBLE) AS vd
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
{_MACD_CORE}
"""


@register("ts_macd", oracle=_MACD_ORACLE, tags=("timeseries",))
def ts_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic MACD over the per-type daily series: fast (decay 1/2) minus
    slow (decay 3/4) truncated EWMAs, a signal line re-smoothing the MACD
    (decay 1/2), the histogram, and an integer bullish flag — bit-exact
    across engines because every weight is an exact dyadic/3^k-over-4^k
    double literal and both engines evaluate the identical
    left-associative chain (see header comment; no libm anywhere).

    Scale shape: ONE map-side collapse to the |types| x |days| daily
    grain; both window layers ride that calendar-bounded cell table
    partitioned by type. The 8/12/4-tap truncation makes each row O(1)
    regardless of history length — no recursive state, so the plan is
    embarrassingly parallel across types and needs no stateful
    streaming operator."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.floor(F.sum(F.col("value").cast("decimal(18,9)")) * 1000000)
        .cast("bigint")
        .cast("double")
        .alias("vd")
    )
    m = daily.select(
        "event_type", "day", "vd",
        F.expr(
            f"({_MACD_FN}) / ({_MACD_FD}) - ({_MACD_SN}) / ({_MACD_SD})"
        ).alias("macd"),
    )
    s = m.select(
        "event_type", "day", "vd", "macd",
        F.expr(f"({_SIG_N}) / ({_SIG_D})").alias("signal"),
    )
    return s.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("vd").alias("v_micro"),
        "macd", "signal",
        (F.col("macd") - F.col("signal")).alias("histogram"),
        F.when(F.col("macd") > F.col("signal"), 1).otherwise(0).cast("bigint").alias(
            "bullish"
        ),
    )

# --- ts_vwap: volume-weighted average price per calendar bucket ----------------

# The weighting rung the series family was missing: ts_twa weights by TIME
# in state, ts_vwap weights by VOLUME traded — the execution-quality
# benchmark unit price per ship month. l_extendedprice is already the
# quantity-extended line total, so the volume-weighted mean UNIT price
# collapses to the exact ratio sum(price) / sum(qty): both sums are exact
# cent / centi-unit BIGINTs summed in DECIMAL(38,0) (associative, no 2^63
# ceiling), and ONE closing division of the identical decimal-cast
# doubles lands the price (cents per centi-unit = currency per unit). The
# month key is integer year*100+month arithmetic — no date formatting
# divergence.
_VWAP_ORACLE = """
WITH px AS (
  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
         CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS cents,
         CAST(floor(l_quantity * 100.0) AS BIGINT) AS q
  FROM lineitem
)
SELECT ship_month,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(q AS DECIMAL(38,0))) AS BIGINT) AS vol_centi,
       CASE WHEN SUM(CAST(q AS DECIMAL(38,0))) = 0 THEN NULL
            ELSE ROUND(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                       / CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE), 9)
       END AS vwap_unit_price
FROM px
GROUP BY ship_month
"""


@register("ts_vwap", oracle=_VWAP_ORACLE, tags=("timeseries",))
def ts_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average unit price of shipped lines per calendar
    month — sum(extended price) / sum(quantity), the execution-benchmark
    complement to ts_twa's time weighting (l_extendedprice is already
    quantity-extended, so the volume weighting is exactly this ratio).
    Exact cent/centi-unit integers summed in DECIMAL(38,0) (see oracle
    comment for why BIGINT sums would hit the 2^63 ceiling), one closing
    identical-double division; the cent/centi scales cancel.

    Scale shape: ONE map-side-combinable collapse straight from the fact
    scan to the |months| calendar grain — the shuffle carries months, not
    lines; decimal partials combine associatively on any partitioning."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0).cast("bigint")
    centi = F.floor(F.col("l_quantity") * 100.0).cast("bigint")
    px = li.select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("bigint")
        .alias("ship_month"),
        cents.alias("cents"),
        centi.alias("q"),
    )
    return px.groupBy("ship_month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("q").cast("decimal(38,0)")).cast("bigint").alias("vol_centi"),
        F.when(
            F.sum(F.col("q").cast("decimal(38,0)")) == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                F.sum(F.col("cents").cast("decimal(38,0)")).cast("double")
                / F.sum(F.col("q").cast("decimal(38,0)")).cast("double"),
                9,
            )
        )
        .alias("vwap_unit_price"),
    )


# --- ts_stochastic: %K / %D stochastic oscillator over the daily series --------

# Where-in-the-range momentum beside ts_rsi's up/down balance and
# ts_macd's EWMA gap: %K = (v - min14) / (max14 - min14) positions today
# inside the trailing 14-day envelope, %D smooths %K over 3 days. The
# envelope extrema are window MIN/MAX over EXACT micro-unit integers
# (always bit-equal); %K is one division of identical doubles; %D is the
# identical left-associative 3-term chain — no libm anywhere, flat
# envelopes (max == min) pin NULL rather than 0/0.
_STOCH_WIN = 14

_STOCH_ORACLE = f"""
WITH daily AS ({_daily_micro_duck('vm')}),
env AS (
  SELECT event_type, day, vm,
         MIN(vm) OVER w AS lo, MAX(vm) OVER w AS hi,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_win
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {_STOCH_WIN - 1} PRECEDING AND CURRENT ROW)
),
k AS (
  SELECT event_type, day, vm, lo, hi, n_win,
         CASE WHEN hi = lo THEN NULL
              ELSE CAST(vm - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE)
         END AS pct_k
  FROM env
)
SELECT event_type, CAST(day AS VARCHAR) AS day, vm AS v_micro, lo AS env_lo,
       hi AS env_hi, n_win, ROUND(pct_k, 9) AS pct_k,
       ROUND((pct_k + lag(pct_k, 1) OVER d + lag(pct_k, 2) OVER d) / 3.0e0, 9)
         AS pct_d
FROM k
WINDOW d AS (PARTITION BY event_type ORDER BY day)
"""


@register("ts_stochastic", oracle=_STOCH_ORACLE, tags=("timeseries",))
def ts_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator over the per-type daily series: %K positions
    each day inside its trailing 14-day min/max envelope, %D is the 3-day
    smoothing. Integer window extrema, identical-double closing algebra,
    NULL on flat envelopes; the 3-term %D chain is the same
    left-associative sum in both engines (NULL-propagating until 3 %K
    values exist — the warmup contract).

    Scale shape: ONE map-side collapse to the |types| x |days|
    calendar-bounded grain; both window layers partition by type over
    that cell table — bounded rows per partition, no global sort, O(1)
    state per row (rolling extrema over a 14-row frame)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.floor(F.sum(F.col("value").cast("decimal(18,9)")) * 1000000)
        .cast("bigint")
        .alias("vm")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_STOCH_WIN - 1), Window.currentRow)
    )
    env = daily.select(
        "event_type", "day", "vm",
        F.min("vm").over(w).alias("lo"),
        F.max("vm").over(w).alias("hi"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
    )
    pct_k = F.when(
        F.col("hi") == F.col("lo"), F.lit(None).cast("double")
    ).otherwise(
        (F.col("vm") - F.col("lo")).cast("double")
        / (F.col("hi") - F.col("lo")).cast("double")
    )
    k = env.select("event_type", "day", "vm", "lo", "hi", "n_win", pct_k.alias("pct_k"))
    d = Window.partitionBy("event_type").orderBy("day")
    return k.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("vm").alias("v_micro"),
        F.col("lo").alias("env_lo"),
        F.col("hi").alias("env_hi"),
        "n_win",
        F.round("pct_k", 9).alias("pct_k"),
        F.round(
            (F.col("pct_k") + F.lag("pct_k", 1).over(d) + F.lag("pct_k", 2).over(d))
            / F.lit(3.0),
            9,
        ).alias("pct_d"),
    )


# --- ts_burstiness: interarrival burstiness coefficient per user ---------------

# ts_interarrival profiles the gap DISTRIBUTION; the burstiness
# coefficient B = (sigma - mu) / (sigma + mu) (Goh & Barabási) collapses
# each user's gap train to one number in [-1, 1): B -> -1 periodic,
# B = 0 Poisson, B -> 1 bursty — the feature that separates bots
# (periodic) from humans (bursty) at a glance. Gaps are exact integer
# SECONDS (epoch-µs difference div 10^6 — truncating div agrees in both
# engines on non-negatives); moments sum in DECIMAL(38,0) (gap² can reach
# 1e15, a BIGINT sum caps at ~10^3 gaps/user — decimal removes the
# ceiling); sigma = population sqrt on identical doubles (IEEE-exact).
_BURSTINESS_MIN_EVENTS = 6

_BURSTINESS_ORACLE = f"""
WITH gaps AS (
  SELECT user_id,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER
            (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap_s
  FROM events
),
m AS (
  SELECT user_id, CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
         CAST(SUM(CAST(gap_s AS DECIMAL(38,0))) AS BIGINT) AS s,
         CAST(SUM(CAST(gap_s * gap_s AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY user_id HAVING COUNT(gap_s) >= {_BURSTINESS_MIN_EVENTS - 1}
),
v AS (
  -- greatest(., 0): identical gaps make the exact variance 0 but double
  -- rounding of mu*mu can land a hair above ss/n, and DuckDB sqrt RAISES
  -- on negatives where Spark returns NaN
  SELECT user_id, n_gaps, s,
         greatest(CAST(ss AS DOUBLE) / n_gaps
                  - (CAST(s AS DOUBLE) / n_gaps) * (CAST(s AS DOUBLE) / n_gaps),
                  0) AS var_pop
  FROM m
)
SELECT user_id, n_gaps,
       ROUND(CAST(s AS DOUBLE) / n_gaps, 9) AS mean_gap_s,
       ROUND(sqrt(var_pop), 9) AS sd_gap_s,
       CASE WHEN var_pop = 0 AND s = 0 THEN NULL
            ELSE ROUND((sqrt(var_pop) - CAST(s AS DOUBLE) / n_gaps)
                       / (sqrt(var_pop) + CAST(s AS DOUBLE) / n_gaps), 9)
       END AS burstiness
FROM v
"""


@register("ts_burstiness", oracle=_BURSTINESS_ORACLE, tags=("timeseries",))
def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (σ-μ)/(σ+μ) of each user's event
    interarrival gaps (integer seconds, population σ) — the bot-vs-human
    cadence fingerprint collapsing ts_interarrival's distribution to one
    calibrated number. Users with all-zero gaps (every event in the same
    second) pin NULL (0/0). Exactness: truncating integer-second gaps,
    DECIMAL(38,0) moment sums, IEEE sqrt (see oracle comment).

    Scale shape: the lag window partitions by user (hash-distributed, no
    global sort); gap rows collapse map-side to |users| moment cells; all
    closing algebra rides the user grain. Ties inside one timestamp order
    by event_id, so the lag is deterministic on any partitioning."""
    ev = table(spark, sf_dir, "events")
    gaps = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(cast(ts as timestamp)) - "
            "lag(unix_micros(cast(ts as timestamp))) over "
            "(partition by user_id order by ts, event_id)) div 1000000"
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").cast("bigint").alias("n_gaps"),
            F.sum(F.col("gap_s").cast("decimal(38,0)")).cast("bigint").alias("s"),
            F.sum((F.col("gap_s") * F.col("gap_s")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("ss"),
        )
        .filter(F.col("n_gaps") >= _BURSTINESS_MIN_EVENTS - 1)
    )
    mu = F.col("s").cast("double") / F.col("n_gaps")
    var = F.greatest(
        F.col("ss").cast("double") / F.col("n_gaps") - mu * mu, F.lit(0.0)
    )
    sd = F.sqrt(var)
    return m.select(
        "user_id",
        "n_gaps",
        F.round(mu, 9).alias("mean_gap_s"),
        F.round(sd, 9).alias("sd_gap_s"),
        F.when((var == 0) & (F.col("s") == 0), F.lit(None).cast("double"))
        .otherwise(F.round((sd - mu) / (sd + mu), 9))
        .alias("burstiness"),
    )

# --- ts_volatility: rolling SD of daily log returns ----------------------------

# The realized-volatility rung the momentum family (rsi/macd/bollinger)
# references but never computes: per-type daily log returns
# r_t = ln(v_t / v_{t-1}) and their trailing 7-day sample SD. Cross-
# engine exactness: the return is ln on ONE identical double (the ratio
# of two exact micro-unit integers divided once), FLOOR-quantized to
# integer micro-nats (the agg_entropy recipe) so the window moment sums
# (n, s, ss) are exact integers on any partitioning; the closing
# sqrt((ss - s²/n)/(n-1)) is identical-double algebra + IEEE sqrt.
# Non-positive daily sums (possible: value is signed) pin NULL returns —
# both engines drop them from the moments via the COUNT(r) window.
_VOL_WIN = 7

_VOLATILITY_ORACLE = f"""
WITH daily AS ({_daily_micro_duck('vm')}),
ret AS (
  SELECT event_type, day, vm,
         CASE WHEN vm > 0 AND lag(vm) OVER w > 0
              THEN CAST(floor(ln(CAST(vm AS DOUBLE)
                                 / CAST(lag(vm) OVER w AS DOUBLE))
                              * 1000000.0) AS BIGINT)
         END AS r_micro
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
mom AS (
  SELECT event_type, day, vm, r_micro,
         CAST(COUNT(r_micro) OVER v AS BIGINT) AS n_ret,
         CAST(SUM(r_micro) OVER v AS BIGINT) AS s,
         CAST(SUM(r_micro * r_micro) OVER v AS BIGINT) AS ss
  FROM ret
  WINDOW v AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {_VOL_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(day AS VARCHAR) AS day, vm AS v_micro, r_micro, n_ret,
       CASE WHEN n_ret >= 2 THEN
         -- greatest(., 0): identical returns make the exact variance 0 but
         -- the double rounding of s*s/n can land a hair above ss, and
         -- DuckDB sqrt RAISES on negatives where Spark returns NaN
         ROUND(sqrt(greatest(CAST(ss AS DOUBLE)
                             - CAST(s AS DOUBLE) * s / n_ret, 0)
                    / (n_ret - 1)) / 1000000.0, 9)
       END AS vol_7d
FROM mom
"""


@register("ts_volatility", oracle=_VOLATILITY_ORACLE, tags=("timeseries",))
def ts_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized volatility: trailing 7-day sample SD of per-type daily
    log returns — the risk measure beside the momentum family. Returns
    are micro-nat floor-quantized integers (ln on one identical double),
    window moments are exact integer sums, the close is identical-double
    algebra + IEEE sqrt; non-positive daily sums pin NULL returns and
    drop from the moments in both engines (see header).

    Scale shape: ONE map-side collapse to the |types| x |days| daily
    grain; the lag and the rolling-moment windows both partition by type
    over that calendar-bounded cell table — O(1) state per row, no
    global sort, embarrassingly parallel across types."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.floor(F.sum(F.col("value").cast("decimal(18,9)")) * 1000000)
        .cast("bigint")
        .alias("vm")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("vm").over(w)
    ret = daily.select(
        "event_type", "day", "vm",
        F.when(
            (F.col("vm") > 0) & (prev > 0),
            F.floor(
                F.log(F.col("vm").cast("double") / prev.cast("double")) * 1000000.0
            ).cast("bigint"),
        ).alias("r_micro"),
    )
    v = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_VOL_WIN - 1), Window.currentRow)
    )
    mom = ret.select(
        "event_type", "day", "vm", "r_micro",
        F.count("r_micro").over(v).cast("bigint").alias("n_ret"),
        F.sum("r_micro").over(v).cast("bigint").alias("s"),
        F.sum(F.col("r_micro") * F.col("r_micro")).over(v).cast("bigint").alias("ss"),
    )
    sd = F.sqrt(
        F.greatest(
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n_ret"),
            F.lit(0.0),
        )
        / (F.col("n_ret") - 1)
    )
    return mom.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("vm").alias("v_micro"),
        "r_micro",
        "n_ret",
        F.when(F.col("n_ret") >= 2, F.round(sd / 1000000.0, 9)).alias("vol_7d"),
    )


# --- ts_outages: gap-threshold outage intervals --------------------------------

# The operational read of ts_interarrival/ts_burstiness: contiguous
# silent intervals longer than a threshold, reported as (start, end,
# duration) rows per event type — the monitoring primitive behind
# "sensor X went dark for 9 hours" (the reference's freshness cron is
# the degenerate one-sided version of this). Pure integer µs
# arithmetic: gaps from unix_micros lag with the repo-wide (ts,
# event_id) tie-break, truncating div to seconds, fixed 3600 s
# threshold (documented; the count shrinks as density grows — that is
# the semantics, not a scaling artifact).
_OUTAGE_GAP_S = 3600

_OUTAGES_ORACLE = f"""
WITH g AS (
  SELECT event_type, ts,
         lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_ts,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER
            (PARTITION BY event_type ORDER BY ts, event_id)) // 1000000 AS gap_s
  FROM events
)
SELECT event_type, prev_ts AS outage_start, ts AS outage_end,
       CAST(gap_s AS BIGINT) AS duration_s
FROM g WHERE gap_s > {_OUTAGE_GAP_S}
"""


@register("ts_outages", oracle=_OUTAGES_ORACLE, tags=("timeseries",))
def ts_outages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage intervals: per-type silent gaps longer than 1 hour, as
    (start, end, duration_s) rows — the monitoring primitive the
    reference's freshness check approximates one-sidedly. Integer µs
    gaps with the (ts, event_id) tie-break, truncating division.

    Scale shape: one lag window hash-partitioned by type (bounded
    partitions, no global sort), then a pure filter — the output is the
    outage count, orders of magnitude below the event count. A per-
    device variant swaps the partition key; nothing else changes."""
    ev = table(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type", "ts",
        F.lag("ts").over(wt).alias("prev_ts"),
        F.expr(
            "(unix_micros(cast(ts as timestamp)) - "
            "lag(unix_micros(cast(ts as timestamp))) over "
            "(partition by event_type order by ts, event_id)) div 1000000"
        ).alias("gap_s"),
    )
    return g.filter(F.col("gap_s") > _OUTAGE_GAP_S).select(
        "event_type",
        F.col("prev_ts").alias("outage_start"),
        F.col("ts").alias("outage_end"),
        F.col("gap_s").cast("bigint").alias("duration_s"),
    )

# --- ts_forecast_eval: WAPE / sMAPE scoring of the seasonal-naive forecast ------

# ts_forecast_baseline PRODUCES forecasts; this scores one — the
# evaluation half every forecasting loop needs. Forecast = same weekday
# last week (lag 7 on the per-type daily grain); errors aggregate two
# ways: WAPE = sum|err| / sum|actual| (two exact integer sums, ONE
# closing division — the robust volume-weighted metric) and sMAPE, whose
# PER-DAY ratio 2|err|/(|f|+|a|) is FLOOR-quantized to micro-units
# before the order-free integer sum (the agg_entropy discipline — a
# double sum of per-day ratios would be partitioning-dependent).
# Zero-denominator days (forecast and actual both 0) pin a NULL term and
# drop from the sMAPE count in both engines.
_FC_EVAL_ORACLE = f"""
WITH daily AS ({_daily_micro_duck('vm')}),
f AS (
  SELECT event_type, day, vm,
         lag(vm, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc
  FROM daily
),
terms AS (
  SELECT event_type, abs(vm - fc) AS abs_err, abs(vm) AS abs_act,
         CASE WHEN abs(fc) + abs(vm) = 0 THEN NULL
              ELSE CAST(floor(2000000.0 * abs(vm - fc)
                              / (abs(fc) + abs(vm))) AS BIGINT)
         END AS smape_micro
  FROM f WHERE fc IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err,
       CAST(SUM(abs_act) AS BIGINT) AS sum_abs_actual,
       CASE WHEN SUM(abs_act) = 0 THEN NULL
            ELSE ROUND(CAST(SUM(abs_err) AS DOUBLE) / SUM(abs_act), 9)
       END AS wape,
       ROUND(CAST(SUM(smape_micro) AS DOUBLE) / 1000000.0
             / COUNT(smape_micro), 9) AS smape
FROM terms GROUP BY event_type
"""


@register("ts_forecast_eval", oracle=_FC_EVAL_ORACLE, tags=("timeseries",))
def ts_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast accuracy scorecard for the seasonal-naive (same weekday
    last week) forecast: per-type WAPE and sMAPE over the daily series —
    the evaluation half of ts_forecast_baseline. WAPE closes with one
    division of exact integer sums; sMAPE's per-day ratios are
    micro-floor-quantized before the order-free sum (see header); all-
    zero days pin NULL terms identically.

    Scale shape: ONE map-side collapse to the calendar-bounded daily
    grain, a lag-7 window partitioned by type, then a second map-side
    collapse to |types| scorecard rows. No exchange carries event-grain
    rows past the first collapse."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.floor(F.sum(F.col("value").cast("decimal(18,9)")) * 1000000)
        .cast("bigint")
        .alias("vm")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    f = daily.select(
        "event_type", "day", "vm", F.lag("vm", 7).over(w).alias("fc")
    ).filter(F.col("fc").isNotNull())
    den = F.abs("fc") + F.abs("vm")
    terms = f.select(
        "event_type",
        F.abs(F.col("vm") - F.col("fc")).alias("abs_err"),
        F.abs("vm").alias("abs_act"),
        F.when(den == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.floor(
                F.lit(2000000.0) * F.abs(F.col("vm") - F.col("fc")) / den
            ).cast("bigint")
        )
        .alias("smape_micro"),
    )
    return terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum("abs_err").cast("bigint").alias("sum_abs_err"),
        F.sum("abs_act").cast("bigint").alias("sum_abs_actual"),
        F.when(F.sum("abs_act") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.sum("abs_err").cast("double") / F.sum("abs_act"), 9))
        .alias("wape"),
        F.round(
            F.sum("smape_micro").cast("double") / 1000000.0 / F.count("smape_micro"),
            9,
        ).alias("smape"),
    )


# --- ts_sax: symbolic aggregate approximation of daily series ------------------

# Daily (event_type, DATE d) cells of floored micro-unit values qv, shared
# by the ts_sax, ts_lag_features and ts_crossover oracles.
_DAILY_QV_DUCK = """SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS qv
  FROM events GROUP BY 1, 2"""

# SAX (Lin et al.) turns a numeric series into a short symbol string so
# similarity search / motif mining over millions of series becomes string
# algebra. Pipeline: daily totals (exact micro-integers) -> PAA over
# fixed 4-day frames (exact integer ratio) -> z-normalize against the
# series moments (exact-integer-derived doubles) -> 4-symbol alphabet at
# the standard N(0,1) breakpoints. Day indexing is epoch-based (no
# engine-specific week/dow function), frames are day_idx DIV 4.
_SAX_BP = ("-0.6744897501960817", "0.6744897501960817")

_SAX_ORACLE = f"""
WITH daily AS ({_DAILY_QV_DUCK}),
idx AS (
  SELECT event_type, d, qv,
         CAST(d - DATE '2024-01-01' AS BIGINT) // 4 AS frame
  FROM daily
),
paa AS (
  SELECT event_type, frame,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(qv) AS BIGINT) AS s
  FROM idx GROUP BY 1, 2
),
mom AS (
  SELECT event_type,
         CAST(SUM(qv) AS BIGINT) AS s_all,
         CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(CAST(qv AS DECIMAL(38,0)) * qv) AS DOUBLE) AS ssq
  FROM idx GROUP BY event_type
),
z AS (
  SELECT p.event_type, p.frame, p.n_days,
         ROUND((CAST(p.s AS DOUBLE) / CAST(p.n_days AS DOUBLE)
                - CAST(m.s_all AS DOUBLE) / CAST(m.n_all AS DOUBLE))
               / nullif(
                   sqrt(m.ssq / CAST(m.n_all AS DOUBLE)
                      - (CAST(m.s_all AS DOUBLE) / CAST(m.n_all AS DOUBLE))
                        * (CAST(m.s_all AS DOUBLE) / CAST(m.n_all AS DOUBLE))),
                   0.0),
               9) AS z
  FROM paa p JOIN mom m ON m.event_type = p.event_type
)
SELECT event_type, frame, n_days, z,
       CASE WHEN z < {_SAX_BP[0]} THEN 'a'
            WHEN z < 0.0 THEN 'b'
            WHEN z < {_SAX_BP[1]} THEN 'c'
            ELSE 'd' END AS symbol
FROM z
"""


@register("ts_sax", oracle=_SAX_ORACLE, tags=("timeseries",))
def ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (PAA + N(0,1)-breakpoint alphabet) of each event
    type's daily-total series — the representation that turns motif
    mining and whole-series similarity over millions of series into
    string matching. The reference has no series analytics (main.py
    aggregates are scalar counts).

    Scale shape: ONE map-side collapse to (type, day) micro-integer
    cells; frames are day_idx DIV 4 (epoch-based — no locale/week
    function), PAA is a second cell-grain aggregate; the series moments
    come from exact integer/decimal sums so the z-scores are
    partition-count-independent; symbolization is row-local. Nothing
    after the first collapse touches corpus-sized data."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("qv")
    )
    idx = daily.select(
        "event_type",
        "qv",
        # `div`, not floor(double-div): matches the oracle's `//`
        # truncate-toward-zero semantics for days BEFORE the 2024-01-01
        # epoch (floor(-7/4) = -2 vs -7 div 4 = -1; ADVICE r9). Fixtures
        # start at the epoch, so this is identity there — the guard is
        # for earlier-dated data.
        F.expr(
            "cast(datediff(d, date'2024-01-01') as bigint) div 4"
        ).alias("frame"),
    )
    idx = scoped_persist(idx)
    paa = idx.groupBy("event_type", "frame").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("qv").cast("bigint").alias("s"),
    )
    mom = idx.groupBy("event_type").agg(
        F.sum("qv").cast("bigint").alias("s_all"),
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum(F.col("qv").cast("decimal(38,0)") * F.col("qv"))
        .cast("double")
        .alias("ssq"),
    )
    mean_all = F.col("s_all").cast("double") / F.col("n_all").cast("double")
    # nullif: a constant series has zero variance — z goes NULL (symbol
    # 'd' via the CASE fall-through) in BOTH engines instead of an ANSI
    # DIVIDE_BY_ZERO on the Spark side (ADVICE r9 zero-denominator class).
    std = F.nullif(
        F.sqrt(
            F.col("ssq") / F.col("n_all").cast("double") - mean_all * mean_all
        ),
        F.lit(0.0),
    )
    z = paa.join(F.broadcast(mom), "event_type").select(
        "event_type",
        "frame",
        "n_days",
        F.round(
            (F.col("s").cast("double") / F.col("n_days").cast("double") - mean_all)
            / std,
            9,
        ).alias("z"),
    )
    lo, hi = float(_SAX_BP[0]), float(_SAX_BP[1])
    return z.select(
        "event_type",
        "frame",
        "n_days",
        "z",
        F.when(F.col("z") < lo, "a")
        .when(F.col("z") < 0.0, "b")
        .when(F.col("z") < hi, "c")
        .otherwise("d")
        .alias("symbol"),
    )


# --- ts_lag_features: supervised-learning feature matrix ------------------------

# The feature-engineering step every forecasting model trains on: for each
# (series, day) emit calendar position, lag-1/lag-7 values, and trailing
# 7-day mean/std — one row per observation, ready for a regressor. All
# features are derived from exact micro-integer daily cells: lags are
# integer copies, the rolling mean is an exact integer ratio, the rolling
# std uses DECIMAL(38,0) squares; the only doubles are final divisions,
# rounded to 9 places by exact_round, which both engines compute alike
# (ROUND(double, 9) differed from DuckDB's in one roll7_std row at sf0.1).
_LAGFEAT_STD_SQL = """sqrt(greatest(0.0,
                 (r_ssq - CAST(r_s AS DOUBLE) * CAST(r_s AS DOUBLE)
                          / CAST(r_n AS DOUBLE)) / (CAST(r_n AS DOUBLE) - 1.0)))
               / 1000000.0"""
_LAGFEAT_ORACLE = f"""
WITH daily AS ({_DAILY_QV_DUCK}),
feat AS (
  SELECT event_type, d, qv,
         CAST(d - DATE '2024-01-01' AS BIGINT) % 7 AS day_cycle,
         lag(qv, 1) OVER w AS lag1,
         lag(qv, 7) OVER w AS lag7,
         CAST(SUM(qv) OVER tw AS BIGINT) AS r_s,
         CAST(COUNT(*) OVER tw AS BIGINT) AS r_n,
         CAST(SUM(CAST(qv AS DECIMAL(38,0)) * qv) OVER tw AS DOUBLE) AS r_ssq
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d),
         tw AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(d AS VARCHAR) AS d, day_cycle,
       {exact_round_sql('CAST(qv AS DOUBLE) / 1000000.0', 9)} AS y,
       {exact_round_sql('CAST(lag1 AS DOUBLE) / 1000000.0', 9)} AS lag1,
       {exact_round_sql('CAST(lag7 AS DOUBLE) / 1000000.0', 9)} AS lag7,
       {exact_round_sql('CAST(r_s AS DOUBLE) / CAST(r_n AS DOUBLE) / 1000000.0', 9)}
         AS roll7_mean,
       CASE WHEN r_n > 1 THEN
         {exact_round_sql(_LAGFEAT_STD_SQL, 9)}
       END AS roll7_std
FROM feat
"""


@register("ts_lag_features", oracle=_LAGFEAT_ORACLE, tags=("timeseries", "ml"))
def ts_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag/rolling feature matrix for supervised forecasting: per (event
    type, day) — calendar cycle position, lag-1, lag-7, trailing 7-day
    mean and std. The step between raw telemetry and any trained
    forecaster; the reference has nothing downstream-ML-shaped.

    Scale shape: ONE map-side collapse to daily micro-integer cells;
    every feature is a bounded-frame window over the |days| x |types|
    cell table (never the raw corpus). At 100 TB the window partitions
    are per-series cell counts — thousands of rows, not billions; a
    single task never sees more than one series' cells."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("qv")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    tw = w.rowsBetween(-6, 0)
    feat = daily.select(
        "event_type",
        "d",
        "qv",
        (F.datediff(F.col("d"), F.lit("2024-01-01")).cast("bigint") % 7).alias(
            "day_cycle"
        ),
        F.lag("qv", 1).over(w).alias("lag1"),
        F.lag("qv", 7).over(w).alias("lag7"),
        F.sum("qv").over(tw).cast("bigint").alias("r_s"),
        F.count(F.lit(1)).over(tw).cast("bigint").alias("r_n"),
        F.sum(F.col("qv").cast("decimal(38,0)") * F.col("qv"))
        .over(tw)
        .cast("double")
        .alias("r_ssq"),
    )
    rn = F.col("r_n").cast("double")
    rs = F.col("r_s").cast("double")
    return feat.select(
        "event_type",
        F.col("d").cast("string").alias("d"),
        "day_cycle",
        exact_round(F.col("qv").cast("double") / 1000000.0, 9).alias("y"),
        exact_round(F.col("lag1").cast("double") / 1000000.0, 9).alias("lag1"),
        exact_round(F.col("lag7").cast("double") / 1000000.0, 9).alias("lag7"),
        exact_round(rs / rn / 1000000.0, 9).alias("roll7_mean"),
        F.when(
            F.col("r_n") > 1,
            exact_round(
                F.sqrt(
                    F.greatest(
                        F.lit(0.0),
                        (F.col("r_ssq") - rs * rs / rn) / (rn - 1.0),
                    )
                )
                / 1000000.0,
                9,
            ),
        ).alias("roll7_std"),
    )


# --- ts_crossover: fast/slow moving-average crossing detector ------------------

# The crossover flags over a ``sig`` (event_type, d, fast, slow) relation.
# Both engines run this text: the ts_crossover builder's Spark SQL and its
# DuckDB oracle.
_XO_FLAGGED_SQL = """SELECT event_type, d,
         ROUND(fast / 1000000.0, 9) AS fast_v,
         ROUND(slow / 1000000.0, 9) AS slow_v,
         CASE WHEN fast >= slow THEN 1 ELSE -1 END AS signal,
         lag(CASE WHEN fast >= slow THEN 1 ELSE -1 END)
           OVER (PARTITION BY event_type ORDER BY d) AS prev_signal
  FROM sig"""

# The classic regime-change event ("golden cross"): a fast EWMA crossing a
# slow rolling mean flips the trend signal; only the flip rows are
# emitted. The fast side reuses the ts_ewma bit-exactness recipe — all
# weights are powers of two, the lag chain is the SAME left-associative
# sum in both engines; the slow side is an exact integer rolling mean.
# Signals are integer (+1/-1) so the flip comparison can't wobble.
_XOVER_K = 6  # fast EWMA horizon (alpha = 1/2)


def _xover_ewma(lag_fn) -> tuple[str, str]:
    num = " + ".join(
        f"coalesce({lag_fn(k)}, 0.0) * {0.5 ** k!r}" for k in range(_XOVER_K)
    )
    den = " + ".join(
        f"(CASE WHEN {lag_fn(k)} IS NOT NULL THEN {0.5 ** k!r} ELSE 0.0 END)"
        for k in range(_XOVER_K)
    )
    return num, den


_XO_WIN = "OVER (PARTITION BY event_type ORDER BY d)"
_XO_NUM, _XO_DEN = _xover_ewma(
    lambda k: f"lag(CAST(qv AS DOUBLE), {k}) {_XO_WIN}"
)

_XOVER_ORACLE = f"""
WITH daily AS ({_DAILY_QV_DUCK}),
sig AS (
  SELECT event_type, d, qv,
         ({_XO_NUM}) / ({_XO_DEN}) AS fast,
         CAST(SUM(qv) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS slow
  FROM daily
),
flagged AS ({_XO_FLAGGED_SQL})
SELECT event_type, CAST(d AS VARCHAR) AS d, fast_v, slow_v, signal,
       CASE WHEN signal = 1 THEN 'golden' ELSE 'death' END AS cross_type
FROM flagged
WHERE prev_signal IS NOT NULL AND signal <> prev_signal
"""


@register("ts_crossover", oracle=_XOVER_ORACLE, tags=("timeseries",))
def ts_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast-EWMA / slow-rolling-mean crossover events per event type —
    the trend-flip detector (golden/death cross) dashboards alert on.
    Only flip rows are emitted, so the result is bounded by the number
    of regime changes, not days.

    Scale shape: daily micro-integer cells; the fast EWMA is the
    power-of-two lag chain (bit-exact across engines, ts_ewma recipe);
    the slow mean is an exact integer rolling ratio; the flip compare
    happens on INTEGER signals so no float boundary can disagree.
    Windows ride the per-series cell grain."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("qv")
    )
    daily.createOrReplaceTempView(scoped_view(spark, "xo_daily"))
    num, den = _xover_ewma(
        lambda k: f"lag(CAST(qv AS DOUBLE), {k}) {_XO_WIN}"
    )
    return spark.sql(
        f"""
        WITH sig AS (
          SELECT event_type, d, qv,
                 ({num}) / ({den}) AS fast,
                 CAST(SUM(qv) OVER (PARTITION BY event_type ORDER BY d
                                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                   / CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                                         ROWS BETWEEN 6 PRECEDING AND CURRENT
                                         ROW) AS DOUBLE) AS slow
          FROM xo_daily
        ),
        flagged AS ({_XO_FLAGGED_SQL})
        SELECT event_type, CAST(d AS STRING) AS d, fast_v, slow_v, signal,
               CASE WHEN signal = 1 THEN 'golden' ELSE 'death' END AS cross_type
        FROM flagged
        WHERE prev_signal IS NOT NULL AND signal <> prev_signal
        """
    )


# --- ts_hurst: rescaled-range (R/S) long-memory exponent ------------------------

# Hourly (event_type, hour index from 2024-01-01) cells of floored
# micro-unit values, shared by the ts_hurst and ts_spectral_power oracles.
_HOURLY_DUCK = """SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) * 24
           + CAST(hour(ts) AS BIGINT) AS hidx,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2"""

# Does the series trend-persist (H > 0.5), mean-revert (H < 0.5), or
# walk randomly (H = 0.5)? Classical Hurst R/S analysis over the hourly
# series: split into chunks of 8/16/32 hours, compute each chunk's
# rescaled range R/S, regress mean log(R/S) on log(size). Cumulative
# deviations use the integer identity n*cum_k - k*S (no mean fraction
# ever materializes); per-chunk log(R/S) values are nano-quantized
# before the per-size mean; with log2-spaced sizes the regression slope
# reduces to (y32 - y8) / (2 ln 2) — entirely row-local literals.
_LN2 = "0.6931471805599454"

_HURST_ORACLE = f"""
WITH hourly AS ({_HOURLY_DUCK}),
chunked AS (
  SELECT h.event_type, s.s, h.hidx // s.s AS chunk, h.hidx, h.v
  FROM hourly h CROSS JOIN (SELECT unnest([8, 16, 32]) AS s) s
),
stats AS (
  SELECT event_type, s, chunk, hidx, v,
         CAST(SUM(v) OVER w AS BIGINT) AS cum,
         CAST(row_number() OVER w AS BIGINT) AS k,
         CAST(SUM(v) OVER cw AS BIGINT) AS tot,
         CAST(COUNT(*) OVER cw AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) OVER cw AS DOUBLE) AS ssq
  FROM chunked
  WINDOW w AS (PARTITION BY event_type, s, chunk ORDER BY hidx),
         cw AS (PARTITION BY event_type, s, chunk)
),
chunk_rs AS (
  SELECT event_type, s, chunk,
         CAST(floor(ln(
             (CAST(MAX(n * cum - k * tot) AS DOUBLE)
              - CAST(MIN(n * cum - k * tot) AS DOUBLE))
             / sqrt(MAX(ssq) * CAST(MAX(n) AS DOUBLE)
                    - CAST(MAX(tot) AS DOUBLE) * CAST(MAX(tot) AS DOUBLE))
         ) * 1000000000.0 + 0.5) AS BIGINT) AS log_rs_nano
  FROM stats
  WHERE n = s
  GROUP BY event_type, s, chunk
  HAVING MAX(n * cum - k * tot) > MIN(n * cum - k * tot)
),
per_size AS (
  SELECT event_type, s,
         CAST(SUM(log_rs_nano) AS DOUBLE)
           / (COUNT(*) * 1000000000.0) AS y
  FROM chunk_rs GROUP BY event_type, s
)
SELECT event_type,
       ROUND(MAX(CASE WHEN s = 8 THEN y END), 9) AS log_rs_8,
       ROUND(MAX(CASE WHEN s = 16 THEN y END), 9) AS log_rs_16,
       ROUND(MAX(CASE WHEN s = 32 THEN y END), 9) AS log_rs_32,
       ROUND((MAX(CASE WHEN s = 32 THEN y END)
              - MAX(CASE WHEN s = 8 THEN y END)) / (2.0 * {_LN2}), 9)
         AS hurst
FROM per_size GROUP BY event_type
"""


@register("ts_hurst", oracle=_HURST_ORACLE, tags=("timeseries", "stats"))
def ts_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via rescaled-range analysis of each event type's
    hourly series: H > 0.5 = trend persistence, < 0.5 = mean reversion —
    the long-memory diagnostic behind capacity planning and anomaly
    baselines. Chunk cumulative deviations use the exact integer
    identity n*cum_k − k*S; each chunk's log(R/S) nano-quantizes before
    the per-size mean; with log2-spaced sizes (8/16/32) the regression
    slope collapses to (y32 − y8)/(2 ln 2), a row-local literal form.

    Scale shape: ONE collapse to hourly micro-integer cells; the 3x
    chunk fan-out is map-local; every window partitions by (type, size,
    chunk) — at most 32 rows per partition BY CONSTRUCTION, the
    textbook bounded-frame window; per-size means and the slope ride
    the |types| x 3 grain. The 1/n factors cancel exactly: R =
    (dmax-dmin)/n and std = sqrt(n*ssq - S^2)/n, so R/S =
    (dmax-dmin)/sqrt(n*ssq - S^2) — integer-derived operands into one
    sqrt and one ln, identical in both engines."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("bigint") * 24
            + F.hour("ts").cast("bigint")
        ).alias("hidx"),
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    chunked = hourly.select(
        "event_type",
        "hidx",
        "v",
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("s"),
    ).select(
        "event_type",
        "s",
        # `div` matches the oracle's `//` truncate-toward-zero for hours
        # before the 2024-01-01 epoch (negative hidx; ADVICE r9) —
        # floor(double-div) would shift pre-epoch chunks by one.
        F.expr("hidx div s").cast("bigint").alias("chunk"),
        "hidx",
        "v",
    )
    w = Window.partitionBy("event_type", "s", "chunk").orderBy("hidx")
    cw = Window.partitionBy("event_type", "s", "chunk")
    stats = chunked.select(
        "event_type",
        "s",
        "chunk",
        "v",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.row_number().over(w).cast("bigint").alias("k"),
        F.sum("v").over(cw).cast("bigint").alias("tot"),
        F.count(F.lit(1)).over(cw).cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .over(cw)
        .cast("double")
        .alias("ssq"),
    )
    dev = F.col("n") * F.col("cum") - F.col("k") * F.col("tot")
    chunk_rs = (
        stats.filter(F.col("n") == F.col("s"))
        .groupBy("event_type", "s", "chunk")
        .agg(
            F.max(dev).alias("dmax"),
            F.min(dev).alias("dmin"),
            F.max("n").alias("n"),
            F.max("tot").alias("tot"),
            F.max("ssq").alias("ssq"),
        )
        .filter(F.col("dmax") > F.col("dmin"))
        .select(
            "event_type",
            "s",
            F.floor(
                F.log(
                    (F.col("dmax").cast("double") - F.col("dmin").cast("double"))
                    / F.sqrt(
                        F.col("ssq") * F.col("n").cast("double")
                        - F.col("tot").cast("double") * F.col("tot").cast("double")
                    )
                )
                * 1000000000.0
                + 0.5
            )
            .cast("bigint")
            .alias("log_rs_nano"),
        )
    )
    per_size = chunk_rs.groupBy("event_type", "s").agg(
        (
            F.sum("log_rs_nano").cast("double")
            / (F.count(F.lit(1)) * 1000000000.0)
        ).alias("y")
    )
    ln2 = float(_LN2)
    y8 = F.max(F.when(F.col("s") == 8, F.col("y")))
    y16 = F.max(F.when(F.col("s") == 16, F.col("y")))
    y32 = F.max(F.when(F.col("s") == 32, F.col("y")))
    return per_size.groupBy("event_type").agg(
        F.round(y8, 9).alias("log_rs_8"),
        F.round(y16, 9).alias("log_rs_16"),
        F.round(y32, 9).alias("log_rs_32"),
        F.round((y32 - y8) / (2.0 * ln2), 9).alias("hurst"),
    )


# --- ts_pacf: partial autocorrelation via Durbin-Levinson ------------------------

# ACF says "lag-3 correlates"; PACF says whether that is NEW information
# or just lag-1 echoing through — the statistic that picks AR model
# order. ACF at lags 1-3 reuses ts_autocorr's exact fixed-point recipe
# (one window exchange produces all lag columns, Pearson from BIGINT/
# DECIMAL sums); the Durbin-Levinson recursion to PACF is row-local
# algebra on the k-row (type, r1, r2, r3) table, closed-form at order 3.
_PACF_ORACLE = f"""
WITH q AS (
  SELECT event_type,
         CAST(floor(value * 1000000.0) AS BIGINT) AS q,
         LAG(CAST(floor(value * 1000000.0) AS BIGINT), 1) OVER w AS l1,
         LAG(CAST(floor(value * 1000000.0) AS BIGINT), 2) OVER w AS l2,
         LAG(CAST(floor(value * 1000000.0) AS BIGINT), 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
s AS (
  SELECT event_type, {_ac_sums(1)}, {_ac_sums(2)}, {_ac_sums(3)}
  FROM q GROUP BY event_type
),
acf AS (
  SELECT event_type,
         {_ac_expr(1)} AS r1, {_ac_expr(2)} AS r2, {_ac_expr(3)} AS r3
  FROM s
),
acf2 AS (
  -- nullif-guards (ADVICE r9): |r1| = 1 (perfectly autocorrelated
  -- series) zeroes the Durbin-Levinson denominators — NULL in both
  -- engines instead of an ANSI DIVIDE_BY_ZERO on the Spark side.
  SELECT event_type, r1, r2, r3,
         (r2 - r1 * r1) / nullif(1.0 - r1 * r1, 0.0) AS a2
  FROM acf
)
SELECT event_type,
       ROUND(r1, 9) AS pacf1,
       ROUND(a2, 9) AS pacf2,
       ROUND((r3 - (r1 * (1.0 - a2)) * r2 - a2 * r1)
             / nullif(1.0 - (r1 * (1.0 - a2)) * r1 - a2 * r2, 0.0), 9)
         AS pacf3
FROM acf2
"""


@register("ts_pacf", oracle=_PACF_ORACLE, tags=("timeseries", "stats"))
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3) per event type via the
    Durbin-Levinson recursion — the AR-order diagnostic that separates
    genuine lag-k structure from lag-1 echo (complementing ts_autocorr's
    plain ACF).

    Scale shape: ONE series-keyed window exchange produces all three lag
    columns; Pearson numerators/denominators are exact BIGINT/DECIMAL
    fixed-point sums (the ts_autocorr recipe) collapsing map-side to the
    |types| cell grain; the closed-form order-3 recursion is row-local
    double algebra on identical exact-ratio operands (ROUND(9))."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView(scoped_view(spark, "pacf_events"))
    return spark.sql(_PACF_ORACLE.replace("FROM events", "FROM pacf_events"))


# --- ts_spectral_power: Goertzel DFT power at candidate periods ------------------

# "Is this series daily or weekly?" answered WITHOUT an FFT: the DFT
# power at a known candidate period T is (sum v*cos(2*pi*t/T))^2 +
# (sum v*sin(...))^2 — the Goertzel single-bin trick. The trig argument
# depends only on t mod T, so the corpus first collapses to PHASE cells
# (type, period, t mod T) with exact integer value sums: at most
# 24 + 168 trig evaluations per series regardless of corpus size, each
# phase term quantized to an exact integer BEFORE the final <= 168-row
# fold (order-free; the ts_hurst log-quantization recipe applied to
# libm trig).
_TWO_PI = "6.283185307179586"

_SPECTRAL_ORACLE = f"""
WITH hourly AS ({_HOURLY_DUCK}),
phase AS (
  SELECT event_type, p.period, hidx % p.period AS ph,
         CAST(SUM(v) AS BIGINT) AS pv
  FROM hourly CROSS JOIN (SELECT unnest([24, 168]) AS period) p
  GROUP BY 1, 2, 3
),
terms AS (
  SELECT event_type, period,
         CAST(floor(CAST(pv AS DOUBLE)
                    * cos({_TWO_PI} * ph / period) / 1000.0 + 0.5)
              AS BIGINT) AS c_k,
         CAST(floor(CAST(pv AS DOUBLE)
                    * sin({_TWO_PI} * ph / period) / 1000.0 + 0.5)
              AS BIGINT) AS s_k
  FROM phase
),
bins AS (
  SELECT event_type, period,
         CAST(SUM(c_k) AS BIGINT) AS c_sum, CAST(SUM(s_k) AS BIGINT) AS s_sum
  FROM terms GROUP BY 1, 2
)
SELECT event_type, period, c_sum, s_sum,
       ROUND((CAST(c_sum AS DOUBLE) * CAST(c_sum AS DOUBLE)
              + CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE)) / 1e12, 9)
         AS power,
       ROUND((CAST(c_sum AS DOUBLE) * CAST(c_sum AS DOUBLE)
              + CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
             / nullif(SUM(CAST(c_sum AS DOUBLE) * CAST(c_sum AS DOUBLE)
                          + CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
                      OVER (PARTITION BY event_type), 0.0), 9) AS power_share
FROM bins
"""


@register("ts_spectral_power", oracle=_SPECTRAL_ORACLE, tags=("timeseries", "stats"))
def ts_spectral_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bin DFT (Goertzel) power of each event type's hourly series
    at the daily (T=24) and weekly (T=168) candidate periods — the
    direct periodicity detector behind seasonality-aware forecasting and
    anomaly baselines (complements ts_seasonal's decomposition and
    ts_pacf's lag view with a frequency-domain one).

    Scale shape: ONE collapse to hourly micro-integer cells, then a
    second map-side collapse to PHASE cells (t mod T — at most 24+168
    rows per series, constant in corpus size) with exact BIGINT sums;
    libm trig runs once per phase cell, each term milli-quantized to an
    exact integer before the bounded fold (order-free, cross-engine
    safe: a half-ulp trig divergence moves a term only at probability
    ~ulp/quantum). Power and its per-series share are row-local algebra
    on the |types| x 2 grain; nullif guards the all-zero-bin series."""
    ev = table(spark, sf_dir, "events")
    two_pi = float(_TWO_PI)
    hourly = ev.groupBy(
        "event_type",
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("bigint") * 24
            + F.hour("ts").cast("bigint")
        ).alias("hidx"),
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    phase = (
        hourly.select(
            "event_type",
            "hidx",
            "v",
            F.explode(F.array(F.lit(24), F.lit(168))).alias("period"),
        )
        .groupBy(
            "event_type", "period", (F.col("hidx") % F.col("period")).alias("ph")
        )
        .agg(F.sum("v").cast("bigint").alias("pv"))
    )
    angle = F.lit(two_pi) * F.col("ph") / F.col("period")
    terms = phase.select(
        "event_type",
        "period",
        F.floor(F.col("pv").cast("double") * F.cos(angle) / 1000.0 + 0.5)
        .cast("bigint")
        .alias("c_k"),
        F.floor(F.col("pv").cast("double") * F.sin(angle) / 1000.0 + 0.5)
        .cast("bigint")
        .alias("s_k"),
    )
    bins = terms.groupBy("event_type", "period").agg(
        F.sum("c_k").cast("bigint").alias("c_sum"),
        F.sum("s_k").cast("bigint").alias("s_sum"),
    )
    power = (
        F.col("c_sum").cast("double") * F.col("c_sum").cast("double")
        + F.col("s_sum").cast("double") * F.col("s_sum").cast("double")
    )
    w_type = Window.partitionBy("event_type")
    return bins.select(
        "event_type",
        "period",
        "c_sum",
        "s_sum",
        F.round(power / F.lit(1e12), 9).alias("power"),
        F.round(
            power / F.nullif(F.sum(power).over(w_type), F.lit(0.0)), 9
        ).alias("power_share"),
    )


# --- ts_entropy_rate: Markov-chain entropy rate ----------------------------------

# How PREDICTABLE is the event stream? ts_markov_transitions gives the
# matrix; the entropy rate collapses it to one number: H = -sum_ij
# (c_ij/N) * log2(c_ij/c_i) bits per step (empirical stationary weights),
# with perplexity 2^H the "effective branching factor". All counts are
# exact BIGINTs; each of the <= |types|^2 = 25 cell terms nano-quantizes
# its libm log2 before the bounded order-free fold (ts_hurst recipe).
_ENTROPY_RATE_ORACLE = f"""
WITH seq AS ({_TRANSITIONS_DUCK}),
pairs AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
rows_q AS (
  SELECT prev_type, c,
         CAST(SUM(c) OVER (PARTITION BY prev_type) AS BIGINT) AS c_from,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM pairs
),
terms AS (
  SELECT n,
         CAST(floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                    * log2(CAST(c AS DOUBLE) / CAST(c_from AS DOUBLE))
                    * 1000000000.0 + 0.5) AS BIGINT) AS t_nano
  FROM rows_q
)
SELECT CAST(MAX(n) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(-CAST(SUM(t_nano) AS DOUBLE) / 1000000000.0, 9)
         AS entropy_rate_bits,
       ROUND(pow(2.0, -CAST(SUM(t_nano) AS DOUBLE) / 1000000000.0), 9)
         AS perplexity
FROM terms GROUP BY n
"""


@register("ts_entropy_rate", oracle=_ENTROPY_RATE_ORACLE, tags=("timeseries", "stats"))
def ts_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain (bits per
    step, empirical stationary weighting) plus its perplexity — the
    single-number predictability summary on top of
    ts_markov_transitions' matrix (high = erratic streams, low =
    scripted/bot-like).

    Scale shape: ONE user-keyed exchange feeds the lag window (same as
    ts_markov_transitions), then the corpus collapses map-side to the
    <= |types|^2 = 25-cell bigram table; row/global totals ride windows
    over that bounded table; each cell's log2 term nano-quantizes to an
    exact integer before the order-free 25-row fold, so the libm call
    count is constant and cross-engine divergence is quantization-
    bounded."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w_from = Window.partitionBy("prev_type")
    w_all = Window.partitionBy()
    rows_q = pairs.select(
        "c",
        F.sum("c").over(w_from).cast("bigint").alias("c_from"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    terms = rows_q.select(
        "n",
        F.floor(
            F.col("c").cast("double")
            / F.col("n").cast("double")
            * F.log2(F.col("c").cast("double") / F.col("c_from").cast("double"))
            * 1000000000.0
            + 0.5
        )
        .cast("bigint")
        .alias("t_nano"),
    )
    h = -F.sum("t_nano").cast("double") / F.lit(1000000000.0)
    return terms.groupBy("n").agg(
        F.max("n").cast("bigint").alias("n_transitions"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.round(h, 9).alias("entropy_rate_bits"),
        F.round(F.pow(F.lit(2.0), h), 9).alias("perplexity"),
    ).drop("n")


# --- ts_haar_energy: multi-resolution wavelet energy ------------------------------

# WHERE does a series carry its variance — day-to-day jitter or
# week-scale swings? The Haar detail coefficient at scale s (block of s
# days) is first-half-sum minus second-half-sum: an EXACT integer on
# micro-quantized daily cells, no float until the final shares. Energy
# per scale = sum of squared details (DECIMAL(38,0) — products reach
# ~1e20 past sf1); the energy profile across scales 2/4/8 is the
# discrete wavelet spectrum, the multi-resolution twin of
# ts_spectral_power's fixed-frequency view.
_HAAR_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
blocks AS (
  SELECT dd.event_type, s.s, dd.d // s.s AS blk,
         CAST(SUM(CASE WHEN (dd.d % s.s) * 2 < s.s THEN dd.v ELSE -dd.v END)
              AS BIGINT) AS detail,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily dd CROSS JOIN (SELECT unnest([2, 4, 8]) AS s) s
  GROUP BY 1, 2, 3
),
energy AS (
  SELECT event_type, s,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         SUM(CAST(detail AS DECIMAL(38,0)) * detail) AS e
  FROM blocks WHERE n_days = s
  GROUP BY 1, 2
)
SELECT event_type, s AS scale_days, n_blocks,
       -- no ROUND: e is an exact DECIMAL, the cast + /1e12 are the same
       -- IEEE ops in both engines; ROUND(9) itself diverges at binary
       -- half-way points (observed: ...920|921 flip at sf0.01)
       CAST(e AS DOUBLE) / 1e12 AS energy,
       ROUND(CAST(e AS DOUBLE)
             / nullif(SUM(CAST(e AS DOUBLE))
                      OVER (PARTITION BY event_type), 0.0), 9)
         AS energy_share
FROM energy
"""


@register("ts_haar_energy", oracle=_HAAR_ORACLE, tags=("timeseries", "stats"))
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy spectrum of each event type's daily series at
    scales 2/4/8 days: per-scale detail energy and its share — the
    multi-resolution variance decomposition (day-jitter vs week-swing)
    complementing ts_spectral_power's fixed-frequency bins. Detail
    coefficients are EXACT integers (first-half minus second-half of
    micro-quantized block sums); squares accumulate in DECIMAL(38,0).

    Scale shape: ONE collapse to daily micro-integer cells (map-side
    combined); the 3-scale fan-out is map-local; details collapse
    directly in the block aggregate via a sign flip on the half index
    (no window, no second exchange); energies ride the |types| x 3
    grain with exact decimal sums, and only the final /1e12 display
    scaling and nullif-guarded shares are doubles."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        .cast("bigint")
        .alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    blocks = (
        daily.select(
            "event_type",
            "d",
            "v",
            F.explode(F.array(F.lit(2), F.lit(4), F.lit(8))).alias("s"),
        )
        .groupBy("event_type", "s", F.expr("d div s").alias("blk"))
        .agg(
            F.sum(
                F.when((F.col("d") % F.col("s")) * 2 < F.col("s"), F.col("v"))
                .otherwise(-F.col("v"))
            )
            .cast("bigint")
            .alias("detail"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
    )
    energy = (
        blocks.filter(F.col("n_days") == F.col("s"))
        .groupBy("event_type", "s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(F.col("detail").cast("decimal(38,0)") * F.col("detail")).alias(
                "e"
            ),
        )
    )
    w_type = Window.partitionBy("event_type")
    return energy.select(
        "event_type",
        F.col("s").alias("scale_days"),
        "n_blocks",
        (F.col("e").cast("double") / F.lit(1e12)).alias("energy"),
        F.round(
            F.col("e").cast("double")
            / F.nullif(
                F.sum(F.col("e").cast("double")).over(w_type), F.lit(0.0)
            ),
            9,
        ).alias("energy_share"),
    )


# --- ts_survival_km: Kaplan-Meier time-to-event curve with censoring ------------

# Survival analysis is the missing third of the duration toolbox next to
# ts_outages (how long were we down) and ts_interarrival (how often do
# events come): "what fraction of orders is still unfulfilled after t
# days, given some orders are still open?" — the right-censored
# estimator SLAs and churn curves actually need. Duration = order date
# to the order's LAST shipment; open orders ('O') are censored at that
# horizon, everything else is an observed event. The Kaplan-Meier
# product limit S(t) = prod_{u<=t}(1 - d_u/n_u) multiplies one rational
# factor per EVENT DAY, so the corpus collapses to (priority, day)
# cells first — the curve computation touches <= cohorts x horizon rows
# no matter the corpus size. Each log factor is nano-quantized before
# the cumulative fold (libm ln is the only non-IEEE-identical op; the
# ts_entropy_rate recipe), and a day where every at-risk order ships is
# an exact S=0, never ln(0).
_SURVIVAL_KM_ORACLE = """
WITH dur AS (
  SELECT o.o_orderpriority AS priority,
         datediff('day', o.o_orderdate, MAX(l.l_shipdate)) AS t_days,
         CASE WHEN o.o_orderstatus <> 'O' THEN 1 ELSE 0 END AS is_event
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate, o.o_orderstatus
),
cells AS (
  SELECT priority, t_days,
         CAST(SUM(is_event) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS leaving
  FROM dur GROUP BY priority, t_days
),
risk AS (
  SELECT priority, t_days, d,
         CAST(SUM(leaving) OVER (PARTITION BY priority ORDER BY t_days
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
           AS n_at_risk
  FROM cells
),
terms AS (
  SELECT priority, t_days, d, n_at_risk,
         CASE WHEN d = n_at_risk THEN NULL
              ELSE CAST(floor(ln(CAST(n_at_risk - d AS DOUBLE)
                                 / CAST(n_at_risk AS DOUBLE)) * 1e9 + 0.5)
                        AS BIGINT) END AS lns_nano,
         CASE WHEN d = n_at_risk THEN 1 ELSE 0 END AS hit_zero
  FROM risk WHERE d > 0
),
cum AS (
  SELECT priority, t_days, d, n_at_risk,
         SUM(lns_nano)  OVER (PARTITION BY priority ORDER BY t_days) AS cum_nano,
         SUM(hit_zero)  OVER (PARTITION BY priority ORDER BY t_days) AS zeroed
  FROM terms
)
SELECT priority, t_days, n_at_risk, d AS n_events,
       CASE WHEN zeroed > 0 THEN 0.0
            ELSE ROUND(exp(CAST(cum_nano AS DOUBLE) / 1e9), 6) END AS survival
FROM cum
"""


@register("ts_survival_km", oracle=_SURVIVAL_KM_ORACLE, tags=("ts", "stats"))
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of order fulfillment time per priority,
    right-censoring still-open orders: S(t) at each event day with the
    at-risk and event counts (the reference has no duration analytics).

    Scale shape: ONE orderkey-keyed join+collapse builds per-order
    durations (both sides arrive keyed on orderkey), then the corpus
    collapses again to (priority, day) cells — the windows that build
    the at-risk counts and the product-limit run over <= cohorts x
    horizon rows, constant in corpus size. The KM product rides a
    cumulative SUM of nano-quantized log factors (exact BIGINT fold,
    libm ln quantized the ts_entropy_rate way); a day that exhausts the
    risk set is an exact 0.0 via the zeroed flag, never ln(0)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate", "o_orderstatus"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # Aggregate BEFORE the join (guide §2.3): the order attributes in the
    # oracle's GROUP BY are functionally dependent on o_orderkey, so
    # max(l_shipdate) per order can collapse lineitem map-side FIRST —
    # the join then carries one row per order instead of one per line,
    # and the old post-join groupBy on the wide 4-column key (orderkey +
    # string priority + date + status) disappears entirely. Same rows,
    # same values: an inner join on the key then max per key == max per
    # key then inner join on the key.
    last = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    dur = last.join(o, last.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("last_ship", "o_orderdate").alias("t_days"),
        F.when(F.col("o_orderstatus") != "O", 1).otherwise(0).alias("is_event"),
    )
    cells = dur.groupBy("priority", "t_days").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    w_rev = (
        Window.partitionBy("priority")
        .orderBy("t_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    risk = cells.select(
        "priority",
        "t_days",
        "d",
        F.sum("leaving").over(w_rev).cast("bigint").alias("n_at_risk"),
    ).filter(F.col("d") > 0)
    terms = risk.select(
        "priority",
        "t_days",
        "d",
        "n_at_risk",
        F.when(F.col("d") == F.col("n_at_risk"), F.lit(None)
        ).otherwise(
            F.floor(
                F.log(
                    (F.col("n_at_risk") - F.col("d")).cast("double")
                    / F.col("n_at_risk").cast("double")
                )
                * F.lit(1e9)
                + F.lit(0.5)
            )
        ).cast("bigint").alias("lns_nano"),
        F.when(F.col("d") == F.col("n_at_risk"), 1).otherwise(0).alias("hit_zero"),
    )
    w_cum = (
        Window.partitionBy("priority")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = terms.select(
        "priority",
        "t_days",
        "d",
        "n_at_risk",
        F.sum("lns_nano").over(w_cum).alias("cum_nano"),
        F.sum("hit_zero").over(w_cum).alias("zeroed"),
    )
    return cum.select(
        "priority",
        "t_days",
        "n_at_risk",
        F.col("d").alias("n_events"),
        F.when(F.col("zeroed") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_nano").cast("double") / F.lit(1e9)), 6))
        .alias("survival"),
    )


# --- ts_runs_test: Wald-Wolfowitz runs test on daily up/down moves --------------

# The runs test is the nonparametric randomness check that complements
# ts_autocorr/ts_pacf's linear-dependence view: too FEW sign runs means
# trending, too MANY means oscillation, and the z-statistic needs no
# distributional assumption at all. Ties (zero day-over-day change) are
# dropped, the standard treatment. All inputs to the z formula are exact
# integers (n_up, n_down, run count), so the only doubles are the final
# mu/sigma/z expressions — one identical IEEE tree in both engines,
# sigma nullif-guarded for degenerate one-sided series.
_RUNS_TEST_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         {exact_sum_sql('value')} AS v
  FROM events GROUP BY 1, 2
),
moves AS (
  SELECT event_type, day,
         CASE WHEN v > lag(v) OVER w THEN 1
              WHEN v < lag(v) OVER w THEN -1 END AS sgn
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
runs AS (
  SELECT event_type, sgn,
         CASE WHEN lag(sgn) OVER (PARTITION BY event_type ORDER BY day)
                   IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS new_run
  FROM (SELECT * FROM moves WHERE sgn IS NOT NULL) t
),
s AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
         CAST(SUM(new_run) AS BIGINT) AS n_runs
  FROM runs GROUP BY event_type
)
SELECT event_type, n_up, n_down, n_runs,
       ROUND((CAST(n_runs AS DOUBLE)
              - (2.0 * n_up * n_down / (n_up + n_down) + 1.0))
             / nullif(sqrt(2.0 * n_up * n_down
                           * (2.0 * n_up * n_down - n_up - n_down)
                           / ((n_up + n_down) * (n_up + n_down)
                              * (n_up + n_down - 1.0))), 0.0), 9) AS z
FROM s
"""


@register("ts_runs_test", oracle=_RUNS_TEST_ORACLE, tags=("ts", "stats"))
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the SIGN of day-over-day change of
    per-type daily totals: up/down counts, observed runs, and the
    normal-approximation z — the nonparametric trending/oscillation
    audit next to ts_autocorr's linear view.

    Scale shape: the corpus collapses map-side to (type, day) daily
    cells (value summed exactly by exact_sum); the sign/lag/run
    windows ride the <= types x days cell table, and the final test is one
    4-integer row per type. The z expression is the same IEEE double
    tree in both engines over exact integer inputs, sigma
    nullif-guarded."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(exact_sum(F.col("value")).alias("v"))
    w = Window.partitionBy("event_type").orderBy("day")
    moves = daily.select(
        "event_type",
        "day",
        F.when(F.col("v") > F.lag("v").over(w), 1)
        .when(F.col("v") < F.lag("v").over(w), -1)
        .alias("sgn"),
    ).filter(F.col("sgn").isNotNull())
    runs = moves.select(
        "event_type",
        "sgn",
        F.when(
            ~F.lag("sgn").over(w).eqNullSafe(F.col("sgn")), 1
        ).otherwise(0).alias("new_run"),
    )
    s = runs.groupBy("event_type").agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).cast("bigint").alias("n_up"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_down"),
        F.sum("new_run").cast("bigint").alias("n_runs"),
    )
    n1 = F.col("n_up").cast("double")
    n2 = F.col("n_down").cast("double")
    r = F.col("n_runs").cast("double")
    mu = F.lit(2.0) * n1 * n2 / (n1 + n2) + F.lit(1.0)
    sig = F.sqrt(
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - F.lit(1.0)))
    )
    return s.select(
        "event_type",
        "n_up",
        "n_down",
        "n_runs",
        F.round((r - mu) / F.nullif(sig, F.lit(0.0)), 9).alias("z"),
    )
