"""Batch time-windowed aggregation (SURVEY.md §2.I, oracle-checkable half).

The reference's "one output per daily cron run" (readme.md:86-89, timestamped
filename main.py:284-285) is a tumbling window in disguise. These queries run
``window()`` / ``session_window()`` in batch mode so the DuckDB oracle can
verify the bucketing math exactly; streaming/jobs.py runs the same shapes
through readStream.

Window starts are returned as epoch seconds (bigint) — integer arithmetic on
both engines, no timezone anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.exact import exact_sum, exact_sum_sql
from ..registry import register
from ..tables import table

# Spark SQL fragment: NTZ timestamp → epoch seconds / microseconds (bigint)
_TS_SEC = "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
_TS_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"

_ST_TUMBLE_ORACLE = f"""
SELECT (epoch_us(ts) // 86400000000) * 86400 AS win_start_sec,
       COUNT(*) AS cnt,
       {exact_sum_sql('value')} AS sum_value
FROM events
GROUP BY win_start_sec
"""


@register("st_tumble", oracle=_ST_TUMBLE_ORACLE, tags=("timewindow",))
def st_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregate (the reference's daily run cadence,
    readme.md:86-89). Spark's window() aligns to the epoch, matching the
    oracle's integer floor-division bucketing."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), exact_sum(F.col("value")).alias("sum_value"))
        .select(
            F.expr(_TS_SEC.format(col="w.start")).alias("win_start_sec"),
            "cnt",
            "sum_value",
        )
    )


_ST_SLIDE_ORACLE = """
SELECT ((epoch_us(ts) // 10800000000) - i) * 10800 AS win_start_sec,
       COUNT(*) AS cnt
FROM events, UNNEST([0, 1]) AS t(i)
GROUP BY win_start_sec
"""


@register("st_slide", oracle=_ST_SLIDE_ORACLE, tags=("timewindow",))
def st_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (6 h size, 3 h slide): each event lands in exactly two
    overlapping windows; Spark's window() replicates rows per window, the
    oracle replicates via UNNEST([0,1])."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.expr(_TS_SEC.format(col="w.start")).alias("win_start_sec"), "cnt")
    )


_ST_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC) AS prev_us
  FROM events
),
flagged AS (
  SELECT user_id, us,
         CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
sessions AS (
  SELECT user_id, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us ASC ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us, COUNT(*) AS cnt
FROM sessions
GROUP BY user_id, sid
"""


@register("st_session", oracle=_ST_SESSION_ORACLE, tags=("timewindow",))
def st_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window (30 min gap) per user. The oracle reproduces Spark's
    session semantics (end = last event + gap; a new session starts when the
    gap is ≥ the timeout) with gaps-and-islands SQL."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "user_id",
            F.expr(_TS_US.format(col="w.start")).alias("start_us"),
            F.expr(_TS_US.format(col="w.end")).alias("end_us"),
            "cnt",
        )
    )
