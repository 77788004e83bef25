"""Structured Streaming jobs (SURVEY.md §2.I, streaming half).

The reference is a cron-triggered batch re-run (readme.md:72-90); the
Spark-native equivalent is ``readStream`` + ``Trigger.AvailableNow`` —
incremental processing of whatever arrived since the last checkpoint, which
at 100 TB/day is the difference between reprocessing the world and touching
only new files. Watermarks implement the reference's 30-day late-data cutoff
(main.py:258-259) as engine-managed state eviction.

Queries here run a real streaming query to completion per call (memory or
parquet sink, isolated checkpoint), then return the materialized result.
Where the final streaming state is deterministic (availableNow over a fixed
fixture), the query carries a DuckDB oracle; watermark-timing behaviors are
rows-only by design.
"""

from __future__ import annotations

import itertools
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..session import scoped_tempdir, scoped_view
from ..tables import _NS_TO_TS_NTZ, raw_schema, table

_COUNTER = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str, ltz: bool = False) -> DataFrame:
    """events.parquet as a file-source stream with ts normalised to a timestamp.

    Handles both fixture vintages (TIMESTAMP(NANOS)-as-long under
    ``nanosAsLong``, and native ``timestamp[us]``) exactly like
    ``tables.table``. ``ltz=True`` produces a TIMESTAMP (instant) column —
    required by watermarks — built either directly from the raw epoch nanos
    or by reinterpreting the NTZ value under the pinned-UTC session zone;
    both are timezone-independent (the registry pins UTC before every build).
    """
    batch_schema = raw_schema(spark, sf_dir, "events")
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_is_long = isinstance(batch_schema["ts"].dataType, T.LongType)
    if ltz:
        if ts_is_long:
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return raw.withColumn(
            "ts", F.to_utc_timestamp(F.col("ts").cast("timestamp_ntz"), "UTC")
        )
    if ts_is_long:
        return raw.withColumn("ts", F.expr(_NS_TO_TS_NTZ.format(col="ts")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def run_available_now(sdf: DataFrame, output_mode: str, query_name_prefix: str) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a memory
    sink and return the materialized table. The sink's temp view is
    query-scoped (``scoped_view``): dropped when the next registered query
    is built."""
    spark = sdf.sparkSession
    name = scoped_view(spark, f"{query_name_prefix}_{os.getpid()}_{next(_COUNTER)}")
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", scoped_tempdir(f"ckpt_{name}_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_ST_INGEST_ORACLE = """
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
"""


@register("st_ingest", oracle=_ST_INGEST_ORACLE, tags=("streaming",))
def st_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduled-batch ingestion as an incremental stream (the reference's
    daily cron trigger, readme.md:84-90): readStream + AvailableNow, complete
    mode. The final state equals the batch aggregate, so it oracle-checks."""
    sdf = read_events_stream(spark, sf_dir)
    agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return run_available_now(agg, "complete", "st_ingest")


# st_watermark fixture: three micro-batches (one file each, ordered by mtime).
# Batch A establishes the watermark (max 12:30 → wm 11:30); batch M advances
# the metadata one step so A's watermark becomes the late-event filter for
# batch B (Spark applies late-row drops with a one-batch lag); batch B holds
# the provable drop set: a row whose window closed behind the watermark
# (DROPPED), a late row whose window is still open (KEPT), an on-time row,
# and a far-future sentinel that finalizes every real window so append mode
# emits them all. The sentinel's own window never closes → never emitted.
_WM_BATCH_A = [
    ("click", "2024-02-01 10:15:00"),
    ("click", "2024-02-01 10:45:00"),
    ("view", "2024-02-01 11:20:00"),
    ("click", "2024-02-01 12:30:00"),
]
_WM_BATCH_M = [("tick", "2024-02-01 12:59:00")]
_WM_BATCH_B = [
    ("click", "2024-02-01 10:20:00"),     # window end 11:00 <= wm 11:30 → dropped
    ("view", "2024-02-01 11:40:00"),      # late, but window end 12:00 > wm → kept
    ("purchase", "2024-02-01 12:10:00"),  # on time
    ("tick", "2024-02-10 00:30:00"),      # sentinel: finalizes all real windows
]


def _st_watermark_oracle() -> str:
    rows = lambda batch: ", ".join(  # noqa: E731
        f"('{et}', TIMESTAMP '{ts}')" for et, ts in batch
    )
    return f"""
WITH a(event_type, ts) AS (VALUES {rows(_WM_BATCH_A)}),
m(event_type, ts) AS (VALUES {rows(_WM_BATCH_M)}),
b(event_type, ts) AS (VALUES {rows(_WM_BATCH_B)}),
wm_late AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM a),
final_wm AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS w
  FROM (SELECT ts FROM a UNION ALL SELECT ts FROM m UNION ALL SELECT ts FROM b)
),
kept AS (
  SELECT * FROM a
  UNION ALL SELECT * FROM m
  UNION ALL
  SELECT b.* FROM b, wm_late
  WHERE date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wm_late.w
)
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start_sec,
       event_type, COUNT(*) AS cnt
FROM kept, final_wm
GROUP BY 1, 2, final_wm.w
HAVING min(date_trunc('hour', ts)) + INTERVAL 1 HOUR <= final_wm.w
"""


@register("st_watermark", oracle=_st_watermark_oracle(), tags=("streaming",))
def st_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window count (the reference's 30-day late-data
    cutoff, main.py:258-259, as engine-managed state eviction), made
    oracle-checkable: a three-micro-batch fixture (maxFilesPerTrigger=1,
    file order pinned by mtime) where the watermark provably drops a known
    late row and append mode emits exactly the drop-filtered aggregate.
    The oracle replicates the SEMANTICS — watermark = max event time − 1 h
    applied with Spark's one-batch filter lag, drop iff window end ≤
    watermark, emit iff window end ≤ final watermark — not the timing."""
    d = scoped_tempdir("st_watermark_fix_")
    batches = [("a", _WM_BATCH_A, 1_700_000_000), ("m", _WM_BATCH_M, 1_700_005_000),
               ("b", _WM_BATCH_B, 1_700_009_999)]
    for name, rows, mtime in batches:
        df = spark.createDataFrame(rows, "event_type string, ts_s string").select(
            "event_type", F.to_timestamp("ts_s").alias("ts")
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/batch_{name}")
        for root, _, files in os.walk(f"{d}/batch_{name}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (mtime, mtime))
    sdf = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(d + "/*")
    )
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("win_start_sec"), "event_type", "cnt")
    )
    return run_available_now(agg, "append", "st_watermark")


_ST_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type FROM events
"""


@register("st_dedup", oracle=_ST_DEDUP_ORACLE, tags=("streaming",))
def st_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup within watermark (the reference's set-based station
    dedup, main.py:274): a self-union doubles every event; the engine emits
    each event_id exactly once."""
    sdf = read_events_stream(spark, sf_dir, ltz=True).select("event_id", "user_id", "event_type", "ts")
    doubled = sdf.union(sdf)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_available_now(deduped, "append", "st_dedup")


_ST_SINK_ORACLE = """
SELECT event_id, user_id, event_type FROM events WHERE event_type = 'purchase'
"""


@register("st_sink", oracle=_ST_SINK_ORACLE, tags=("streaming",))
def st_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file sink with checkpoint (the reference's per-run CSV
    upload, main.py:283-303): filtered stream → parquet sink → read back.
    Exactly-once file semantics make the read-back oracle-checkable."""
    sdf = read_events_stream(spark, sf_dir)
    out_dir = scoped_tempdir("st_sink_out_")
    purchases = sdf.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "event_type"
    )
    q = (
        purchases.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", scoped_tempdir("st_sink_ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(purchases.schema).parquet(out_dir)


_ST_STREAM_JOIN_ORACLE = """
WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS click_us,
       p.value
FROM p JOIN c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
"""


@register("st_stream_join", oracle=_ST_STREAM_JOIN_ORACLE, tags=("streaming",))
def st_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: purchases join the clicks
    that preceded them within 1 hour per user. Both sides carry watermarks
    and the join has an event-time range bound, so state for either side is
    evicted once the other's watermark passes — bounded memory on an
    unbounded stream. Inner join in append mode emits exactly the batch
    join's rows → oracle-checkable."""
    ev = read_events_stream(spark, sf_dir, ltz=True)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), "value")
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "user_id",
        F.unix_micros("p_ts").alias("purchase_us"),
        F.unix_micros("c_ts").alias("click_us"),
        "value",
    )
    return run_available_now(joined, "append", "st_stream_join")


_ST_STATEFUL_ORACLE = """
SELECT event_type,
       COUNT(*) AS running_cnt,
       CAST(SUM(CAST(floor(value * 1000000000.0) AS BIGINT)) AS BIGINT)
         AS running_sum_q
FROM events GROUP BY event_type
"""


@register("st_stateful", oracle=_ST_STATEFUL_ORACLE, tags=("streaming",))
def st_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per event_type,
    state carries (count, fixed-point value sum) across micro-batches and
    each batch emits the updated running totals. This is the engine's
    escape hatch for aggregations Spark lacks natively (the reference's
    imperative per-city accumulators, main.py:216-217, generalized).

    Oracle-checkable because the state is ORDER-INDEPENDENT: values are
    quantized ``floor(v·1e9)`` to int64 in the Python worker (numpy doubles
    compute the identical IEEE product/floor as Spark/DuckDB), so the
    accumulated total is exact whatever the partition or batch order — the
    same fixed-point trick as llm_emb_centroid. Emission cadence: the
    fixture table is a single parquet file, so Trigger.AvailableNow runs
    exactly one micro-batch and update mode emits exactly the final row
    per key (with multi-file sources each batch would add one row per
    touched key — the timing-dependent case the old rows-only check
    covered)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    sdf = read_events_stream(spark, sf_dir, ltz=True).select("event_type", "value")

    # defined inside the builder so cloudpickle ships it by value
    def running_totals(key, pdfs, state):
        import numpy as np
        import pandas as pd

        cnt, total_q = state.get() if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            v = pdf["value"].dropna().to_numpy(dtype="float64")
            total_q += int(np.floor(v * 1e9).astype("int64").sum())
        state.update((cnt, total_q))
        yield pd.DataFrame(
            {"event_type": [key[0]], "running_cnt": [cnt], "running_sum_q": [total_q]}
        )

    out = sdf.groupBy("event_type").applyInPandasWithState(
        running_totals,
        outputStructType="event_type string, running_cnt long, running_sum_q long",
        stateStructType="cnt long, total_q long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(out, "update", "st_stateful")


_ST_FOREACH_BATCH_ORACLE = """
SELECT user_id,
       COUNT(*) AS purchase_cnt,
       CAST(SUM(CAST(value AS DECIMAL(20, 4))) AS DOUBLE) AS total_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


@register("st_foreach_batch", oracle=_ST_FOREACH_BATCH_ORACLE, tags=("streaming",))
def st_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch runs arbitrary batch logic — here
    an aggregate-and-overwrite into parquet, the pattern used for upserts
    into warehouses that lack a streaming writer. Complete mode makes the
    final file state equal the batch aggregate → oracle-checkable."""
    out_dir = scoped_tempdir("st_feb_out_")
    sdf = read_events_stream(spark, sf_dir)
    agg = (
        sdf.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("purchase_cnt"),
            F.sum(F.col("value").cast("decimal(20,4)")).cast("double").alias("total_value"),
        )
    )

    def upsert(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("complete")
        .option("checkpointLocation", scoped_tempdir("st_feb_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(agg.schema).parquet(out_dir)


# --- st_incr_resume: checkpoint-resume incremental processing ---------------

_INCR_RESUME_ORACLE = """
SELECT event_id, user_id, event_type, value FROM events
"""


@register("st_incr_resume", oracle=_INCR_RESUME_ORACLE, tags=("streaming", "scale"))
def st_incr_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once incremental processing across RESTARTS — the property
    the reference's daily cron rerun lacks (it reprocesses the world every
    run, main.py:198-303). Two staged arrivals: run 1 streams batch-1 files
    into a parquet sink and stops; batch-2 files then land; run 2 starts
    with the SAME checkpoint and processes ONLY the new files — the
    checkpoint's file log skips batch 1 even though those files are still
    in the directory. The final sink holds every event exactly once, so
    the whole two-run protocol oracle-checks against the plain batch
    table. At 100 TB/day this is THE ingestion pattern: per-run cost is
    proportional to new data, restarts are safe at any point, and the
    file-log lookup is O(new files), not O(directory)."""
    base = scoped_tempdir("st_incr_resume_")
    src, ckpt, out = base + "/src", base + "/ckpt", base + "/out"
    os.makedirs(src)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    schema = ev.schema

    def _run_once() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # arrival 1: two thirds of the data; run to completion and stop
    ev.filter(F.col("event_id") % 3 != 2).write.mode("append").parquet(src)
    _run_once()
    # arrival 2: the rest lands later; the resumed run must process ONLY it
    ev.filter(F.col("event_id") % 3 == 2).write.mode("append").parquet(src)
    _run_once()
    return spark.read.schema(schema).parquet(out)


# --- st_static_join: stream-static dimension enrichment ----------------------

_ST_STATIC_JOIN_ORACLE = """
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(20, 9))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("st_static_join", oracle=_ST_STATIC_JOIN_ORACLE, tags=("streaming",))
def st_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — THE production streaming enrichment shape: an
    unbounded event stream joined to a bounded dimension table (user →
    market segment), then aggregated per segment. Unlike the stream-stream
    join (st_stream_join), the static side needs NO watermark and NO join
    state: Spark re-plans the static relation into every micro-batch, and
    at dimension sizes like this it is a broadcast hash join per batch —
    the stream side never shuffles for the join. This is how a 100 TB/day
    event feed picks up slowly-changing reference data (the per-batch
    re-resolution also means a refreshed dim file is picked up on the next
    batch without restarting the query).

    Oracle: with AvailableNow over the fixture the final complete-mode
    state equals the batch join+aggregate exactly; the value sum is
    DECIMAL-quantized so stream/batch/DuckDB agree bit-for-bit."""
    sdf = read_events_stream(spark, sf_dir)
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = sdf.join(F.broadcast(cust), sdf.user_id == cust.c_custkey)
    agg = enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,9)")).cast("double").alias("total_value"),
    )
    return run_available_now(agg, "complete", "st_static_join")


@register("st_approx_distinct", tags=("streaming", "rows-only"))
def st_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality sketch: approx_count_distinct(user_id) per
    event_type over the incremental stream — the only way to keep
    "uniques so far" on an unbounded feed, because EXACT streaming
    distinct needs per-key state linear in the universe (two chained
    aggregations are also unsupported in one streaming query). The HLL++
    register state is constant-size per group and merges associatively,
    which is precisely what a micro-batch engine needs.

    Rows-only by design: Spark's HLL++ estimate is deterministic for a
    given dataset but not reproducible in DuckDB (different sketch
    family). Its value anchor is the within-5%-of-exact property test
    (tests/test_properties.py::test_streaming_approx_distinct_close_to_exact),
    mirroring the agg_sketch_union precedent. Complete mode + AvailableNow
    makes the final state comparable to the batch sketch over the same
    rows."""
    sdf = read_events_stream(spark, sf_dir)
    agg = sdf.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return run_available_now(agg, "complete", "st_approx_distinct")


_ST_TOPK_ORACLE = """
WITH counts AS (
  SELECT (epoch_us(ts) // 86400000000) * 86400 AS win_start_sec,
         event_type, COUNT(*) AS cnt
  FROM events GROUP BY win_start_sec, event_type
)
SELECT win_start_sec, event_type, cnt, rnk FROM (
  SELECT win_start_sec, event_type, cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY win_start_sec
                                 ORDER BY cnt DESC, event_type ASC) AS BIGINT) AS rnk
  FROM counts
) WHERE rnk <= 3
"""


@register("st_topk", oracle=_ST_TOPK_ORACLE, tags=("streaming",))
def st_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending-now: top-3 event types per tumbling 1-day window.
    The stream maintains the (window, type) counts incrementally (complete
    mode, AvailableNow); the rank-and-cut runs as BATCH post-processing on
    the materialized sink table — the standard split, because rank is not
    an incremental aggregate (a late event can reorder the board), so the
    leaderboard is recomputed per micro-batch from the always-current
    counts, exactly as a foreachBatch publisher would.

    Scale shape: streaming state is one counter per (window, type) cell —
    bounded by the time horizon × type domain, not the stream; the
    post-sink rank window rides that bounded table. Epoch-aligned 1-day
    windows reproduce exactly in DuckDB's integer floor-division."""
    from pyspark.sql import Window

    from .timewindow import _TS_SEC

    sdf = read_events_stream(spark, sf_dir)
    counts = sdf.groupBy(
        F.window("ts", "1 day").alias("w"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    sunk = run_available_now(counts, "complete", "st_topk").select(
        F.expr(_TS_SEC.format(col="w.start")).alias("win_start_sec"),
        "event_type",
        "cnt",
    )
    rank_w = Window.partitionBy("win_start_sec").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    return (
        sunk.withColumn("rnk", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )
