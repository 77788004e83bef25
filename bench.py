"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop write (full evaluation of every
column on every row, no driver transfer). The headline set spans the engine:
scan→join→agg→topk (flagship), the shuffle-heavy relational core, windows,
batch time-windowing, and the LLM-pipeline operators (dedup / similarity /
text / multimodal).

Noise handling (this host shows ±40% run-to-run variance, BASELINE.md):
each query is timed SPARK_GRAFT_BENCH_RUNS times (default 5) and the
per-query MEDIAN is reported; "value" is the sum of medians. A query that
raises is recorded in "errors" with its exception and excluded from the
total instead of aborting the whole bench (round 3's DNF failure mode).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship",
    "join_dim",
    "join_bcast",
    "agg_cube",
    "agg_stats",
    "topk",
    "win_latest",
    "win_frame",
    "st_tumble",
    "proj_select",
    "llm_exact_dedup",
    "llm_minhash_dedup",
    "llm_sim_search",
    "llm_sim_search_ivf",
    "llm_text_stats",
    "llm_fingerprint",
    "mm_decode",
]

# Second total: the 3 most expensive non-headline operators (VERDICT r6
# item 10 — the headline set alone would miss a regression here; the
# scaling studies only run per-round). Timed with the same protocol,
# reported as a separate "heavy" line inside the same JSON object.
# Regression anchor (BASELINE.md round-11 re-anchor): heavy_total_wall
# 3.4 s COLD median at sf0.1 (the edge memo is evicted before every
# timed run since round 11 — see time_set), 2x gate = 6.8 s.
HEAVY = [
    "graph_triangles",
    "join_fuzzy",
    "llm_line_dedup",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from air_quality_data_pipeline_spark.registry import load_all_queries
    from air_quality_data_pipeline_spark.session import get_spark

    spark = get_spark("air-quality-pipeline-bench")
    spark.sparkContext.setLogLevel("ERROR")

    specs = load_all_queries()

    # warm the JVM/session on the smallest fixture so the first measured
    # query doesn't pay one-time init (codegen compiler, parquet footer
    # caches, Python worker pool)
    for warm in ("flagship", "mm_decode"):
        try:
            specs[warm].builder(spark, "/root/testdata/sf0.001").write.mode(
                "overwrite"
            ).format("noop").save()
        except Exception:
            pass  # warmup failure is the measured query's problem, not fatal

    errors: dict[str, str] = {}

    # Measurement-honesty fix (VERDICT r10 item 1, guide §1): the graph
    # family memoizes its persisted co-purchase edge set per session, so
    # without eviction runs 2-5 of the median-of-5 loop read a warm cache
    # and the reported median is a warm-cache number. Evict before every
    # timed run so each sample computes cold from the parquet inputs. The
    # memo's legitimate cross-QUERY reuse in driver passes is unchanged.
    from air_quality_data_pipeline_spark.operators.graph import reset_edge_memo

    def time_set(names: list[str]) -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in names:
            samples: list[float] = []
            for _ in range(runs):
                try:
                    reset_edge_memo()
                    df = specs[name].builder(spark, sf_dir)
                    t0 = time.perf_counter()
                    df.write.mode("overwrite").format("noop").save()
                    samples.append(time.perf_counter() - t0)
                except Exception as ex:  # isolate: one broken query ≠ DNF bench
                    errors[name] = f"{type(ex).__name__}: {str(ex)[:200]}"
                    break
            if samples and name not in errors:
                timings[name] = round(statistics.median(samples), 3)
        return timings

    timings = time_set(HEADLINE)
    heavy = time_set(HEAVY)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": f"headline_{len(HEADLINE)}q_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "sf_dir": sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "runs_per_query": runs,
        "heavy_total_wall": round(sum(heavy.values()), 3),
        "heavy_queries": heavy,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
