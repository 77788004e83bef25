"""Time a set of registered queries at two scale factors and print the
wall-ratio table used for BASELINE.md scaling addenda.

Usage:
    python scripts/scale_study.py [--queries q1,q2,...] [--runs 3] \
        [small_sf_dir] [big_sf_dir]

Defaults: the round-4 added operators, 3 runs (per-query minimum kept,
matching the BASELINE.md protocol — host noise is one-sided), sf0.1 vs
/tmp/sf1 (generate with scripts/make_sf1.py).

Each query is forced end-to-end with a noop write, same as bench.py.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "win_retention",
    "ts_rolling",
    "dq_freshness",
    "llm_dataset_split",
    "agg_corr",
    "agg_mode",
    "join_outer",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("small", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("big", nargs="?", default="/tmp/sf1")
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q]

    from pyspark.sql import SparkSession

    from air_quality_data_pipeline_spark.registry import load_all_queries

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale-study")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# cpus={cpus} nproc={len(os.sched_getaffinity(0))}", file=sys.stderr, flush=True)
    specs = load_all_queries()

    def run_once(name: str, sf_dir: str) -> float:
        t0 = time.time()
        specs[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    mins: dict[tuple[str, str], float] = {}
    for sf_dir in (args.small, args.big):
        for name in names:
            best = min(run_once(name, sf_dir) for _ in range(args.runs))
            mins[(name, sf_dir)] = best
            print(f"# {name} @ {sf_dir}: {best:.2f}s", file=sys.stderr)

    print("| query | small min (s) | big min (s) | wall ratio @10x | exponent log10 |")
    print("|---|---|---|---|---|")
    for name in names:
        a, b = mins[(name, args.small)], mins[(name, args.big)]
        ratio = b / a if a > 0 else float("nan")
        print(
            f"| {name} | {a:.2f} | {b:.2f} | {ratio:.1f}x | "
            f"{math.log10(ratio) if ratio > 0 else float('nan'):.2f} |"
        )


if __name__ == "__main__":
    main()
