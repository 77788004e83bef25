"""Interleaved same-session A/B of the unrolled vector fast path.

A = reference fold (monkeypatched back in), B = unrolled fast path.
Runs alternate A,B,A,B,... per query so host drift hits both arms equally.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from air_quality_data_pipeline_spark.functions import vectors as V  # noqa: E402

QUERIES = sys.argv[1].split(",") if len(sys.argv) > 1 else [
    "llm_sim_search",
    "llm_sim_search_ivf",
    "llm_emb_neardup",
    "llm_semantic_dedup",
    "llm_ann_recall",
    "llm_hard_negatives",
    "llm_mmr_diversify",
    "llm_emb_outliers",
    "llm_label_medoid",
]
RUNS = int(os.environ.get("AB_RUNS", "5"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fold_dot(a, b):
    return V._fold_dot(a, b)


def fold_norm(a):
    return F.sqrt(V._fold_sqnorm(a))


fast_dot, fast_norm = V.dot_product, V.l2_norm


def set_arm(arm: str) -> None:
    if arm == "A":
        V.dot_product, V.l2_norm = fold_dot, fold_norm
    else:
        V.dot_product, V.l2_norm = fast_dot, fast_norm


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ab-vectors")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# cpus={cpus} nproc={len(os.sched_getaffinity(0))}", file=sys.stderr, flush=True)
    from air_quality_data_pipeline_spark.registry import load_all_queries

    specs = load_all_queries()
    specs["flagship"].builder(spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).format("noop").save()

    print(f"{'query':24s} {'fold_med':>9} {'fast_med':>9} {'speedup':>8}")
    for name in QUERIES:
        samples = {"A": [], "B": []}
        for r in range(RUNS):
            for arm in ("A", "B"):
                set_arm(arm)
                df = specs[name].builder(spark, SF_DIR)
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                samples[arm].append(time.perf_counter() - t0)
        set_arm("B")
        a = statistics.median(samples["A"])
        b = statistics.median(samples["B"])
        print(f"{name:24s} {a:9.3f} {b:9.3f} {a / b:7.2f}x")


if __name__ == "__main__":
    main()
