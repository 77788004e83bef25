"""Time EVERY registered query once or twice with the noop sink at sf0.1 —
the round-10 optimization checklist builder. Prints name,seconds sorted
slowest-first. Single-session, bench-shaped conf.

Usage: python scripts/sweep_all.py [--runs 2] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="/tmp/sweep_all.json")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from air_quality_data_pipeline_spark.registry import load_all_queries

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sweep-all")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# cpus={cpus} nproc={len(os.sched_getaffinity(0))}", file=sys.stderr, flush=True)
    specs = load_all_queries()
    specs["flagship"].builder(spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).format("noop").save()

    out: dict[str, float] = {}
    errs: dict[str, str] = {}
    for name in sorted(specs):
        best = None
        for _ in range(args.runs):
            try:
                df = specs[name].builder(spark, args.sf_dir)
                t0 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            except Exception as ex:
                errs[name] = f"{type(ex).__name__}: {str(ex)[:150]}"
                break
        if best is not None and name not in errs:
            out[name] = round(best, 3)
        print(f"{name:28s} {out.get(name, 'ERR')}", flush=True)

    with open(args.out, "w") as fh:
        json.dump({"timings": out, "errors": errs}, fh, indent=1)
    print("\n--- slowest 40 ---")
    for name, sec in sorted(out.items(), key=lambda kv: -kv[1])[:40]:
        print(f"{name:28s} {sec:7.3f}")
    if errs:
        print("ERRORS:", errs)


if __name__ == "__main__":
    main()
