"""Time registered queries with the noop sink: every query by default, the
round-10 optimization checklist builder. Per query the minimum over
``--runs`` of the noop write alone (the build is not timed). Prints
name,seconds sorted slowest-first and writes ``{"timings", "errors"}`` to
``--out``, the shape scripts/close_round.py checks against SWEEP_r*.json.

Given ``--sf-dir`` twice, the sweep runs at both scales and also prints the
wall-ratio table used for BASELINE.md's scaling addenda; ``--out`` holds the
first scale's timings.

Usage: python scripts/sweep_all.py [--runs 2] [--out FILE] [--queries q1,q2]
                                   [--sf-dir DIR [--sf-dir BIG_DIR]]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def ratio_table(names: list[str], small: dict[str, float], big: dict[str, float]) -> None:
    print("| query | small min (s) | big min (s) | wall ratio @10x | exponent log10 |")
    print("|---|---|---|---|---|")
    for name in names:
        if name not in small or name not in big:
            continue
        a, b = small[name], big[name]
        ratio = b / a if a > 0 else float("nan")
        print(
            f"| {name} | {a:.2f} | {b:.2f} | {ratio:.1f}x | "
            f"{math.log10(ratio) if ratio > 0 else float('nan'):.2f} |"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="/tmp/sweep_all.json")
    ap.add_argument("--queries", default=None, help="comma-separated subset (default: all)")
    ap.add_argument("--sf-dir", action="append", default=None,
                    help="give twice for the small/big wall-ratio table")
    args = ap.parse_args()
    sf_dirs = args.sf_dir or [os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")]
    if len(sf_dirs) > 2:
        ap.error("--sf-dir at most twice")

    from air_quality_data_pipeline_spark.registry import load_all_queries
    from air_quality_data_pipeline_spark.session import get_spark

    spark = get_spark("sweep-all")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# cores={spark.sparkContext.defaultParallelism}", file=sys.stderr, flush=True)
    specs = load_all_queries()
    names = args.queries.split(",") if args.queries else sorted(specs)
    specs["flagship"].builder(spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).format("noop").save()

    timings: dict[str, dict[str, float]] = {}
    errs: dict[str, str] = {}
    for sf_dir in sf_dirs:
        out = timings[sf_dir] = {}
        for name in names:
            best = None
            for _ in range(args.runs):
                try:
                    df = specs[name].builder(spark, sf_dir)
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

    small = timings[sf_dirs[0]]
    with open(args.out, "w") as fh:
        json.dump({"timings": small, "errors": errs}, fh, indent=1)
    print("\n--- slowest 40 ---")
    for name, sec in sorted(small.items(), key=lambda kv: -kv[1])[:40]:
        print(f"{name:28s} {sec:7.3f}")
    if len(sf_dirs) == 2:
        print(f"\n--- {sf_dirs[0]} -> {sf_dirs[1]} ---")
        ratio_table(names, small, timings[sf_dirs[1]])
    if errs:
        print("ERRORS:", errs)


if __name__ == "__main__":
    main()
