"""Driver simulation and full oracle replay at any scale.

First the driver's smoke check: ``__spark_entry__.entry(spark)`` must return
rows. Then every registered oracle-checked query runs in Spark AND its
DuckDB oracle SQL on the same parquet, compared exactly
(oracle.check_query, stricter than the driver's hash); rows-only queries
just have to execute. The default sf_dir is the driver's scale; a larger one
is correctness-at-scale evidence (hash overflow, skew-sensitive float folds,
output growing super-linearly fail there first).

The session is ``session.get_spark``: for registered builders it differs
from the driver's default session only in cores, heap, UI and confs the
registry re-applies before every build.

Usage: python scripts/oracle_replay.py [sf_dir] [--skip name,name,...]
                                                [--only name,name,...]
Exits 1 when any query fails, after a ``FAILS:`` line naming them.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--skip", default="", help="comma-separated query names")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()
    skip = set(args.skip.split(","))
    only = None if args.only is None else set(args.only.split(","))

    import __spark_entry__ as entry_module
    from air_quality_data_pipeline_spark.oracle import check_query
    from air_quality_data_pipeline_spark.registry import load_all_queries
    from air_quality_data_pipeline_spark.session import get_spark

    spark = get_spark("oracle-replay")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# cores={spark.sparkContext.defaultParallelism} sf_dir={args.sf_dir}", flush=True)

    t = time.time()
    df = entry_module.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema={df.columns}, {time.time() - t:.1f}s", flush=True)
    if not rows:
        print("FAILS: ['entry()']")
        return 1

    fails = []
    for name, spec in sorted(load_all_queries().items()):
        if only is not None and name not in only:
            continue
        if name in skip:
            print(f"{name:24s} SKIPPED")
            continue
        t = time.time()
        try:
            if spec.oracle is None:
                n = spec.builder(spark, args.sf_dir).count()
                print(f"{name:24s} ROWS-ONLY n={n} {time.time() - t:6.1f}s", flush=True)
                continue
            probs = check_query(spec.builder(spark, args.sf_dir), spec.oracle, args.sf_dir)
        except Exception as ex:
            probs = [f"EXCEPTION {type(ex).__name__}: {str(ex)[:200]}"]
        status = "OK" if not probs else "MISMATCH"
        detail = " :: " + probs[0][:160] if probs else ""
        print(f"{name:24s} {status:8s} {time.time() - t:6.1f}s{detail}", flush=True)
        if probs:
            fails.append(name)
    print("FAILS:", fails if fails else "none")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
