"""Per-stage profile of registered queries (guide §1: measure first).

The sandbox runs with spark.ui.enabled=false, so this captures the same
evidence the Stages tab would show via the event log: per-stage wall time,
task count, input bytes, shuffle read/write bytes, and peak task time (to
spot skew/stragglers). One session per invocation; the event log is parsed
after spark.stop().

Usage:
    python scripts/profile_query.py QUERY [QUERY ...] [--sf-dir DIR] [--runs 1]

Prints one table per query run plus the wall time, using the same noop-sink
methodology as bench.py.
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
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--warm", action="store_true", help="one unprofiled warmup run per query")
    args = ap.parse_args()

    log_dir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(log_dir, exist_ok=True)

    from air_quality_data_pipeline_spark.registry import load_all_queries
    from air_quality_data_pipeline_spark.session import get_spark

    spark = get_spark("profile-query", conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# cores={spark.sparkContext.defaultParallelism}", file=sys.stderr, flush=True)
    specs = load_all_queries()

    # warm the session so the first profiled query doesn't carry JVM init
    specs["flagship"].builder(spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).format("noop").save()

    walls: dict[str, list[float]] = {}
    for name in args.queries:
        if args.warm:
            specs[name].builder(spark, args.sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        for r in range(args.runs):
            spark.sparkContext.setJobDescription(f"PROFILE::{name}::run{r}")
            df = specs[name].builder(spark, args.sf_dir)
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            walls.setdefault(name, []).append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log (file, or Spark-4 eventlog_v2 directory) -------
    path = None
    for fn in os.listdir(log_dir):
        if app_id in fn:
            path = os.path.join(log_dir, fn)
    assert path, f"no event log for {app_id} in {log_dir}"
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
        assert parts, f"empty eventlog dir {path}"
        path = parts  # list of shard files, read in order
    else:
        path = [path]

    # job id -> profile label (from the job description property)
    job_label: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    stages: dict[int, dict] = {}
    def _lines():
        import subprocess

        for p in path:
            if p.endswith(".zstd"):
                out = subprocess.run(
                    ["zstd", "-dc", p], capture_output=True, check=True
                ).stdout.decode()
                yield from out.splitlines()
            else:
                with open(p) as fh:
                    yield from fh

    if True:
        for line in _lines():
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                if desc.startswith("PROFILE::"):
                    job_label[ev["Job ID"]] = desc[len("PROFILE::"):]
                    job_stages[ev["Job ID"]] = [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                stages[si["Stage ID"]] = {
                    "name": si.get("Stage Name", "")[:60],
                    "tasks": si.get("Number of Tasks"),
                    "wall_ms": (comp - sub) if sub and comp else None,
                    "input_mb": round((acc.get("internal.metrics.input.bytesRead") or 0) / 1e6, 1),
                    "sh_read_mb": round(
                        ((acc.get("internal.metrics.shuffle.read.localBytesRead") or 0)
                         + (acc.get("internal.metrics.shuffle.read.remoteBytesRead") or 0)) / 1e6, 2),
                    "sh_write_mb": round((acc.get("internal.metrics.shuffle.write.bytesWritten") or 0) / 1e6, 2),
                    "cpu_s": round((acc.get("internal.metrics.executorCpuTime") or 0) / 1e9, 2),
                    "run_s": round((acc.get("internal.metrics.executorRunTime") or 0) / 1e3, 2),
                    "gc_s": round((acc.get("internal.metrics.jvmGCTime") or 0) / 1e3, 2),
                    "spill_mb": round((acc.get("internal.metrics.diskBytesSpilled") or 0) / 1e6, 1),
                }

    for job_id in sorted(job_label):
        label = job_label[job_id]
        print(f"\n=== {label}  (job {job_id}) ===")
        print(f"{'stage':>5} {'wall_ms':>8} {'tasks':>5} {'run_s':>7} {'cpu_s':>7} "
              f"{'gc_s':>5} {'in_MB':>8} {'shR_MB':>8} {'shW_MB':>8} {'spill':>6}  name")
        for sid in sorted(job_stages.get(job_id, [])):
            s = stages.get(sid)
            if not s:
                continue  # skipped stage (reused exchange)
            print(f"{sid:>5} {s['wall_ms'] or 0:>8} {s['tasks']:>5} {s['run_s']:>7} "
                  f"{s['cpu_s']:>7} {s['gc_s']:>5} {s['input_mb']:>8} {s['sh_read_mb']:>8} "
                  f"{s['sh_write_mb']:>8} {s['spill_mb']:>6}  {s['name']}")

    print()
    for name, ws in walls.items():
        print(f"WALL {name}: " + ", ".join(f"{w:.3f}s" for w in ws))


if __name__ == "__main__":
    main()
