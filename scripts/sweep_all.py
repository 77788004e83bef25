"""Measure registered queries, one record each: every query by default.

Per query and per run, as perfbench does: the builder, ``executedPlan()``
and a noop write, each timed under job group ``sweep|<name>|<phase>``.
After the run the listener bus is drained and the run's jobs and stages
are read from the status tracker and Spark's status store (no event log;
the UI may stay off). Between the first build and its plan phase, untimed,
the plan shape is counted from a formatted explain of the same analyzed
plan planned again with AQE off (AQE assigns codegen ids only at run time;
before execution no cache the run fills has changed the plan's statistics).
The AQE value found is restored before the timed phases go on.

``--out`` JSON: ``"timings"`` {name: s}, the minimum over ``--runs`` of the
noop write alone (planning is ``plan_s``), which scripts/close_round.py
compares with SWEEP_r*.json; ``"errors"``; ``"cores"``; ``"sf_dir"``; and
``"records"`` {name: record} from the run whose exec time is in
``"timings"``: build_s, plan_s, exec_s; build_jobs and jobs (all phases);
stages, tasks and input/shuffle_read/shuffle_write/spill bytes over the
stages that ran; shuffles (``Exchange`` nodes), broadcasts
(``BroadcastExchange``) and codegen (distinct codegen ids); stage_rows
with each stage's counters. A ``SKIPPED`` stage is a reused exchange and
its row holds only its status: the status store evicts skipped stages
first, so one it lacks is skipped.

Limits: stream micro-batch jobs run under their own ``runId`` group and
are not counted. The job group is set here, not in ``register()``:
perfbench sets a per-phase group around the builder (perfbench/run.py),
which a group set inside the wrapper would overwrite, leaving perfbench's
build jobs uncharged. A ``graph_*`` record depends on which graph queries
ran before it: the co-purchase edge memo (operators/graph.py) is kept
across queries here, as in a driver pass, while bench.py evicts it before
every timed run. Once an earlier query has materialized the memo, its
cached relation reports its real size and more joins on it plan as
broadcasts, so shapes and times differ from a run of the query alone.
Evicting it per query would cost a cold edge build each time (23.0-27.1 s
against 15.5-18.1 s for the 23 graph queries at sf0.01).

Usage: python scripts/sweep_all.py [--runs 2] [--out FILE] [--queries q1,q2]
                                   [--sf-dir DIR [--sf-dir BIG_DIR]]
(``--sf-dir`` twice also prints the wall-ratio table of BASELINE.md's
scaling addenda; ``--out`` holds the first scale.)
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import re
import sys
import time

from py4j.protocol import Py4JJavaError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PHASES = ("build", "plan", "exec")
# record key -> accessor of Spark's StageData
STAGE_FIELDS = {
    "tasks": "numTasks",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
}
TOTALS = ("tasks", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
AQE = "spark.sql.adaptive.enabled"
NODE = re.compile(r"^\(\d+\) (\w+)", re.MULTILINE)
CODEGEN = re.compile(r"codegen id : (\d+)")


def job_group(name: str, phase: str) -> str:
    return f"sweep|{name}|{phase}"


@contextlib.contextmanager
def phase(sc, name: str, which: str, walls: dict):
    """Time one phase of a run under its own job group."""
    sc.setJobGroup(job_group(name, which), which, False)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        walls[f"{which}_s"] = round(time.perf_counter() - t0, 3)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def run_counters(spark, name: str, seen: set[int]) -> dict:
    """Jobs and stages of the run just finished. ``seen`` holds the job ids
    of earlier runs under the same group names; this run's are added."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    n_jobs = {}
    stage_ids: set[int] = set()
    for p in PHASES:
        jobs = [j for j in tracker.getJobIdsForGroup(job_group(name, p)) if j not in seen]
        seen.update(jobs)
        n_jobs[p] = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
    rows = []
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the store evicts skipped stages first
            sd = None
        row = {"stage": sid, "status": "SKIPPED" if sd is None else sd.status().toString()}
        if row["status"] != "SKIPPED":
            row.update({k: getattr(sd, acc)() for k, acc in STAGE_FIELDS.items()})
        rows.append(row)
    ran = [r for r in rows if r["status"] != "SKIPPED"]
    out = {"build_jobs": n_jobs["build"], "jobs": sum(n_jobs.values()), "stages": len(ran)}
    out.update({k: sum(r[k] for r in ran) for k in TOTALS})
    out["stage_rows"] = rows
    return out


def shape_counts(explain: str) -> dict:
    """Exchange, BroadcastExchange and codegen-span counts of a formatted
    explain."""
    nodes = NODE.findall(explain)
    return {
        "shuffles": nodes.count("Exchange"),
        "broadcasts": nodes.count("BroadcastExchange"),
        "codegen": len(set(CODEGEN.findall(explain))),
    }


def plan_shape(df) -> dict:
    """Shape counts of ``df``'s analyzed plan, planned afresh with AQE off
    in the session the DataFrame belongs to."""
    session = df.sparkSession
    execution = session._jvm.org.apache.spark.sql.execution
    mode = getattr(getattr(execution, "CommandExecutionMode$"), "MODULE$").ALL()
    formatted = execution.ExplainMode.fromString("formatted")
    before = session.conf.get(AQE)
    session.conf.set(AQE, "false")
    try:
        qe = session._jsparkSession.sessionState().executePlan(
            df._jdf.queryExecution().analyzed(), mode
        )
        return shape_counts(qe.explainString(formatted))
    finally:
        session.conf.set(AQE, before)


def measure(spark, spec, sf_dir: str, runs: int) -> dict:
    """The record of one query: walls and counters of its fastest-executing
    run, and the plan shape of its first build, taken between build and
    plan outside both timed phases."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = {j for p in PHASES for j in tracker.getJobIdsForGroup(job_group(spec.name, p))}
    best = shape = None
    for _ in range(runs):
        walls: dict[str, float] = {}
        with phase(sc, spec.name, "build", walls):
            df = spec.builder(spark, sf_dir)
        if shape is None:
            shape = plan_shape(df)
        with phase(sc, spec.name, "plan", walls):
            df._jdf.queryExecution().executedPlan()
        with phase(sc, spec.name, "exec", walls):
            df.write.mode("overwrite").format("noop").save()
        rec = {**walls, **run_counters(spark, spec.name, seen)}
        if best is None or rec["exec_s"] < best["exec_s"]:
            best = rec
    return {**best, **shape}


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
    cores = spark.sparkContext.defaultParallelism
    print(f"# cores={cores}", file=sys.stderr, flush=True)
    specs = load_all_queries()
    names = args.queries.split(",") if args.queries else sorted(specs)
    specs["flagship"].builder(spark, "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).format("noop").save()

    records: dict[str, dict[str, dict]] = {}
    errs: dict[str, str] = {}
    for sf_dir in sf_dirs:
        out = records[sf_dir] = {}
        for name in names:
            try:
                rec = out[name] = measure(spark, specs[name], sf_dir, args.runs)
                line = (f"{rec['exec_s']:7.3f}  build {rec['build_s']:.3f} plan "
                        f"{rec['plan_s']:.3f} jobs {rec['jobs']} stages {rec['stages']}")
            except Exception as ex:
                errs[name] = line = f"{type(ex).__name__}: {str(ex)[:150]}"
            print(f"{name:28s} {line}", flush=True)

    small = records[sf_dirs[0]]
    timings = {name: rec["exec_s"] for name, rec in small.items()}
    out = {"timings": timings, "errors": errs, "cores": cores, "sf_dir": sf_dirs[0],
           "records": small}
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    total = {k: sum(r[k] for r in small.values())
             for k in ("build_s", "plan_s", "exec_s", "build_jobs", "jobs", "stages", "tasks")}
    print(
        f"\nTOTAL {len(small)} queries at {sf_dirs[0]} on {cores} cores: build "
        f"{total['build_s']:.1f} s, plan {total['plan_s']:.1f} s, exec {total['exec_s']:.1f} s; "
        f"jobs {total['jobs']} ({total['build_jobs']} in builders), "
        f"stages {total['stages']}, tasks {total['tasks']}"
    )
    if len(sf_dirs) == 2:
        print(f"\n--- {sf_dirs[0]} -> {sf_dirs[1]} ---")
        ratio_table(names, timings, {n: r["exec_s"] for n, r in records[sf_dirs[1]].items()})
    if errs:
        print("ERRORS:", errs)


if __name__ == "__main__":
    main()
