"""End-to-end benchmark of the query registry, with a traced per-layer mode.

Usage (from the repository root):

    python3 perfbench/run.py --workload star_sf1 --seed 1 --seconds 12 --trace 0

One process is one closed-loop client of one ``SparkSession`` at
``local[nproc]``. It drives the registry the way a caller of
``queries()[name](spark, sf_dir)`` does: every query execution is timed
from its builder call, through Catalyst planning
(``queryExecution().executedPlan()``), to a fully materialized noop write.

A run:

1. generates the workload's inputs under ``perfbench/.cache`` (seeded, cached
   across runs, untimed);
2. sets up the session ``SETUPS`` times -- session start, registry load, the
   fixed sf0.001 warm-up -- and reports the median as ``setup_s``;
3. checks every workload query once against its DuckDB oracle (rows-only
   queries must return rows), untimed; this pass also warms the workload;
4. runs one untimed warm pass, then timed passes over the query list, each
   in a seed-shuffled order, until ``--seconds`` have elapsed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of ``layers.LAYERS``, measured on
passes run with the event log, job groups and a stream listener on, and
``trace.overhead_s`` against untraced passes of the same run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pathlib
import random
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = pathlib.Path(__file__).resolve().parent
REPO = HERE.parent
CACHE = HERE / ".cache"

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(REPO))

import datagen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


@dataclass(frozen=True)
class Workload:
    sf: str
    queries: tuple[str, ...]


# Two workloads that stress different layers, each the bypass for the other's
# optimizations. driver_mix is the driver's traffic at its own scale: small
# queries whose cost is mostly builders (schema inference, eager streams and
# file writes), planning and Python/Arrow workers. star_sf1 is the relational
# core at sf1, where execution is nearly all the work and Python never runs.
# Both are sized so that one run, with its cold set-up and oracle check, stays
# under a minute on a 4-core host.
WORKLOADS = {
    "driver_mix": Workload(
        sf="0.01",
        queries=(
            "flagship",
            "agg_stats",
            "mm_decode",
            "udf_arrow",
            "llm_text_normalize",
            "st_ingest",
            "st_sink",
            "snk_csv",
            "src_partitioned",
        ),
    ),
    "star_sf1": Workload(
        sf="1",
        queries=("flagship", "join_bcast", "agg_cube", "topk", "st_tumble"),
    ),
}

WARMUP = ("flagship",)
SETUPS = 3
DRIVER_MEMORY = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """Content hash of the package, for runs outside a git checkout."""
    h = hashlib.sha256()
    for p in sorted((REPO / "air_quality_data_pipeline_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(REPO), "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


@dataclass
class Sample:
    exec_id: int
    name: str
    build_s: float
    plan_s: float
    exec_s: float

    @property
    def total_s(self) -> float:
        return self.build_s + self.plan_s + self.exec_s


@dataclass
class Outcome:
    """Counts one run accumulates across its check and timed passes."""

    attempted: int = 0
    raised: int = 0
    checked: int = 0
    mismatched: int = 0
    persisted_rdds: int = 0
    samples: list[Sample] = field(default_factory=list)


class Client:
    """One closed-loop client: a session, the registry, and the run's tallies."""

    def __init__(self, workload: Workload, sf_dir: str, warm_dir: str, work: pathlib.Path, seed: int):
        self.workload = workload
        self.sf_dir = sf_dir
        self.warm_dir = warm_dir
        self.work = work
        self.rng = random.Random(seed)
        self.outcome = Outcome()
        self.spark = None
        self.specs = None
        self.owners = None  # layers.StreamOwners while tracing
        self.cpus = 0
        self.next_exec = 0

    # -- session -----------------------------------------------------------
    def setup(self, event_dir: pathlib.Path | None = None) -> float:
        """Start a session, load the registry and warm up; return seconds."""
        from pyspark.sql import SparkSession

        n = str(nproc())
        t0 = time.perf_counter()
        builder = (
            SparkSession.builder.master(f"local[{n}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", n)
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tempfile.gettempdir()}")
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.eventLog.enabled", "true" if event_dir else "false")
        )
        if event_dir is not None:
            builder = (
                builder.config("spark.eventLog.dir", str(event_dir))
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cpus = self.spark.sparkContext.defaultParallelism
        from air_quality_data_pipeline_spark.registry import load_all_queries

        self.specs = load_all_queries()
        for name in WARMUP:
            self.specs[name].builder(self.spark, self.warm_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- tracing -------------------------------------------------------------
    def _phase(self, exec_id: int, phase: str) -> None:
        if self.owners is None:
            return
        self.owners.current = (exec_id, phase)
        self.spark.sparkContext.setJobGroup(layers.job_group(exec_id, phase), phase, False)

    def _clear_phase(self) -> None:
        if self.owners is None:
            return
        self.owners.current = None
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    # -- passes --------------------------------------------------------------
    def order(self) -> list[str]:
        names = list(self.workload.queries)
        self.rng.shuffle(names)
        return names

    def execute(self, name: str) -> Sample | None:
        """build -> plan -> noop write of one query; None if it raised."""
        exec_id = self.next_exec
        self.next_exec += 1
        self.outcome.attempted += 1
        try:
            self._phase(exec_id, "build")
            t0 = time.perf_counter()
            df = self.specs[name].builder(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            self._phase(exec_id, "plan")
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            self._phase(exec_id, "exec")
            df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
        except Exception:
            self.outcome.raised += 1
            print(f"query {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        finally:
            self._clear_phase()
        persisted = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.outcome.persisted_rdds = max(self.outcome.persisted_rdds, persisted)
        return Sample(exec_id, name, t1 - t0, t2 - t1, t3 - t2)

    def check(self) -> None:
        """Oracle-check every workload query once (rows-only: rows > 0)."""
        from air_quality_data_pipeline_spark.oracle import check_query

        for name in self.order():
            spec = self.specs[name]
            self.outcome.attempted += 1
            try:
                df = spec.builder(self.spark, self.sf_dir)
                if spec.oracle is not None:
                    problems = check_query(df, spec.oracle, self.sf_dir)
                else:
                    problems = [] if df.count() > 0 else ["rows-only query returned no rows"]
            except Exception:
                self.outcome.raised += 1
                print(f"check {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
                continue
            self.outcome.checked += 1
            if problems:
                self.outcome.mismatched += 1
                print(f"check {name} mismatched: {problems}", file=sys.stderr)

    def run_pass(self) -> tuple[float, list[Sample]]:
        """One pass over the workload in a fresh seeded order."""
        samples = []
        t0 = time.perf_counter()
        for name in self.order():
            sample = self.execute(name)
            if sample is not None:
                samples.append(sample)
        return time.perf_counter() - t0, samples

    def timed_passes(self, seconds: float) -> list[float]:
        """One untimed warm pass, then full passes until ``seconds`` have
        elapsed; returns the wall time of each timed pass."""
        self.run_pass()
        walls: list[float] = []
        deadline = time.perf_counter() + seconds
        while not walls or time.perf_counter() < deadline:
            wall, samples = self.run_pass()
            walls.append(wall)
            self.outcome.samples.extend(samples)
        return walls

    def leftover_tables(self) -> int:
        return len(self.spark.catalog.listTables())

    def rss_peak_mb(self) -> float:
        """Peak resident set of the driver: the JVM plus this Python process."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when its
    stdin closes, which otherwise happens only after this process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def per_query_medians(samples: list[Sample]) -> dict[str, float]:
    by_name: dict[str, list[float]] = {}
    for s in samples:
        by_name.setdefault(s.name, []).append(s.total_s)
    return {n: round(statistics.median(v), 4) for n, v in sorted(by_name.items())}


def end_to_end(client: Client, seconds: float) -> tuple[dict, list[str]]:
    setups = []
    for _ in range(SETUPS):
        client.stop()
        setups.append(client.setup())
    t0 = time.perf_counter()
    client.check()
    check_s = time.perf_counter() - t0
    walls = client.timed_passes(seconds)
    client.stop()
    latencies = [s.total_s for s in client.outcome.samples]
    q = stats.tail_quantile(len(latencies))
    metrics = {
        "pass_s": (statistics.median(walls), "s"),
        "query_p50_s": (stats.percentile(latencies, 0.5), "s"),
        "query_p90_s": (stats.percentile(latencies, q), "s"),
        "setup_s": (statistics.median(setups), "s"),
    }
    notes = [
        f"passes: {len(walls)} ({', '.join(f'{w:.3f}' for w in walls)} s)",
        f"setups: {', '.join(f'{s:.3f}' for s in setups)} s; oracle check pass: {check_s:.3f} s",
        f"query samples: {len(latencies)}; query_p90_s is p{100 * q:.0f}",
        "median latency per query: " + json.dumps(per_query_medians(client.outcome.samples)),
    ]
    return metrics, notes


def traced(client: Client, seconds: float) -> tuple[dict, list[str]]:
    for _ in range(SETUPS - 1):
        client.stop()
        client.setup()
    client.check()
    untraced_walls = client.timed_passes(seconds / 2)
    client.stop()

    event_dir = client.work / "events"
    event_dir.mkdir(parents=True, exist_ok=True)
    client.setup(event_dir)
    client.owners = layers.StreamOwners()
    client.spark.streams.addListener(client.owners)
    first_traced = len(client.outcome.samples)
    tables_before = client.leftover_tables()
    walls = client.timed_passes(seconds / 2)
    # per pass, counting the untimed warm pass that timed_passes runs first
    leftover = (client.leftover_tables() - tables_before) / (len(walls) + 1)
    rss = client.rss_peak_mb()
    app_id = client.spark.sparkContext.applicationId
    client.stop()

    usage = layers.attribute(layers.read_event_log(event_dir, app_id), client.owners.owner)
    timings = [
        (s.exec_id, s.name, s.build_s, s.plan_s, s.exec_s)
        for s in client.outcome.samples[first_traced:]
    ]
    found, per_query = layers.layer_metrics(usage, timings, len(walls))
    pass_s = statistics.median(walls)
    found.update(
        {
            "registry.build_share": found.get("registry.build_s", 0.0) / pass_s,
            "session.persisted_rdds": client.outcome.persisted_rdds,
            "session.leftover_tables": leftover,
            "driver.rss_peak_mb": rss,
            "oracle.checked": client.outcome.checked,
            "oracle.mismatched": client.outcome.mismatched,
            "trace.overhead_s": pass_s - statistics.median(untraced_walls),
        }
    )
    metrics = {name: (found.get(name, 0.0), unit) for name, (unit, _, _) in layers.LAYERS.items()}
    notes = [
        f"traced passes: {len(walls)}; untraced passes: {len(untraced_walls)}",
        "per query (per pass): " + json.dumps(per_query, sort_keys=True),
    ]
    return metrics, notes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Fail before generating anything when the package is not here.
    import air_quality_data_pipeline_spark.registry  # noqa: F401
    import pyspark
    import pyarrow
    import duckdb

    workload = WORKLOADS[args.workload]
    work = CACHE / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Everything Spark, its Python workers and the package's builders write
    # (shuffle files, checkpoints, sink output) goes under the run directory.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None
    client = None
    try:
        warm_dir = datagen.ensure_scale(CACHE, 0.001)
        if workload.sf == "1":
            sf_dir = datagen.ensure_sf1(CACHE, REPO)
        else:
            sf_dir = datagen.ensure_scale(CACHE, float(workload.sf))
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc(),
            "host_cpus": os.cpu_count(),
            "sf_dir": os.path.relpath(sf_dir, REPO),
            "git_commit": git_commit(),
            "source_sha": source_digest(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "driver_memory": DRIVER_MEMORY,
        }
        print("env: " + json.dumps(env), flush=True)
        client = Client(workload, str(sf_dir), str(warm_dir), work, args.seed)
        metrics, notes = (traced if args.trace else end_to_end)(client, args.seconds)
    finally:
        if client is not None:
            client.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    o = client.outcome
    failed = o.raised + o.mismatched
    print(f"cpus: {client.cpus} (Spark default parallelism; nproc {nproc()})")
    for note in notes:
        print(note)
    for name, (value, unit) in metrics.items():
        print(f"{name}: {value:.6g} {unit}")
    print(f"failed_frac: {failed / o.attempted:.6g} ratio ({failed} of {o.attempted})")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": o.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
