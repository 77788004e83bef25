"""Traced runs: attribute Spark's own records to query executions and layers.

A traced run tags each query execution's work three ways:

- **Job groups.** The runner sets the job group ``perfbench|<exec>|<phase>``
  before each phase of a query execution (``build``, ``plan``, ``exec``).
- **Stream owners.** Micro-batches run under their stream's own job group
  (its ``runId``), not the caller's. ``StreamOwners`` is a
  ``StreamingQueryListener``; Spark calls ``onQueryStarted`` synchronously
  inside ``DataStreamWriter.start()``, so the execution that is current at
  that moment is the one whose builder started the stream.
- **Event log.** After ``spark.stop()`` the event log (stage, task, SQL and
  streaming-progress events) is parsed and every stage, task and progress
  record is charged to its execution and phase.

Layers are the package's modules; each layer metric says which end-to-end
metric, on which workload, it should move (``LAYERS`` below).
"""

from __future__ import annotations

import json
import pathlib
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

GROUP_PREFIX = "perfbench"
PHASES = ("build", "plan", "exec")

# name -> (unit, better, layer note: the end-to-end metric and workload it moves)
LAYERS: dict[str, tuple[str, str, str]] = {
    "registry.build_s": ("s", "lower", "pass_s, query_p50_s on driver_mix"),
    "registry.build_jobs": ("count", "lower", "pass_s, query_p50_s on driver_mix"),
    "registry.build_share": ("ratio", "lower", "high on driver_mix, low on star_sf1"),
    "tables.schema_jobs": ("count", "lower", "query_p50_s on driver_mix"),
    "session.persisted_rdds": ("count", "lower", "memory guard, every workload"),
    "session.leftover_tables": ("count", "lower", "memory guard, every workload"),
    "driver.rss_peak_mb": ("MB", "lower", "memory guard, every workload"),
    "operators.plan_s": ("s", "lower", "query_p50_s on driver_mix"),
    "operators.exec_s": ("s", "lower", "pass_s, query_p90_s on star_sf1"),
    "operators.exec_jobs": ("count", "lower", "pass_s on star_sf1"),
    "operators.stages": ("count", "lower", "pass_s on star_sf1"),
    "operators.tasks": ("count", "lower", "pass_s on star_sf1"),
    "operators.task_skew": ("ratio", "lower", "query_p90_s on star_sf1"),
    "operators.cpu_over_run": ("ratio", "higher", "pass_s on star_sf1"),
    "operators.gc_s": ("s", "lower", "pass_s on star_sf1"),
    "operators.input_bytes": ("bytes", "lower", "pass_s on star_sf1"),
    "operators.shuffle_write_bytes": ("bytes", "lower", "pass_s on star_sf1"),
    "operators.shuffle_read_bytes": ("bytes", "lower", "pass_s on star_sf1"),
    "operators.spill_bytes": ("bytes", "lower", "pass_s on star_sf1"),
    "functions.python_bytes_sent": ("bytes", "lower", "pass_s on driver_mix, 0 on star_sf1"),
    "functions.python_bytes_returned": ("bytes", "lower", "pass_s on driver_mix, 0 on star_sf1"),
    "functions.python_stage_run_s": ("s", "lower", "pass_s on driver_mix, 0 on star_sf1"),
    "streaming.batches": ("count", "lower", "pass_s on driver_mix"),
    "streaming.input_rows": ("count", "lower", "pass_s on driver_mix"),
    "streaming.trigger_ms": ("ms", "lower", "pass_s on driver_mix"),
    "streaming.add_batch_ms": ("ms", "lower", "pass_s on driver_mix"),
    "streaming.planning_ms": ("ms", "lower", "pass_s on driver_mix"),
    "streaming.wal_commit_ms": ("ms", "lower", "pass_s on driver_mix"),
    "streaming.state_rows": ("count", "lower", "pass_s on driver_mix"),
    "sources.bytes_written": ("bytes", "lower", "pass_s on driver_mix"),
    "sources.records_written": ("count", "lower", "pass_s on driver_mix"),
    "sources.files_written": ("count", "lower", "pass_s on driver_mix"),
    "oracle.checked": ("count", "higher", "feeds failed_frac, every workload"),
    "oracle.mismatched": ("count", "lower", "feeds failed_frac, every workload"),
    "trace.overhead_s": ("s", "lower", "traced minus untraced pass_s"),
}


def job_group(exec_id: int, phase: str) -> str:
    return f"{GROUP_PREFIX}|{exec_id}|{phase}"


def parse_group(group: str | None) -> tuple[int, str] | None:
    """``perfbench|<exec>|<phase>`` -> (exec, phase); anything else -> None."""
    parts = (group or "").split("|")
    if len(parts) != 3 or parts[0] != GROUP_PREFIX or parts[2] not in PHASES:
        return None
    try:
        return int(parts[1]), parts[2]
    except ValueError:
        return None


class StreamOwners(StreamingQueryListener):
    """Record which query execution (and phase) started each stream."""

    def __init__(self) -> None:
        self.current: tuple[int, str] | None = None
        self.owner: dict[str, tuple[int, str]] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark's names)
        if self.current is not None:
            self.owner[str(event.runId)] = self.current

    def onQueryProgress(self, event) -> None:  # noqa: N802
        pass  # progress is read from the event log, which keeps every record

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def read_event_log(log_dir: pathlib.Path, app_id: str) -> list[dict]:
    """Events of one application: a plain file, or Spark's rolling
    ``eventlog_v2_<app>`` directory of ``events_<n>_<app>`` shards."""
    events: list[dict] = []
    for path in sorted(log_dir.iterdir()):
        if app_id not in path.name:
            continue
        shards = (
            sorted(
                (p for p in path.iterdir() if p.name.startswith("events_")),
                key=lambda p: int(p.name.split("_")[1]),
            )
            if path.is_dir()
            else [path]
        )
        for shard in shards:
            with shard.open() as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    if not events:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return events


@dataclass
class Usage:
    """Work charged to one (execution, phase)."""

    jobs: int = 0
    schema_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    metrics: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    stage_skew: list[float] = field(default_factory=list)


_TASK_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.output.bytesWritten": "bytes_written",
    "internal.metrics.output.recordsWritten": "records_written",
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_returned",
}
_STREAM_DURATIONS = {
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "queryPlanning": "planning_ms",
    "walCommit": "wal_commit_ms",
}


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, out)


def attribute(
    events: list[dict], stream_owner: dict[str, tuple[int, str]]
) -> dict[tuple[int, str], Usage]:
    """Charge jobs, stages, tasks, SQL driver metrics and stream progress in
    ``events`` to the (execution, phase) that caused them."""
    usage: dict[tuple[int, str], Usage] = defaultdict(Usage)

    def key_of(group: str | None) -> tuple[int, str] | None:
        return parse_group(group) or stream_owner.get(group or "")

    stage_key: dict[tuple[int, int], tuple[int, str]] = {}
    stage_durations: dict[tuple[int, int], list[int]] = defaultdict(list)
    stage_run_ms: dict[tuple[int, int], float] = defaultdict(float)
    python_stages: set[tuple[int, int]] = set()
    exec_key: dict[int, tuple[int, str]] = {}
    accum_name: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = key_of(props.get("spark.jobGroup.id"))
            if key is None:
                continue
            u = usage[key]
            u.jobs += 1
            stage_names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])]
            if "spark.sql.execution.id" not in props and any(
                n.startswith("parquet at ") for n in stage_names
            ):
                u.schema_jobs += 1
            if "spark.sql.execution.id" in props:
                exec_key.setdefault(int(props["spark.sql.execution.id"]), key)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = key_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if key is not None:
                stage_key[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = key
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sk = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if sk in stage_key:
                usage[stage_key[sk]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sk = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            key = stage_key.get(sk)
            if key is None:
                continue
            u = usage[key]
            u.tasks += 1
            info = ev.get("Task Info") or {}
            launch, finish = info.get("Launch Time"), info.get("Finish Time")
            if launch is not None and finish is not None:
                stage_durations[sk].append(finish - launch)
            for acc in info.get("Accumulables", []):
                name = _TASK_METRICS.get(acc.get("Name"))
                if name is None:
                    continue
                value = float(acc.get("Update") or 0)
                u.metrics[name] += value
                if name == "run_ms":
                    stage_run_ms[sk] += value
                elif name.startswith("python_") and value:
                    python_stages.add(sk)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, accum_name)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            key = exec_key.get(ev.get("executionId"))
            if key is None:
                continue
            for acc_id, value in ev.get("accumUpdates", []):
                if accum_name.get(acc_id) == "number of written files":
                    usage[key].metrics["files_written"] += value
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            progress = ev.get("progress") or {}
            key = stream_owner.get(progress.get("runId", ""))
            if key is None:
                continue
            m = usage[key].metrics
            m["stream_batches"] += 1
            m["stream_input_rows"] += sum(
                s.get("numInputRows") or 0 for s in progress.get("sources") or []
            )
            for src, dst in _STREAM_DURATIONS.items():
                m[dst] += (progress.get("durationMs") or {}).get(src) or 0
            m["state_rows"] += sum(
                s.get("numRowsTotal") or 0 for s in progress.get("stateOperators") or []
            )
    for sk in python_stages:
        usage[stage_key[sk]].metrics["python_run_ms"] += stage_run_ms[sk]
    for sk, durations in stage_durations.items():
        if len(durations) >= 2:
            usage[stage_key[sk]].stage_skew.append(
                max(durations) / max(1.0, statistics.median(durations))
            )
    return usage


def layer_metrics(
    usage: dict[tuple[int, str], Usage],
    timings: list[tuple[int, str, float, float, float]],
    passes: int,
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Per-pass layer metrics over the traced executions in ``timings``
    (exec id, query, build_s, plan_s, exec_s), and the same per query."""
    per_query: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    skew: list[float] = []
    for exec_id, name, build_s, plan_s, exec_s in timings:
        q = per_query[name]
        q["registry.build_s"] += build_s
        q["operators.plan_s"] += plan_s
        q["operators.exec_s"] += exec_s
        for phase in PHASES:
            u = usage.get((exec_id, phase))
            if u is None:
                continue
            m = u.metrics
            if phase == "build":
                q["registry.build_jobs"] += u.jobs
                q["tables.schema_jobs"] += u.schema_jobs
            else:
                q["operators.exec_jobs"] += u.jobs
                q["operators.stages"] += u.stages
                q["operators.tasks"] += u.tasks
                q["_run_s"] += m["run_ms"] / 1e3
                q["_cpu_s"] += m["cpu_ns"] / 1e9
                q["operators.gc_s"] += m["gc_ms"] / 1e3
                q["operators.input_bytes"] += m["input_bytes"]
                q["operators.shuffle_write_bytes"] += m["shuffle_write_bytes"]
                q["operators.shuffle_read_bytes"] += m["shuffle_read_bytes"]
                q["operators.spill_bytes"] += m["spill_bytes"]
                skew.extend(u.stage_skew)
            q["functions.python_bytes_sent"] += m["python_sent"]
            q["functions.python_bytes_returned"] += m["python_returned"]
            q["functions.python_stage_run_s"] += m["python_run_ms"] / 1e3
            q["streaming.batches"] += m["stream_batches"]
            q["streaming.input_rows"] += m["stream_input_rows"]
            q["streaming.trigger_ms"] += m["trigger_ms"]
            q["streaming.add_batch_ms"] += m["add_batch_ms"]
            q["streaming.planning_ms"] += m["planning_ms"]
            q["streaming.wal_commit_ms"] += m["wal_commit_ms"]
            q["streaming.state_rows"] += m["state_rows"]
            q["sources.bytes_written"] += m["bytes_written"]
            q["sources.records_written"] += m["records_written"]
            q["sources.files_written"] += m["files_written"]
    totals: dict[str, float] = defaultdict(float)
    for q in per_query.values():
        for k, v in q.items():
            totals[k] += v
    out = {k: v / passes for k, v in totals.items() if not k.startswith("_")}
    out["operators.cpu_over_run"] = totals["_cpu_s"] / totals["_run_s"] if totals["_run_s"] else 0.0
    out["operators.task_skew"] = max(skew, default=1.0)
    per_query_out = {
        name: {k: v / passes for k, v in q.items() if not k.startswith("_")}
        for name, q in sorted(per_query.items())
    }
    return out, per_query_out
