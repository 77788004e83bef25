"""Unit tests for the benchmark's order statistics and event-log parsing.

Run with ``python3 -m pytest perfbench -q``; no Spark session is started.
"""

from __future__ import annotations

import json
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

import layers  # noqa: E402
import stats  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0.0) == 1.0
    assert stats.percentile(xs, 1.0) == 4.0
    assert stats.percentile(xs, 0.5) == 2.5
    assert stats.percentile(xs, 0.9) == pytest.approx(3.7)
    assert stats.percentile([7.0], 0.9) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 1.5)


@pytest.mark.parametrize(
    "n, q",
    [(1, 0.5), (8, 0.5), (20, 0.5), (26, 1 - 10 / 26), (50, 0.8), (100, 0.9), (1000, 0.9)],
)
def test_tail_quantile_keeps_ten_samples_beyond(n, q):
    assert stats.tail_quantile(n) == pytest.approx(q)


def test_parse_group():
    assert layers.parse_group(layers.job_group(7, "build")) == (7, "build")
    assert layers.parse_group("perfbench|x|build") is None
    assert layers.parse_group("perfbench|1|other") is None
    assert layers.parse_group("1b2c-run-id") is None
    assert layers.parse_group(None) is None


def _job(job_id, group, stage_ids, stage_name="save at X", execution=None):
    props = {"spark.jobGroup.id": group}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Properties": props,
        "Stage Infos": [{"Stage ID": s, "Stage Name": stage_name} for s in stage_ids],
    }


def _stage(kind, stage_id, group):
    ev = {"Event": kind, "Stage Info": {"Stage ID": stage_id, "Stage Attempt ID": 0}}
    if kind == "SparkListenerStageSubmitted":
        ev["Properties"] = {"spark.jobGroup.id": group}
    return ev


def _task(stage_id, launch, finish, **updates):
    names = {
        "run_ms": "internal.metrics.executorRunTime",
        "cpu_ns": "internal.metrics.executorCpuTime",
        "shuffle": "internal.metrics.shuffle.write.bytesWritten",
        "written": "internal.metrics.output.bytesWritten",
        "py_sent": "data sent to Python workers",
    }
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Stage Attempt ID": 0,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Accumulables": [{"Name": names[k], "Update": v} for k, v in updates.items()],
        },
    }


SQL = "org.apache.spark.sql.execution.ui."
STREAM = "org.apache.spark.sql.streaming.StreamingQueryListener$"


def _events():
    build, exe = layers.job_group(0, "build"), layers.job_group(0, "exec")
    return [
        # schema inference during the build, then a stream batch under its runId
        _job(0, build, [0], stage_name="parquet at NativeMethodAccessorImpl.java:0"),
        _job(1, "run-1", [1], execution=5),
        _stage("SparkListenerStageSubmitted", 1, "run-1"),
        _task(1, 0, 10, run_ms=10, written=300, py_sent=40),
        _stage("SparkListenerStageCompleted", 1, "run-1"),
        {
            "Event": SQL + "SparkListenerSQLExecutionStart",
            "executionId": 5,
            "sparkPlanInfo": {
                "metrics": [],
                "children": [{"metrics": [{"name": "number of written files", "accumulatorId": 9}]}],
            },
        },
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 5, "accumUpdates": [[9, 2]]},
        {
            "Event": STREAM + "QueryProgressEvent",
            "progress": {
                "runId": "run-1",
                "durationMs": {"triggerExecution": 30, "addBatch": 20},
                "sources": [{"numInputRows": 100}],
                "stateOperators": [{"numRowsTotal": 5}],
            },
        },
        # execution: one stage, three tasks with one straggler
        _job(2, exe, [2], execution=6),
        _stage("SparkListenerStageSubmitted", 2, exe),
        _task(2, 0, 10, run_ms=10, cpu_ns=5_000_000, shuffle=1000),
        _task(2, 0, 10, run_ms=10, cpu_ns=5_000_000, shuffle=1000),
        _task(2, 0, 40, run_ms=40, cpu_ns=20_000_000, shuffle=1000),
        _stage("SparkListenerStageCompleted", 2, exe),
        # work outside any query execution is not charged
        _job(3, None, [3]),
    ]


def test_attribute_charges_stream_batches_to_their_builder():
    usage = layers.attribute(_events(), {"run-1": (0, "build")})
    build, exe = usage[(0, "build")], usage[(0, "exec")]
    assert (build.jobs, build.schema_jobs, build.stages, build.tasks) == (2, 1, 1, 1)
    assert build.metrics["stream_batches"] == 1
    assert build.metrics["stream_input_rows"] == 100
    assert build.metrics["state_rows"] == 5
    assert build.metrics["bytes_written"] == 300
    assert build.metrics["files_written"] == 2
    assert build.metrics["python_run_ms"] == 10
    assert (exe.jobs, exe.stages, exe.tasks) == (1, 1, 3)
    assert exe.metrics["shuffle_write_bytes"] == 3000
    assert exe.stage_skew == [4.0]
    assert set(usage) == {(0, "build"), (0, "exec")}


def test_layer_metrics_are_per_pass():
    usage = layers.attribute(_events(), {"run-1": (0, "build")})
    out, per_query = layers.layer_metrics(usage, [(0, "q", 2.0, 0.5, 1.0)], passes=2)
    assert out["registry.build_s"] == 1.0
    assert out["registry.build_jobs"] == 1.0
    assert out["tables.schema_jobs"] == 0.5
    assert out["operators.exec_s"] == 0.5
    assert out["operators.shuffle_write_bytes"] == 1500
    assert out["operators.cpu_over_run"] == pytest.approx(0.5)
    assert out["operators.task_skew"] == 4.0
    assert out["functions.python_bytes_sent"] == 20
    assert out["functions.python_stage_run_s"] == pytest.approx(0.005)
    assert out["streaming.trigger_ms"] == 15
    assert out["sources.files_written"] == 1
    assert per_query["q"]["operators.stages"] == 0.5
    assert not any(k.startswith("_") for k in out)


def test_read_event_log_file_and_rolling_dir(tmp_path):
    events = [{"Event": "A"}, {"Event": "B"}]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert layers.read_event_log(tmp_path, "local-1") == events

    rolled = tmp_path / "eventlog_v2_local-2"
    rolled.mkdir()
    for i, e in enumerate(events * 6, start=1):  # shard 10 must sort after shard 9
        (rolled / f"events_{i}_local-2").write_text(json.dumps({"n": i, **e}) + "\n")
    (rolled / "appstatus_local-2").write_text("")
    assert [e["n"] for e in layers.read_event_log(tmp_path, "local-2")] == list(range(1, 13))

    with pytest.raises(FileNotFoundError):
        layers.read_event_log(tmp_path, "local-3")


def test_benchmark_json_declares_every_layer_metric():
    root = pathlib.Path(__file__).resolve().parent.parent
    bench = json.loads((root / "BENCHMARK.json").read_text())
    declared = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert declared == {name: (unit, better) for name, (unit, better, _) in layers.LAYERS.items()}
