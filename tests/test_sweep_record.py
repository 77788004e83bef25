"""The per-query record of scripts/sweep_all.py: phase walls, job and stage
counters from Spark's status store, and plan shape, on four queries that
cover a plain aggregate, broadcasts, a builder that writes, and a stream."""

from __future__ import annotations

import contextlib
import io
import os
import sys

import pytest

from air_quality_data_pipeline_spark.registry import load_all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import sweep_all  # noqa: E402

SPECS = load_all_queries()
QUERIES = ("flagship", "agg_cube", "snk_csv", "st_ingest")
FIELDS = {
    "build_s", "plan_s", "exec_s", "build_jobs", "jobs", "stages", "tasks",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "shuffles", "broadcasts", "codegen", "stage_rows",
}
AQE = "spark.sql.adaptive.enabled"


@pytest.fixture(scope="module")
def records(spark, sf_dir):
    out = {}
    for name in QUERIES:
        before = spark.conf.get(AQE)
        out[name] = sweep_all.measure(spark, SPECS[name], sf_dir, runs=1)
        assert spark.conf.get(AQE) == before, name
    return out


def test_every_field_present_and_jobs_counted(records):
    for name, rec in records.items():
        assert set(rec) == FIELDS, name
        assert rec["jobs"] >= 1, name
        assert rec["jobs"] >= rec["build_jobs"] >= 0, name
        assert min(rec["build_s"], rec["plan_s"], rec["exec_s"]) >= 0, name


def test_writing_builder_charges_build_jobs(records):
    assert records["snk_csv"]["build_jobs"] >= 1


def test_shape_matches_a_direct_aqe_off_explain(spark, sf_dir, records):
    df = SPECS["agg_cube"].builder(spark, sf_dir)
    before = spark.conf.get(AQE)
    spark.conf.set(AQE, "false")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
    finally:
        spark.conf.set(AQE, before)
    want = sweep_all.shape_counts(buf.getvalue())
    got = {k: records["agg_cube"][k] for k in ("shuffles", "broadcasts", "codegen")}
    assert got == want and want["shuffles"] >= 1


def test_stage_rows_sum_to_totals(records):
    rec = records["agg_cube"]
    ran = [r for r in rec["stage_rows"] if r["status"] != "SKIPPED"]
    assert rec["stages"] == len(ran) >= 1
    for key in sweep_all.TOTALS:
        assert rec[key] == sum(r[key] for r in ran), key
    assert rec["shuffle_write_bytes"] > 0


def test_plan_shape_restores_the_aqe_value_it_found(spark, sf_dir):
    df = SPECS["agg_cube"].builder(spark, sf_dir)
    before = spark.conf.get(AQE)
    spark.conf.set(AQE, "false")
    try:
        sweep_all.plan_shape(df)
        assert spark.conf.get(AQE) == "false"
    finally:
        spark.conf.set(AQE, before)
