"""Shared test fixtures: one SparkSession per test session, DuckDB oracles."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from air_quality_data_pipeline_spark.registry import load_all_queries
from air_quality_data_pipeline_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="aqps-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


def executed_plan(spark, name, sf_dir) -> str:
    """A registered query's physical plan, as the plan-shape gates read it."""
    df = load_all_queries()[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()
