"""The one session recipe (session.get_spark): its core and heap helpers,
the static confs it leaves on a session, and that every harness builds its
session through it. Builders must leave session conf as they found it."""

from __future__ import annotations

import os
import pathlib
import re

from air_quality_data_pipeline_spark import session
from air_quality_data_pipeline_spark.oracle import check_query
from air_quality_data_pipeline_spark.registry import load_all_queries

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_local_cores_prefers_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2, 3, 4})
    assert session.local_cores() == 3


def test_local_cores_falls_back_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.local_cores() == 3


def test_driver_heap_is_half_of_physical_memory():
    assert session.driver_heap(16 * 2**30) == "8192m"
    assert session.driver_heap(15 * 2**30 + 3 * 2**20) == "7681m"


def test_driver_heap_reads_the_host():
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert session.driver_heap() == session.driver_heap(phys)


def test_session_carries_only_the_recipe(spark):
    conf = dict(spark.sparkContext.getConf().getAll())
    assert conf["spark.master"] == f"local[{session.local_cores()}]"
    assert conf["spark.driver.memory"] == session.driver_heap()
    allowed = (
        {"spark.sql.shuffle.partitions"}
        | set(session._ENGINE_CONF)
        # set by Spark itself on every session
        | {"spark.sql.warehouse.dir", "spark.sql.artifact.isolation.enabled"}
    )
    extra = {k for k in conf if k.startswith("spark.sql.")} - allowed
    assert not extra, f"session conf outside the recipe: {sorted(extra)}"


def test_harnesses_build_sessions_through_get_spark():
    sources = [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]
    for path in sources:
        text = path.read_text()
        for needle in (r"SparkSession\.builder", r"spark\.driver\.memory"):
            assert not re.search(needle, text), f"{path.name} sets up its own session"


def test_snk_part_overwrite_leaves_session_static(spark, sf_dir):
    spec = load_all_queries()["snk_part_overwrite"]
    df = spec.builder(spark, sf_dir)
    assert df.count() > 0
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    assert mode.lower() == "static"
    assert not check_query(df, spec.oracle, sf_dir)
