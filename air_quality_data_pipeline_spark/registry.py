"""Query registry: one named entry per implemented operator (SURVEY.md §2).

Each operator module registers its demonstration queries here with an
optional DuckDB oracle SQL string. ``__spark_entry__.py`` exposes the
registry to the verification driver; ``tests/test_oracle.py`` replays the
driver's comparison locally.

Driver order. The driver checks only the first 50 entries of ``queries()``
and records each round's rows in ``CORRECTNESS_r<N>.json`` at the repository
root. ``load_all_queries()`` orders the registry by one rule derived from
those files: a query's key is N of its newest row if that row passed, else
0 (never sampled, or the newest row failed); the registry is sorted by
``(key, registration order)``. A row passes when ``hash_match`` is true, or
when ``err`` is ``"no_oracle"`` and ``spark_rows > 0`` (rows-only by
design). So unsampled and failing queries come first, then the oldest
evidence, and the whole registry rotates through the window with no list
kept by hand. Without history files the order is registration order.

Queries whose code changed are not moved forward: every change already
replays all queries against the oracle at sf0.01 and sf0.1
(``scripts/oracle_replay.py``), which is where changed code is checked.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import re
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .session import _ENGINE_CONF, apply_engine_conf

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    confs: Mapping[str, str] = field(default_factory=dict)


QUERIES: dict[str, QuerySpec] = {}

# the driver's CORRECTNESS_r<N>.json files live at the repository root
_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# modules that register queries on import
_QUERY_MODULES = [
    "air_quality_data_pipeline_spark.pipeline",
    "air_quality_data_pipeline_spark.operators.filters",
    "air_quality_data_pipeline_spark.operators.joins",
    "air_quality_data_pipeline_spark.operators.aggregates",
    "air_quality_data_pipeline_spark.operators.sorts",
    "air_quality_data_pipeline_spark.operators.setops",
    "air_quality_data_pipeline_spark.operators.windows",
    "air_quality_data_pipeline_spark.operators.scalar_functions",
    "air_quality_data_pipeline_spark.operators.udfs",
    "air_quality_data_pipeline_spark.operators.sql_queries",
    "air_quality_data_pipeline_spark.operators.dedup",
    "air_quality_data_pipeline_spark.operators.similarity",
    "air_quality_data_pipeline_spark.operators.textops",
    "air_quality_data_pipeline_spark.operators.multimodal",
    "air_quality_data_pipeline_spark.operators.timeseries",
    "air_quality_data_pipeline_spark.operators.quality",
    "air_quality_data_pipeline_spark.operators.graph",
    "air_quality_data_pipeline_spark.sources.queries",
    "air_quality_data_pipeline_spark.streaming.timewindow",
    "air_quality_data_pipeline_spark.streaming.jobs",
]


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    confs: Mapping[str, str] | None = None,
):
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder.

    ``QuerySpec.builder`` wraps it: each build first runs
    ``apply_engine_conf``, then sets the query's ``confs``. Builders are
    lazy, so confs are applied at build time, read at execution, and reset
    by the next registered build — materialize each query before building
    the next. Only ``_ENGINE_CONF`` keys are reset, so only they may be
    declared. The decorator returns the undecorated function.
    """
    confs = dict(confs or {})
    unreset = sorted(set(confs) - set(_ENGINE_CONF))
    if unreset:
        raise ValueError(f"{name}: confs {unreset} are not reset by apply_engine_conf")

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_engine_conf(spark)
            for key, value in confs.items():
                spark.conf.set(key, value)
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(name, build, oracle, fn.__doc__ or "", tags, confs)
        return fn

    return deco


def _passed(row: Mapping) -> bool:
    return row.get("hash_match") is True or (
        row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0
    )


def driver_history(history_dir: str = _REPO_DIR) -> dict[str, int]:
    """Map each query with a driver row to its sort key: the round N of its
    newest row if that row passed, else 0. Unsampled queries are absent."""
    rounds: dict[int, str] = {}
    for path in glob.glob(os.path.join(history_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            rounds[int(m.group(1))] = path
    key: dict[str, int] = {}
    for n in sorted(rounds):
        with open(rounds[n]) as f:
            for name, row in json.load(f).items():
                key[name] = n if _passed(row) else 0
    return key


def load_all_queries(history_dir: str = _REPO_DIR) -> dict[str, QuerySpec]:
    """Import every operator module (idempotent) and return the registry in
    driver order (see the module docstring)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    key = driver_history(history_dir)
    # sorted() is stable: equal keys keep registration order
    return {n: QUERIES[n] for n in sorted(QUERIES, key=lambda n: key.get(n, 0))}
