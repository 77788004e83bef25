"""Grouping-set builders against DuckDB on a hostile lineitem.

agg_cube, agg_rollup, agg_grouping_id and agg_grouping_sets aggregate on the
finest grouping set (l_returnflag, l_linestatus) first and run the Expand
over those per-key partials. This panel checks the two-level plan against
DuckDB and against the one-level plan (each query's oracle SQL run in
Spark) on rows the driver's fixtures never hold: NULL flags, NULL
``l_quantity``, a group whose quantities are all NULL, integral quantities
near 2^50, and an empty table.
"""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from air_quality_data_pipeline_spark.oracle import TABLE_NAMES, check_query, compare_frames
from air_quality_data_pipeline_spark.registry import load_all_queries

SPECS = load_all_queries()
NAMES = ["agg_cube", "agg_rollup", "agg_grouping_id", "agg_grouping_sets"]

_SCHEMA = pa.schema(
    [("l_quantity", pa.float64()), ("l_returnflag", pa.string()), ("l_linestatus", pa.string())]
)


def _hostile_rows() -> list[tuple]:
    rows = [(float(q % 50 + 1), "AN"[q % 2], "FO"[q % 3 % 2]) for q in range(600)]
    rows += [(5.0, None, "F"), (7.0, None, "F"), (3.0, "N", None), (None, None, None)]
    rows += [(None, "R", "O"), (None, "R", "O")]  # a group with no quantity
    rows += [(float(2**50 + k), "A", "O") for k in range(3)]  # exact up to 2^53
    return rows


def _fixture(tmp_path, src: str, rows: list[tuple]) -> str:
    """lineitem from ``rows`` plus the other tables copied from ``src``."""
    for name in TABLE_NAMES:
        if name != "lineitem":
            shutil.copyfile(f"{src}/{name}.parquet", tmp_path / f"{name}.parquet")
    cols = list(zip(*rows)) if rows else [[], [], []]
    table = pa.Table.from_arrays([pa.array(c, t.type) for c, t in zip(cols, _SCHEMA)], schema=_SCHEMA)
    pq.write_table(table, tmp_path / "lineitem.parquet", row_group_size=128)
    return str(tmp_path)


def _one_level(spark, sf_dir: str, name: str):
    """The query's oracle SQL run in Spark, one Expand over every row:
    its rows and its column types."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("lineitem")
    try:
        df = spark.sql(SPECS[name].oracle)
        return df.toPandas(), df.dtypes
    finally:
        spark.catalog.dropTempView("lineitem")


@pytest.mark.parametrize("name", NAMES)
def test_two_level_matches_duckdb_and_one_level(spark, sf_dir, tmp_path, name):
    sf_dir = _fixture(tmp_path, sf_dir, _hostile_rows())
    df = SPECS[name].builder(spark, sf_dir)
    got = df.toPandas()
    assert check_query(df, SPECS[name].oracle, sf_dir) == []
    ref, ref_types = _one_level(spark, sf_dir, name)
    assert compare_frames(got, ref) == []
    assert df.dtypes == ref_types
    # the all-NULL group keeps a NULL sum; COUNT(*) still counts its rows
    cell = got[(got.l_returnflag == "R") & (got.l_linestatus == "O")]
    assert len(cell) == 1 and cell.sum_qty.isna().all()
    assert "cnt" not in cell or (cell.cnt == 2).all()


@pytest.mark.parametrize("name", NAMES)
def test_two_level_on_empty_input_matches_one_level(spark, sf_dir, tmp_path, name):
    """Spark emits no row for any grouping set of an empty input, in one
    level or two (DuckDB emits the grand-total row here, so this case is
    checked against the one-level Spark plan, not the oracle)."""
    sf_dir = _fixture(tmp_path, sf_dir, [])
    df = SPECS[name].builder(spark, sf_dir)
    ref, ref_types = _one_level(spark, sf_dir, name)
    assert len(df.toPandas()) == len(ref) == 0
    assert df.dtypes == ref_types
