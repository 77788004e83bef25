"""Local replica of the verification driver's DuckDB-oracle comparison.

The driver compares each ``queries()[name]`` DataFrame against
``oracle_sql()[name]`` run in DuckDB: row count, schema, and an
order-insensitive value hash with columns sorted by name. This module
replays that locally (tests/test_oracle.py) so mismatches are caught before
a round submission. Our check is stricter than a hash: exact element-wise
equality after canonicalization, with a readable diff on failure.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .tables import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh DuckDB connection with the fixture tables registered as views.

    Mirrors ``tables.table``'s vintage handling: if ``events.ts`` is stored
    as BIGINT epoch-nanos (the legacy fixture encoding, still produced by
    scripts/make_sf1.py), the view rebuilds a TIMESTAMP at microsecond
    truncation — the same value Spark's loader constructs — so oracle SQL
    can always treat ``ts`` as a timestamp.
    """
    con = duckdb.connect()
    for name in TABLE_NAMES:
        select = "*"
        if name == "events":
            import pyarrow.parquet as pq

            ts_type = str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)
            if ts_type == "int64":
                select = "* REPLACE (make_timestamp(ts // 1000) AS ts)"
            elif ts_type == "timestamp[ns]":
                # Spark reads TIMESTAMP(NANOS) parquet with nanosAsLong +
                # µs truncation; mirror that here so a sub-microsecond
                # component can never shift epoch/window math between engines.
                select = "* REPLACE (make_timestamp(epoch_ns(ts) // 1000) AS ts)"
        con.execute(
            f"CREATE VIEW {name} AS SELECT {select} FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — driver-equivalent."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).reset_index(drop=True)
    for col in pdf.columns:
        s = pdf[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            pdf[col] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            pdf[col] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[col] = s.astype("float64")
        elif s.dtype == object:
            # decimals / lists / None → canonical python strings for sorting
            pdf[col] = s.map(lambda v: None if v is None else str(v))
    if len(pdf) and len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort", na_position="first")
    return pdf.reset_index(drop=True)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of human-readable mismatch descriptions (empty = match)."""
    problems: list[str] = []
    a, b = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        problems.append(f"column mismatch: spark={list(a.columns)} oracle={list(b.columns)}")
        return problems
    if len(a) != len(b):
        problems.append(f"row count mismatch: spark={len(a)} oracle={len(b)}")
        return problems
    # Dtype gate: canonicalize() collapses integer widths to int64 and floats
    # to float64, so any dtype mismatch left here (float-vs-int from DuckDB
    # HUGEINT leakage, object-vs-numeric) is real and WOULD fail the driver's
    # value hash even when elements compare equal — reject it locally.
    for col in a.columns:
        if a[col].dtype != b[col].dtype:
            problems.append(
                f"dtype mismatch col {col!r}: spark={a[col].dtype} oracle={b[col].dtype}"
            )
    if problems:
        return problems
    for col in a.columns:
        av, bv = a[col], b[col]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            both_nan = av.isna() & bv.isna()
            eq = (av == bv) | both_nan
            if not eq.all():
                idx = (~eq).idxmax()
                diff = np.nanmax(np.abs(av.to_numpy() - bv.to_numpy()))
                problems.append(
                    f"float col {col!r}: {int((~eq).sum())} diffs, max abs diff {diff:.3e}; "
                    f"first at row {idx}: spark={av[idx]!r} oracle={bv[idx]!r}"
                )
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                idx = (~eq).idxmax()
                problems.append(
                    f"col {col!r}: {int((~eq).sum())} diffs; first at row {idx}: "
                    f"spark={av[idx]!r} oracle={bv[idx]!r}"
                )
    return problems


def check_query(df: DataFrame, sql: str, sf_dir: str) -> list[str]:
    """Run one spark DataFrame + oracle SQL pair and compare."""
    con = duckdb_connection(sf_dir)
    try:
        oracle_pdf = con.sql(sql).df()
    finally:
        con.close()
    return compare_frames(df.toPandas(), oracle_pdf)
