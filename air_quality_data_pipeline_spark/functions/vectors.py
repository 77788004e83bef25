"""Vector math over array<float> embedding columns — pure Catalyst exprs.

``aggregate`` folds are sequential (left-to-right) in both Spark and DuckDB,
so dot products computed this way are bit-identical across engines after
casting floats to double. No UDF, no shuffle: similarity math is per-row and
scales linearly with the data.

Higher-order-function folds run as an interpreted lambda per element
(CodegenFallback). An unrolled 64-wide form with the same left-to-right
addition order compiles to straight-line codegen, but its much larger
expression tree lost where plans are built iteratively (llm_mmr_diversify
0.37x), so the fold is the only form.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<float>/array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double"))
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """NULL for zero-norm operands (undefined similarity), never an error.

    A broken encoder WILL ship zero vectors; an unguarded division is a
    DIVIDE_BY_ZERO job-kill under Spark 4's default ANSI mode — a single
    bad row aborts a 100 TB similarity pass (adversarial-fixture
    finding). NULL propagates through every threshold comparison as
    not-a-match, which is the semantics a dedup/search pipeline wants
    for an undefined similarity."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot_product(a, b) / denom)


# DuckDB fragments computing the identical sequential folds over FLOAT[] lists.
# {a} and {b} are list-typed SQL expressions; dims is the vector length.
def dot_product_duckdb(a: str, b: str, dims: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dims} + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(s, x) -> s + x)"
    )


def l2_norm_duckdb(a: str, dims: int) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dims} + 1), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), "
        f"(s, x) -> s + x))"
    )


def cosine_similarity_duckdb(a: str, b: str, dims: int) -> str:
    # NULL on zero-norm operands, mirroring the Spark guard above (DuckDB's
    # float division yields Inf/NaN instead of erroring — a silent
    # divergence rather than a crash, same fix either way).
    denom = f"({l2_norm_duckdb(a, dims)} * {l2_norm_duckdb(b, dims)})"
    return (
        f"(CASE WHEN {denom} <> 0.0 THEN "
        f"{dot_product_duckdb(a, b, dims)} / {denom} END)"
    )
