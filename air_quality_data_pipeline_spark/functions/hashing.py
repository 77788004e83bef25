"""Deterministic, engine-portable hashing for dedup / fingerprinting.

Spark's built-in ``hash()`` (Murmur3, seed 42) is JVM-specific, so results
could never be oracle-checked against another engine. Token hashing uses
md5 (present and bit-identical in both engines) folded to a bigint; shingle
hashes compose token hashes with a polynomial ``h = (h*131 + t) mod
1_000_003`` — exact integer math, identical in Spark and DuckDB, all
Catalyst built-ins (md5/conv/transform) — no UDF, codegen-friendly, and
embarrassingly parallel at 100 TB (per-row, no shuffle).

MinHash uses the classic universal-hash family ``(a*h + b) mod P`` over the
token hash, with fixed (a, b) pairs — again exact int64 math.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

POLY_BASE = 131
POLY_MOD = 1_000_003
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# fixed universal-hash parameters (a_k, b_k) for the MinHash family
MINHASH_PARAMS = [
    (1299721, 104729),
    (1299743, 224737),
    (1299763, 350377),
    (1299791, 479909),
    (1299811, 611953),
    (1299817, 746773),
    (1299821, 882377),
    (1299827, 1020379),
]


def token_hashes_spark_sql(tokens_col: str) -> str:
    """Spark SQL: array<string> tokens → array<bigint> hashes.

    md5 → first 14 hex digits → bigint, mod POLY_MOD. md5 runs JVM-side in
    whole-stage codegen (unlike an interpreted per-char ``aggregate`` lambda,
    which Catalyst's ``InferFiltersFromConstraints`` can inline many times
    over into pushed-down filters — a measured 100× blowup)."""
    return (
        f"transform({tokens_col}, t -> "
        f"cast(conv(substring(md5(t), 1, 14), 16, 10) as bigint) % {POLY_MOD})"
    )


def token_hashes(tokens: str) -> Column:
    return F.expr(token_hashes_spark_sql(tokens))


def token_hashes_duckdb(tokens_col: str) -> str:
    """DuckDB SQL computing the identical per-token hashes."""
    return (
        f"list_transform({tokens_col}, t -> "
        f"CAST(('0x' || substring(md5(t), 1, 14)) AS BIGINT) % {POLY_MOD})"
    )


# Wider shingle space for the dedup-scale path: a 1e6-value space
# SATURATES once the corpus holds millions of documents (pigeonhole) and
# MinHash minima concentrate onto the globally-smallest mapped values —
# measured at 3M docs as multi-hundred-MB LSH buckets (collect_list heap
# OOM). 2^31 − 1 keeps shingles inside INT (array<int> wire format) while
# the composition h·131 + t stays far inside int64.
SHINGLE_MOD_WIDE = 2_147_483_647


def shingle_hashes_spark_sql(token_hashes_col: str, n: int = 3, mod: int = POLY_MOD) -> str:
    """Spark SQL: array<bigint> token hashes → array<bigint> n-gram shingle
    hashes by polynomial composition — integer ops only, no per-char work."""
    terms = f"element_at({token_hashes_col}, i)"
    for j in range(1, n):
        terms = f"({terms} * {POLY_BASE} + element_at({token_hashes_col}, i + {j})) % {mod}"
    return (
        f"CASE WHEN size({token_hashes_col}) >= {n} THEN "
        f"transform(sequence(1, size({token_hashes_col}) - {n - 1}), i -> {terms}) "
        f"ELSE array() END"
    )


def shingle_hashes_duckdb(token_hashes_col: str, n: int = 3, mod: int = POLY_MOD) -> str:
    terms = f"{token_hashes_col}[i]"
    for j in range(1, n):
        terms = f"({terms} * {POLY_BASE} + {token_hashes_col}[i + {j}]) % {mod}"
    return (
        f"list_transform(range(1, greatest(len({token_hashes_col}) - {n - 1}, 0) + 1), "
        f"i -> {terms})"
    )


def minhash_signature_spark_sql(hashes_col: str, k: int = 8) -> list[str]:
    """Spark SQL fragments: k MinHash values over an array<bigint> column."""
    return [
        f"array_min(transform({hashes_col}, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_PARAMS[:k]
    ]


def minhash_signature_duckdb(hashes_col: str, k: int = 8) -> list[str]:
    """DuckDB SQL fragments computing the identical MinHash values."""
    return [
        f"list_min(list_transform({hashes_col}, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_PARAMS[:k]
    ]
