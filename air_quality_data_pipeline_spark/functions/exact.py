"""Reproducible (order-independent) money sums, bit-identical to DuckDB.

Floating-point SUM is not associative, so a parallel engine's result depends
on partitioning — unacceptable both for cross-engine verification and for
run-to-run reproducibility of a 1000-executor job. ``exact_sum`` therefore
sums integers and touches floating point only per row and once per group:

- **Per row**, the double is quantized to 6 decimal places,
  ``u = FLOOR(x * 1e6 + 0.5)`` as BIGINT: one IEEE multiply, one add and a
  floor, identical in Spark and DuckDB. A row whose ``|x * 1e6 + 0.5|``
  reaches 2^63, or that is NaN or ±Inf, raises in both engines (Spark's
  ``floor(double)`` would saturate silently, so the Spark side guards it;
  DuckDB's BIGINT cast raises on its own).
- **Two limbs**, ``hi = u >> 20`` and ``lo = u & (2^20 - 1)``, are each
  summed as BIGINT. Integer sums do not depend on order, and a BIGINT
  overflow raises under ANSI (DuckDB's HUGEINT sum is cast back to BIGINT,
  which raises at the same bound).
- **Per group, once**, ``(DOUBLE(Σhi) * 2^20 + DOUBLE(Σlo)) / 1e6``. The
  multiply by 2^20 is exact and the add and the divide are single IEEE-754
  operations, so both engines agree bit for bit at any scale; there is no
  int128/BigDecimal -> double conversion, whose last ulp differs between
  the engines past 2^53.

Bounds: ``Σlo`` is exact in a double below 2^53, i.e. up to 2^33 (8.6e9)
rows per group; ``Σhi`` converts exactly while ``|Σu|`` stays below 2^73.
While ``|Σu| < 2^53`` (totals under about 9e9) the combine is exact and the
result is the correctly rounded decimal total.

Why not DECIMAL: the previous kernel summed each row cast to a DECIMAL of
precision 38 and scale 6. Precision 38 is above the 18 digits a long holds,
so Spark keeps that aggregation buffer as bytes and allocates a BigDecimal
per input row; the limb sums stay in primitive longs and run at the speed
of a plain double SUM.

``exact_round`` applies the same per-row quantization at ``n`` places,
``FLOOR(x * 10^n + 0.5) / 10^n``, and returns a double. ``ROUND(double, n)``
is not portable: Spark rounds the double's shortest decimal string half
up, DuckDB rounds the double product ``x * 10^n`` half away from zero, so
near a decimal tie the two engines can differ in the last place. The floor form is one multiply, one
add, a floor and one divide in both, so they agree bit for bit. NULL passes
through; NaN, ±Inf and ``|x * 10^n + 0.5| >= 2^63`` raise, as above. Ties
go towards +inf, so ``-2.5`` rounds to ``-2.0`` at ``n = 0``.

Columns known to hold integral values (e.g. ``l_quantity``) sum exactly in
double arithmetic already (integers < 2^53), so they need no quantization.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

_DIGITS = 6  # money sums keep 6 decimal places
_SCALE = 10.0**_DIGITS
_LIMB_BITS = 20
_LIMB = float(1 << _LIMB_BITS)
_LO_MASK = (1 << _LIMB_BITS) - 1


def _units(col: Column, digits: int, fn: str) -> Column:
    """Per-row BIGINT ``FLOOR(x * 10^digits + 0.5)``; raises where DuckDB's
    BIGINT cast does."""
    v = col * F.lit(10.0**digits) + F.lit(0.5)
    return (
        F.when(F.abs(v) < F.lit(2.0**63), F.floor(v))
        .when(
            v.isNotNull(),
            F.raise_error(
                F.lit(f"{fn}: value is NaN, Inf or |x * 1e{digits} + 0.5| >= 2^63")
            ),
        )
    )


def _units_sql(expr: str, digits: int) -> str:
    return f"CAST(floor(({expr}) * 1e{digits} + 5e-1) AS BIGINT)"


def exact_sum(col: Column) -> Column:
    """Order-independent SUM of a double column, returned as double."""
    u = _units(col, _DIGITS, "exact_sum")
    hi = F.sum(F.shiftright(u, _LIMB_BITS)).cast("double")
    lo = F.sum(u.bitwiseAND(F.lit(_LO_MASK))).cast("double")
    return (hi * F.lit(_LIMB) + lo) / F.lit(_SCALE)


def exact_sum_sql(col: str) -> str:
    """DuckDB SQL fragment for the identical order-independent SUM."""
    u = _units_sql(col, _DIGITS)
    hi = f"CAST(CAST(SUM({u} >> {_LIMB_BITS}) AS BIGINT) AS DOUBLE)"
    lo = f"CAST(CAST(SUM({u} & {_LO_MASK}) AS BIGINT) AS DOUBLE)"
    return f"(({hi} * {_LIMB!r} + {lo}) / 1e6)"


def exact_round(col: Column, n: int) -> Column:
    """``ROUND(x, n)`` of a double column as ``FLOOR(x * 10^n + 0.5) / 10^n``,
    returned as double: bit-identical to ``exact_round_sql`` in DuckDB."""
    return _units(col, n, "exact_round").cast("double") / F.lit(10.0**n)


def exact_round_sql(expr: str, n: int) -> str:
    """DuckDB SQL fragment for the identical rounding."""
    return f"(CAST({_units_sql(expr, n)} AS DOUBLE) / 1e{n})"
