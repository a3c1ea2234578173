"""Shared money-column float discipline.

The revenue expression is load-bearing correctness, not convenience: one
IEEE double multiply per row, then EXACT decimal accumulation, so sums can
never flip on summation order (SURVEY §7 trap 5). Every plan module that
aggregates lineitem revenue must build the column here — a precision
change then happens in one place (plus the mirroring oracle SQL, which
states the same CAST textually).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def revenue_decimal() -> Column:
    """``l_extendedprice * (1 - l_discount)`` as DECIMAL(18,6)."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )


def money_double(s: Column) -> Column:
    """Exact decimal aggregate → double, deterministically identical
    across engines at ANY magnitude. A direct decimal→double cast
    diverges once the unscaled value exceeds 2^53: DuckDB computes
    double(unscaled)/10^scale (loses low bits in the numerator), Spark
    rounds the true value via BigDecimal — measured 4-microunit drift on
    TPC-H Q1 sum_charge (~2.8e10) at sf1. Casting floor and fraction
    SEPARATELY makes each conversion exact at its own scale (scale-0
    integer; sub-1 fraction), and the single IEEE add then yields the
    same bits on both engines. Below 2^53 the result equals the
    correctly-rounded direct cast, so small-SF values are unchanged.
    The oracles spell out the same floor-plus-fraction casts in their
    SQL."""
    f = F.floor(s)
    return f.cast("double") + (s - f).cast("double")
