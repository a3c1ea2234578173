"""Money sums: exact, independent of summation order, in BIGINT units.

A money value ``x`` (a DOUBLE) is summed as if it were
``CAST(x AS DECIMAL(p,s))``, the form every oracle spells out, and the
sum is reported through :func:`money_double`'s floor-plus-fraction
conversion. The decimal is never built on the hot path. Spark casts a
double to a decimal through ``Double.toString`` and, once a sum buffer
needs more than 18 digits (a DECIMAL(14,2) sum is DECIMAL(24,2)), adds
in ``BigDecimal``; both cost more than the rest of a wide aggregate.

**Units.** The unit value of ``x`` at ``(p, s)`` is the unscaled value
of ``CAST(x AS DECIMAL(p,s))``: ``x·10^s`` rounded HALF_UP, as a BIGINT.
:func:`s_units` returns it as one SQL fragment that holds for every
double; the values outside its fast path take the cast itself.

**The fast path and its bound.** Let ``m = x·10^s`` (one IEEE multiply)
and ``d`` the decimal value of ``Double.toString(x)``, which Spark's cast
rounds to ``s`` places. ``d`` rounds to ``x``, so
``|x - d| <= ulp(x)/2`` and ``10^s·|x - d| < ulp(x·10^s) <= ulp(m)``;
the multiply adds at most ``ulp(m)/2``. So ``|m - 10^s·d| < 1.5·ulp(m)``,
which for ``|m| < 2^45`` (``ulp(m) <= 2^-8``) is below 0.006. When the
fraction of ``m`` is also at least ``TIE_MARGIN`` = 0.05 away from ½,
``m`` and ``10^s·d`` have the same nearest integer and neither is near a
tie, so ``floor(m + 0.5)`` (exact to within ``ulp(m)``) is the cast's
HALF_UP result. Every other value (a near-tie, ``|m| >= 2^45`` or past
the type's ``10^p``, NaN, ±inf, NULL) takes the cast, so its value, its
NULL and its error under ``spark.sql.ansi.enabled`` are the cast's.

**The sum.** Each unit value ``u`` splits into ``lo = pmod(u, 10^s)``
(in ``[0, 10^s)``) and ``hi = (u - lo) div 10^s`` (a floor division:
``div`` truncates, but ``u - lo`` is a multiple of ``10^s``). ``Σhi``
and ``Σlo`` accumulate as BIGINTs, so ``Σu = Σhi·10^s + Σlo`` exactly,
and :func:`money_sum` returns
``double(Σhi + Σlo div 10^s) + double(pmod(Σlo, 10^s)) / 10^s``: the
floor and the fraction of the exact decimal sum, each correctly rounded,
then one IEEE add — :func:`money_double` of ``F.sum`` over the decimal
cast, bit for bit. An empty or all-NULL group sums to NULL.

**Overflow fails the query.** ``Σhi`` and ``Σlo`` are ``try_sum``
accumulators; when either, or the floor's final add, leaves BIGINT range,
the group raises ``money sum overflows BIGINT`` under any
``spark.sql.ansi.enabled`` (a DECIMAL sum with ANSI off returned NULL).
``Σhi`` holds ``10^-s`` of the total, so a total fails past about
``9.2·10^18`` currency units; ``Σlo`` grows by less than ``10^s`` a row,
so it cannot overflow below ``9.2·10^18 / 10^s`` rows in one group. A
partial sum that overflows fails the group even when the total would fit,
so near that range an order may fail where another succeeds; no order
gives a wrong sum.

Decimal sums whose decimal value is used as such (ranked, compared with
a threshold, re-aggregated as partial state or summed in a window) keep
:func:`revenue_decimal` and ``F.sum``; :func:`money_double` stays for
those per-value conversions. The oracles keep the DECIMAL casts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FAST_UNITS_LIMIT = 2**45  # |m| below it has ulp(m) <= 2^-8
TIE_MARGIN = 0.05  # least distance of frac(m) from 1/2 on the fast path
REVENUE = "l_extendedprice * (1 - l_discount)"


def s_units(x: str, precision: int, scale: int) -> str:
    """The unscaled value of ``CAST(x AS DECIMAL(precision, scale))`` as
    a BIGINT; ``x`` is a DOUBLE column name or fragment."""
    m = f"(({x}) * {10**scale}D)"
    limit = min(FAST_UNITS_LIMIT, 10**precision - 1)
    return (
        f"CASE WHEN abs({m}) < {limit}D"
        f" AND abs({m} - floor({m}) - 0.5D) >= {TIE_MARGIN}D"
        f" THEN floor({m} + 0.5D)"
        f" ELSE CAST(CAST(({x}) AS DECIMAL({precision},{scale}))"
        f" * {10**scale} AS BIGINT) END"
    )


REVENUE_UNITS = s_units(REVENUE, 18, 6)


def money_sum(u: str, scale: int) -> Column:
    """The exact sum of the BIGINT units ``u`` (a column name or fragment)
    at ``scale``, as ``money_double(F.sum(decimal))`` reports it: see the
    module docstring."""
    t = 10**scale
    lo = f"pmod({u}, {t}L)"
    s_hi = f"try_sum((({u}) - {lo}) div {t}L)"
    s_lo = f"try_sum({lo})"
    floor = (
        f"coalesce(try_add({s_hi}, {s_lo} div {t}L),"
        f" raise_error('money sum overflows BIGINT'))"
    )
    return F.expr(
        f"CASE WHEN {s_hi} IS NOT NULL OR {s_lo} IS NOT NULL"
        f" THEN CAST({floor} AS DOUBLE)"
        f" + CAST(pmod({s_lo}, {t}L) AS DOUBLE) / {t}D END"
    )


def revenue_decimal() -> Column:
    """``l_extendedprice * (1 - l_discount)`` as DECIMAL(18,6), for the
    sums whose decimal value is ranked or compared."""
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
