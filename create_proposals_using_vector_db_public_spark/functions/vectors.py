"""Vector math as pure Column expressions (no UDFs — everything runs on
the JVM, with no Python worker).

The reference computes L2 distance inside FAISS ``IndexFlatL2`` (exact brute
force, reference ``app.py:90,180``) and a display-only cosine via sklearn
(``app.py:184``). Here both are ``zip_with``/``aggregate`` expressions, so a
kNN scan is one stage — at 100 TB a narrow map over the vectors table with a
per-partition top-k reduce, no Python worker and no shuffle of the raw
vectors. It is not compiled code end to end: ``ZipWith``, ``ArrayAggregate``
and ``ArrayTransform`` are ``CodegenFallback`` expressions on Spark 4.1, so
whole-stage codegen compiles the stage around them and each distance is
evaluated interpreted, element by element.

All helpers cast elements to double first: the source columns are
``array<float>`` and float-typed lambda arithmetic would accumulate float32
rounding that diverges from any double-based oracle.

Each expression is built one way: an ``s_*`` function returns its SQL
fragment text, and a Column helper of the same name is
``F.expr(s_*(...))`` — one parse instead of a py4j round-trip per lambda
node. Inputs are ``str``: a column name or another fragment, so fragments
compose (``l2_dist(s_as_double_array("embedding"), "__q")``). A reported
score is :func:`s_score` of a distance fragment, built by the scoring
operators (``operators.knn.score_side``, ``operators.dedup``'s pairs).
The DuckDB oracles in ``plans.duck`` mirror these fragments operation
for operation (same order, sequential reduction), so float results
match.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def s_as_double_array(a: str) -> str:
    """``a`` as array<double>: one compiled element cast, and no work at
    all on an array that already holds doubles."""
    return f"CAST({a} AS ARRAY<DOUBLE>)"


def s_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"0D, (acc, v) -> acc + v)"
    )


def s_l2_norm(a: str) -> str:
    return f"sqrt({s_dot(a, a)})"


def s_l2_dist_sq(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0D, (acc, v) -> acc + v)"
    )


def s_l2_dist(a: str, b: str) -> str:
    return f"sqrt({s_l2_dist_sq(a, b)})"


def s_cosine_sim(a: str, b: str) -> str:
    """Cosine similarity; NULL when either norm is zero (the reference's
    zero-vector rows for empty text, ``app_callapi.py:112``, would otherwise
    divide by zero)."""
    denom = f"({s_l2_norm(a)} * {s_l2_norm(b)})"
    return f"CASE WHEN {denom} != 0D THEN ({s_dot(a, b)} / {denom}) END"


def s_normalize(a: str) -> str:
    n = s_l2_norm(a)
    return f"CASE WHEN {n} != 0D THEN transform({a}, x -> x / {n}) ELSE {a} END"


def s_score(dist: Callable[[str, str], str], a: str, b: str) -> str:
    """``dist(a, b)`` as a score: rounded to 6 decimals (both engines
    round the decimal value HALF_UP), with IEEE ``-0.0`` folded into
    ``+0.0`` by ``+ 0D`` (the engines disagree on which zero ``round``
    emits, and an exact value hash tells them apart). Vectors of
    different lengths fail the query: ``zip_with`` would pad the shorter
    one with NULL, and every score would silently be NULL. A NULL vector
    still scores NULL."""
    return (
        f"CASE WHEN array_size({a}) != array_size({b}) "
        f"THEN raise_error('vector dimensions differ') "
        f"ELSE round({dist(a, b)}, 6) + 0D END"
    )


def as_double_array(a: str) -> Column:
    return F.expr(s_as_double_array(a))


def l2_norm(a: str) -> Column:
    return F.expr(s_l2_norm(a))


def l2_dist(a: str, b: str) -> Column:
    return F.expr(s_l2_dist(a, b))


def normalize(a: str) -> Column:
    """L2-normalize; zero vectors pass through unchanged."""
    return F.expr(s_normalize(a))
