"""Tiny helpers for composing DuckDB oracle SQL.

These generate SQL *text* mirroring the engine's Column expressions in
``functions.vectors`` / ``functions.hashing``. Both sides cast float32
vector elements to double first and reduce sequentially (Spark
``aggregate`` == DuckDB ``list_reduce``), so results are bit-identical and
a fixed rounding makes the value-hash stable.
"""

from __future__ import annotations

from ..operators.dedup import EMBED_LSH_PLANES


def dd(col: str) -> str:
    """Cast a list<float> column to list<double>."""
    return f"list_transform({col}, x -> CAST(x AS DOUBLE))"


def d_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(list_zip({a}, {b}), p -> p[1]*p[2])), "
        f"(acc, v) -> acc + v)"
    )


def d_l2sq(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(list_zip({a}, {b}), p -> (p[1]-p[2])*(p[1]-p[2]))), "
        f"(acc, v) -> acc + v)"
    )


def d_l2(a: str, b: str) -> str:
    return f"sqrt({d_l2sq(a, b)})"


def d_norm(a: str) -> str:
    return f"sqrt({d_dot(a, a)})"


def d_cosine(a: str, b: str) -> str:
    return (
        f"CASE WHEN {d_norm(a)} * {d_norm(b)} <> 0.0 "
        f"THEN {d_dot(a, b)} / ({d_norm(a)} * {d_norm(b)}) END"
    )


def d_words(col: str = "text") -> str:
    """Whitespace tokens, trimmed, empties dropped — the DuckDB mirror of
    ``functions.text.tokens``. Every plan module's oracle must use THIS
    builder (not a local copy) so the tokenizer can never drift from the
    Spark side in one family but not another.

    Two divergences are pinned down explicitly (both verified live, both
    invisible on the fixture but real on arbitrary input):
    - separator class: Java regex ``\\s`` is [ \\t\\n\\x0B\\f\\r] while
      RE2's ``\\s`` omits vertical tab — the class is spelled out to
      Java's set;
    - trim set: DuckDB ``trim(w)`` strips unicode whitespace (NBSP →
      empty) while Spark ``trim`` strips only U+0020 — the trim charset
      is pinned to the single space character."""
    return (
        f"list_filter(list_transform("
        f"string_split_regex({col}, '[ \\t\\n\\x0B\\f\\r]+'), "
        "w -> trim(w, ' ')), w -> length(w) > 0)"
    )


def d_hashed_bucket(a: str, band: int) -> str:
    """Mirror of ``operators.dedup.hashed_hyperplane_bucket``: sign bits
    of ``EMBED_LSH_PLANES`` pseudo-random-hyperplane projections for LSH
    band ``band``. The ±1 pattern per (global plane p, element i) is the LCG
    bit ``(i*1103515245 + p*12345) // 65536 % 2`` — pure int64
    arithmetic, identical in both engines; the projection reduces
    sequentially so the float sign is bit-identical."""
    signs = []
    for j in range(EMBED_LSH_PLANES):
        p = band * EMBED_LSH_PLANES + j
        term = (
            f"list_reduce(list_prepend(0.0, "
            f"list_transform(list_zip({a}, range(0, len({a}))), "
            f"z -> CASE WHEN (z[2] * 1103515245 + {p} * 12345) "
            f"// 65536 % 2 = 0 THEN z[1] ELSE -z[1] END)), "
            f"(acc, x) -> acc + x)"
        )
        signs.append(f"CASE WHEN {term} >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(signs) + ")"


def d_normalize(a: str) -> str:
    """Mirror of ``functions.vectors.normalize``: x / sqrt(sequential
    dot), zero vectors pass through unchanged."""
    return (
        f"CASE WHEN {d_norm(a)} <> 0.0 "
        f"THEN list_transform({a}, x -> x / {d_norm(a)}) ELSE {a} END"
    )
