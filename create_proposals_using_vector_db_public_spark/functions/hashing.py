"""Portable hashing primitives shared by the engine and the DuckDB oracle.

Spark's ``hash()``/``xxhash64()`` are engine-specific, so every hash the
oracle must reproduce is derived from **md5 hex** — identical bytes-in,
identical lowercase hex out in both engines. An integer hash is the first
``nchars`` hex chars parsed base-16 (Spark ``conv``, DuckDB
``CAST('0x…' AS BIGINT)``); seeding = prefixing the input with a seed tag.

These back MinHash/SimHash/LSH/stub-embedding. md5 here is a *uniform
fingerprint*, not a security boundary (same role as the reference's SHA-256
change detection, ``app_callapi.py:117-120``). All expressions are built-in
Column ops — JVM-side, codegen'd, no Python workers, so at 100 TB a
signature pass is a single narrow scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 15 hex chars = 60 bits — fits signed int64 with headroom on both engines.
HASH_HEX_CHARS = 15


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def seeded(col: Column | str, seed: int | str | None) -> Column:
    col = _c(col)
    return col if seed is None else F.concat(F.lit(f"s{seed}:"), col)


def md5_hex(col: Column | str, seed: int | str | None = None) -> Column:
    return F.md5(seeded(col, seed))


def sha256_hex(col: Column | str) -> Column:
    """R10 file-content hash (``app_callapi.py:117-120``) as a column op."""
    return F.sha2(_c(col), 256)


def h64(col: Column | str, seed: int | str | None = None,
        nchars: int = HASH_HEX_CHARS) -> Column:
    """Uniform non-negative int64 from md5 prefix."""
    return F.conv(F.substring(md5_hex(col, seed), 1, nchars), 16, 10).cast("bigint")


# ---- DuckDB SQL mirrors (text generators for plans/*.py oracles) ----

def d_seeded(col: str, seed: int | str | None) -> str:
    return col if seed is None else f"concat('s{seed}:', {col})"


def d_md5(col: str, seed: int | str | None = None) -> str:
    return f"md5({d_seeded(col, seed)})"


def d_h64(col: str, seed: int | str | None = None,
          nchars: int = HASH_HEX_CHARS) -> str:
    return f"CAST(concat('0x', substr({d_md5(col, seed)}, 1, {nchars})) AS BIGINT)"

