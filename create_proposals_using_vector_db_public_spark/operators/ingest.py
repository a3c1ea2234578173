"""The reference's ingestion pipeline, Spark-first.

Reference flow (``app.py:95-115``, ``app_callapi.py:135-154``): scan a
folder → skip lock files → extract paragraphs → skip unchanged files (by
SHA-256) → skip already-indexed (file, paragraph_idx) keys → embed →
keyword-extract → append. Row-at-a-time and eager there; here each step is
a DataFrame transform and the whole pipeline is one lazy plan:

    binaryFile scan → filters → extract UDF → posexplode → anti-join(file_state)
    → anti-join(chunk keys) → pandas_udf embed → append write

Ordering discipline (SURVEY §4): both anti-joins run BEFORE the expensive
nondeterministic UDFs so Catalyst never re-executes an embedder on rows that
were going to be dropped — the distributed analogue of the reference's
dup-check-before-embed (``app.py:98-99``).

Scale: the anti-joins broadcast (file_state is one row per *file* — tiny
relative to chunks); the chunk-key anti-join at 100 TB shuffles on
(file_name) unless the chunks table is bucketed by file_name, which is the
recommended layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHUNK_KEY = ("file_name", "paragraph_idx")


def filter_ingestible(
    df: DataFrame,
    extensions: tuple[str, ...] = (".pdf", ".docx"),
) -> DataFrame:
    """R1+R2: keep ``file_name``s with an allowed extension (reference:
    .pdf/.docx), drop Office ``~$`` lock files (``app.py:121``,
    ``app.py:35-36``)."""
    name = F.col("file_name")
    ext_ok = None
    for ext in extensions:
        cond = name.endswith(ext)
        ext_ok = cond if ext_ok is None else (ext_ok | cond)
    return df.filter(ext_ok & ~name.startswith("~$"))


def split_paragraphs(df: DataFrame, delim: str = "\n") -> DataFrame:
    """R5+R6: split ``text`` into trimmed, non-empty paragraphs with
    positional index (``app.py:24,33`` + enumeration ``app.py:97``); the
    other columns are kept. posexplode keeps the within-file position —
    the reference's paragraph_idx — without a window.
    ``delim`` is a LITERAL separator (regex-escaped before the split —
    ``delim='.'`` splits on dots, not on every character)."""
    import re

    exploded = df.select(
        *[c for c in df.columns if c != "text"],
        F.posexplode(F.split(F.col("text"), re.escape(delim))).alias(
            "paragraph_idx", "paragraph"
        ),
    )
    return exploded.withColumn("paragraph", F.trim("paragraph")).filter(
        F.length("paragraph") > 0
    )


def skip_unchanged(
    scanned: DataFrame,
    file_state: DataFrame,
    key_cols: tuple[str, str] = ("file_name", "file_sha256"),
) -> DataFrame:
    """R11: drop files whose (name, hash) is already registered
    (``app_callapi.py:139``). Broadcast anti-join — file_state has one row
    per file, always the small side."""
    return scanned.join(F.broadcast(file_state), on=list(key_cols), how="left_anti")


def skip_existing_chunks(new_chunks: DataFrame, existing: DataFrame) -> DataFrame:
    """R9: drop paragraphs whose ``CHUNK_KEY`` (file, idx) is already
    indexed — the reference's O(N²) list scan (``app.py:98-99``) as a hash
    anti-join."""
    keys = existing.select(*CHUNK_KEY).dropDuplicates(list(CHUNK_KEY))
    return new_chunks.join(keys, on=list(CHUNK_KEY), how="left_anti")


def upsert_files(
    existing: DataFrame,
    new_rows: DataFrame,
    file_col: str = "file_name",
) -> DataFrame:
    """R12: delete-then-insert per changed file (``app_callapi.py:140-142``)
    — anti-join existing on the incoming file names ∪ new rows. With Delta
    this is MERGE; on plain parquet it's a partition overwrite of the
    affected file_name partitions."""
    changed = new_rows.select(file_col).dropDuplicates([file_col])
    kept = existing.join(F.broadcast(changed), on=file_col, how="left_anti")
    return kept.unionByName(new_rows)


def delete_files(
    existing: DataFrame,
    file_names: DataFrame | list[str],
    file_col: str = "file_name",
) -> DataFrame:
    """R13: delete = keep-filter + rewrite (``app_callapi.py:122-130``
    rebuilds the whole index; Spark's immutable rewrite is the same shape,
    but partition-pruned to the affected files when partitioned/bucketed by
    file)."""
    if isinstance(file_names, list):
        return existing.filter(~F.col(file_col).isin(file_names))
    return existing.join(F.broadcast(file_names), on=file_col, how="left_anti")


def zero_vector_for_empty(df: DataFrame, dim: int = 64) -> DataFrame:
    """R8: an empty ``paragraph`` gets a zero ``embedding`` instead of a
    model call (``app_callapi.py:112``)."""
    return df.withColumn(
        "embedding",
        F.when(
            F.length(F.coalesce(F.col("paragraph"), F.lit(""))) == 0,
            F.array_repeat(F.lit(0.0).cast("float"), dim),
        ).otherwise(F.col("embedding")),
    )
