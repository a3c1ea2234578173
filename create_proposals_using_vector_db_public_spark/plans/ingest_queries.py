"""Ingestion-pipeline declared queries, modeled on the driver's
``documents`` table standing in for the reference's scanned folder.

Reference parity: R1/R2 scans+filters, R5/R6 chunk split, R9 key dedup,
R10 content hash, R11 unchanged-file skip, R12 upsert, R13 delete-rebuild.
Synthetic "incremental batch" slices are derived deterministically from
doc_id so both engines see identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..operators import dedup as D
from ..operators import ingest as I
from ..sources import load_table
from .registry import query

# --- scans ------------------------------------------------------------------

_DOC_SCAN_ORACLE = """
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE source LIKE 'src1%'      -- extension-filter shape (R1)
  AND lang <> 'zh'             -- lock-file-skip shape (R2): prefix predicate
  AND n_chars > 100
"""


@query("q_doc_scan", oracle=_DOC_SCAN_ORACLE)
def q_doc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-scan semantics (R1+R2) over the documents table: suffix /
    prefix / size predicates, all pushed to the parquet scan."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.col("source").startswith("src1")
        & (F.col("lang") != "zh")
        & (F.col("n_chars") > 100)
    ).select("doc_id", "source", "lang", "n_chars")


_CHUNK_SPLIT_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         CAST(unnest(range(len(string_split(text, ' ')))) AS INTEGER)
           AS paragraph_idx
  FROM documents
  WHERE doc_id < 100
)
SELECT doc_id, paragraph_idx, trim(word, ' ') AS paragraph
FROM toks
WHERE length(trim(word, ' ')) > 0
"""


@query("q_chunk_split", oracle=_CHUNK_SPLIT_ORACLE)
def q_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5+R6: posexplode(split()) + trim + drop-empty with positional index —
    the reference's paragraph chunking (``app.py:24,33,97``), applied to the
    documents fixture (space-delimited)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    chunks = I.split_paragraphs(d.select("doc_id", "text"), delim=" ")
    return chunks.select("doc_id", "paragraph_idx", "paragraph")


# --- hashing / change detection ---------------------------------------------

_SHA256_ORACLE = """
SELECT doc_id, sha256(text) AS text_sha256
FROM documents WHERE doc_id < 200
"""


@query("q_sha256", oracle=_SHA256_ORACLE)
def q_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: the v2 change-detection hash (``app_callapi.py:117-120``) as a
    codegen'd column op."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select("doc_id", H.sha256_hex("text").alias("text_sha256"))


# file_state fixture: docs with doc_id % 3 == 0 are "registered"; of those,
# doc_id % 9 == 0 have since changed (their stored hash was computed over
# text || 'OLD'), so a rescan must re-ingest exactly the %9 rows.
_HASH_ANTIJOIN_ORACLE = """
WITH file_state AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0 THEN sha256(text || 'OLD')
              ELSE sha256(text) END AS text_sha256
  FROM documents WHERE doc_id % 3 = 0
), scanned AS (
  SELECT doc_id, sha256(text) AS text_sha256 FROM documents
)
SELECT s.doc_id, s.text_sha256
FROM scanned s
ANTI JOIN file_state f
  ON s.doc_id = f.doc_id AND s.text_sha256 = f.text_sha256
"""


@query("q_hash_antijoin", oracle=_HASH_ANTIJOIN_ORACLE)
def q_hash_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11: unchanged-file skip (``app_callapi.py:139``) — anti-join the
    rescan against the registered (id, hash) state; changed + new rows
    survive."""
    d = load_table(spark, sf_dir, "documents")
    file_state = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            H.sha256_hex(F.concat(F.col("text"), F.lit("OLD"))),
        )
        .otherwise(H.sha256_hex("text"))
        .alias("text_sha256"),
    )
    scanned = d.select("doc_id", H.sha256_hex("text").alias("text_sha256"))
    return I.skip_unchanged(scanned, file_state, key_cols=("doc_id", "text_sha256"))


# --- dedup ------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
SELECT DISTINCT lang, source FROM documents
"""


@query("q_dedup_exact", oracle=_DEDUP_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("lang", "source").dropDuplicates()


_DEDUP_ANTI_ORACLE = """
WITH dup AS (
  SELECT doc_id, lang, n_chars,
         CAST(row_number() OVER (
           PARTITION BY lang, n_chars ORDER BY doc_id ASC
         ) AS INTEGER) AS rn
  FROM documents
)
SELECT doc_id, lang, n_chars FROM dup WHERE rn = 1
"""


@query("q_dedup_anti", oracle=_DEDUP_ANTI_ORACLE)
def q_dedup_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on a collision-prone key — R9's semantics made
    deterministic (dropDuplicates keeps an arbitrary row; a keyed window
    keeps the FIRST, which is what re-ingestion needs)."""
    d = load_table(spark, sf_dir, "documents")
    return D.keep_first(
        d.select("doc_id", "lang", "n_chars"), ["lang", "n_chars"], "doc_id"
    )


_DEDUP_CONTENT_ORACLE = """
SELECT substr(text, 1, 40) AS content_key,
       CAST(count(*) AS BIGINT) AS dup_cnt,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM documents
GROUP BY substr(text, 1, 40)
HAVING count(*) > 1
"""


@query("q_dedup_content", oracle=_DEDUP_CONTENT_ORACLE)
def q_dedup_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup (group duplicate content, keep min id) — exact
    near-dup detection on a normalized content key; the groupBy shuffles
    only the 40-char key + id, not full documents."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.substring("text", 1, 40).alias("content_key"))
        .agg(
            F.count("*").alias("dup_cnt"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("dup_cnt") > 1)
    )


# --- upsert / delete --------------------------------------------------------

_UPSERT_ORACLE = """
WITH existing AS (
  SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 400
), incoming AS (
  SELECT doc_id, source, n_chars + 7 AS n_chars
  FROM documents WHERE doc_id >= 300 AND doc_id < 450
)
SELECT e.doc_id, e.source, e.n_chars
FROM existing e ANTI JOIN incoming i ON e.doc_id = i.doc_id
UNION ALL
SELECT doc_id, source, n_chars FROM incoming
"""


@query("q_upsert", oracle=_UPSERT_ORACLE)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12: delete-then-insert upsert (``app_callapi.py:140-142``) — kept =
    existing anti-join incoming keys, result = kept ∪ incoming."""
    d = load_table(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") < 400).select("doc_id", "source", "n_chars")
    incoming = (
        d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 450))
        .select("doc_id", "source", (F.col("n_chars") + 7).alias("n_chars"))
    )
    return I.upsert_files(existing, incoming, file_col="doc_id")


_DELETE_ORACLE = """
SELECT doc_id, source, lang
FROM documents
WHERE source NOT IN ('src3', 'src7')
"""


@query("q_delete_rebuild", oracle=_DELETE_ORACLE)
def q_delete_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13: delete = keep-filter rewrite (``app_callapi.py:122-130``)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return I.delete_files(d, ["src3", "src7"], file_col="source")
