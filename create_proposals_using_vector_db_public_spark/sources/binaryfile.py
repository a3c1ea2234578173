"""Binary-file folder source — the reference's actual input path.

Reference: ``os.listdir("./documents")`` + per-file PyMuPDF/python-docx
extraction (R1-R4, ``app.py:117-132``, ``app.py:17-39``). Spark-native
form: the ``binaryFile`` data source yields (path, modificationTime,
length, content) with pushdown-able pathGlobFilter; extraction is a
pandas UDF over the content bytes.

PyMuPDF/python-docx are not in this container, so extraction degrades
deterministically: bytes are decoded as UTF-8 text (the fixture path), and
the real parsers are used when importable — same try-import pattern as
operators/ml.py. The Spark-side plumbing (scan, filters, UDF signature,
paragraph explosion) is identical either way.
"""

from __future__ import annotations

import io

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..functions import hashing as H
from ..operators import ingest as I


INGEST_GLOB = "*.{pdf,docx,txt}"


def read_binary_folder(spark: SparkSession, path: str) -> DataFrame:
    """R1: folder scan with the ``INGEST_GLOB`` extension filter pushed
    into the file listing (pathGlobFilter prunes at the source, not
    post-scan)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", INGEST_GLOB)
        .load(path)
    )
    return df.withColumn(
        "file_name", F.element_at(F.split(F.col("path"), "/"), -1)
    )


def _extract_pdf(content: bytes) -> str:
    # catch Exception, not just ImportError: one corrupt file must degrade
    # to the UTF-8 fallback for THAT file (the reference's per-file
    # try/except, app.py:29-38), never fail the whole ingest job 4-retries
    # deep inside a task
    try:
        import fitz  # PyMuPDF

        doc = fitz.open(stream=content, filetype="pdf")
        return "\n".join(page.get_text("text") for page in doc)
    except Exception:
        # deterministic fallback: treat bytes as UTF-8 text
        return content.decode("utf-8", errors="replace")


def _extract_docx(content: bytes) -> str:
    try:
        from docx import Document

        doc = Document(io.BytesIO(content))
        return "\n".join(p.text for p in doc.paragraphs)
    except Exception:
        return content.decode("utf-8", errors="replace")


def extract_text_udf():
    """R3/R4: per-file text extraction as an Arrow-batched pandas UDF.
    Dispatches on extension like the reference (``app.py:29-38``); unknown
    extensions decode as UTF-8."""

    @pandas_udf(StringType())
    def extract(file_name: pd.Series, content: pd.Series) -> pd.Series:
        def one(name: str, data) -> str:
            data = bytes(data) if data is not None else b""
            lower = (name or "").lower()
            if lower.endswith(".pdf"):
                return _extract_pdf(data)
            if lower.endswith(".docx"):
                return _extract_docx(data)
            return data.decode("utf-8", errors="replace")

        return pd.Series([one(n, c) for n, c in zip(file_name, content)])

    return extract


def ingest_folder(spark: SparkSession, path: str) -> DataFrame:
    """The reference's full ingest front half, composed end-to-end:

    binaryFile scan (R1) → lock-file skip (R2) → extract (R3/R4) →
    sha256 (R10) → paragraph split + index (R5/R6).

    Returns the chunk table (file_name, file_sha256, paragraph_idx,
    paragraph). The embed/keyword UDFs (operators.ml) attach downstream —
    AFTER dedup/filtering, per the UDF placement discipline (SURVEY §4).
    """
    files = read_binary_folder(spark, path)
    files = I.filter_ingestible(files, extensions=(".pdf", ".docx", ".txt"))
    files = files.withColumn("file_sha256", H.sha256_hex("content"))
    texts = files.select(
        "file_name",
        "file_sha256",
        extract_text_udf()(F.col("file_name"), F.col("content")).alias("text"),
    )
    return I.split_paragraphs(texts)
