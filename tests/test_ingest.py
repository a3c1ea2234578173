"""Ingestion operators vs the reference's observed behavior
(R1/R2/R5/R6/R8-R13)."""

from pyspark.sql import functions as F

from create_proposals_using_vector_db_public_spark.operators import ingest as I


def test_filter_ingestible_skips_locks_and_extensions(spark):
    df = spark.createDataFrame(
        [("a.pdf",), ("b.docx",), ("~$b.docx",), ("c.txt",), ("~$a.pdf",)],
        "file_name: string",
    )
    kept = [r["file_name"] for r in I.filter_ingestible(df).collect()]
    # app.py:121 extension filter + app.py:35-36 lock-file skip
    assert sorted(kept) == ["a.pdf", "b.docx"]


def test_split_paragraphs_trim_dropempty_index(spark):
    df = spark.createDataFrame(
        [("f1", "  hello \n\n world \n"), ("f2", "")],
        "file_name: string, text: string",
    )
    rows = I.split_paragraphs(df).collect()
    got = {(r["file_name"], r["paragraph_idx"]): r["paragraph"] for r in rows}
    # app.py:24,33: strip + drop empty; position BEFORE dropping (posexplode)
    assert got == {("f1", 0): "hello", ("f1", 2): "world"}


def test_skip_unchanged(spark):
    scanned = spark.createDataFrame(
        [("a", "h1"), ("b", "h2_new"), ("c", "h3")],
        "file_name: string, file_sha256: string",
    )
    state = spark.createDataFrame(
        [("a", "h1"), ("b", "h2_old")],
        "file_name: string, file_sha256: string",
    )
    kept = sorted(
        r["file_name"] for r in I.skip_unchanged(scanned, state).collect()
    )
    # unchanged 'a' skipped; changed 'b' and new 'c' survive (app_callapi:139)
    assert kept == ["b", "c"]


def test_skip_existing_chunks(spark):
    new = spark.createDataFrame(
        [("f", 0, "x"), ("f", 1, "y")],
        "file_name: string, paragraph_idx: int, text: string",
    )
    existing = spark.createDataFrame(
        [("f", 0, "x_old")],
        "file_name: string, paragraph_idx: int, text: string",
    )
    kept = I.skip_existing_chunks(new, existing).collect()
    assert len(kept) == 1 and kept[0]["paragraph_idx"] == 1  # app.py:98-99


def test_upsert_delete_then_insert(spark):
    existing = spark.createDataFrame(
        [("f1", 0, "old0"), ("f1", 1, "old1"), ("f2", 0, "keep")],
        "file_name: string, paragraph_idx: int, text: string",
    )
    incoming = spark.createDataFrame(
        [("f1", 0, "new0")],
        "file_name: string, paragraph_idx: int, text: string",
    )
    out = I.upsert_files(existing, incoming).collect()
    texts = sorted(r["text"] for r in out)
    # ALL old f1 rows dropped, replaced wholesale (app_callapi.py:140-142)
    assert texts == ["keep", "new0"]


def test_delete_files(spark):
    df = spark.createDataFrame(
        [("f1", 1), ("f2", 2), ("f3", 3)], "file_name: string, v: int"
    )
    kept = sorted(
        r["file_name"] for r in I.delete_files(df, ["f2"]).collect()
    )
    assert kept == ["f1", "f3"]


def test_zero_vector_for_empty_text(spark):
    df = spark.createDataFrame(
        [("", [9.0, 9.0]), ("hi", [1.0, 2.0]), (None, [5.0, 5.0])],
        "paragraph: string, embedding: array<float>",
    )
    rows = I.zero_vector_for_empty(df, dim=2).collect()
    by_text = {r["paragraph"]: r["embedding"] for r in rows}
    assert by_text[""] == [0.0, 0.0]        # app_callapi.py:112
    assert by_text[None] == [0.0, 0.0]
    assert by_text["hi"] == [1.0, 2.0]


# --- the reference's own fixture corpus (read-only) --------------------------

REF_DOCS = "/root/reference/documents"


def test_reference_corpus_scan_and_lockfile_skip(spark):
    """Drive the real binaryFile scan over the reference's fixture corpus
    (app.py:117-132): 11 files on disk, one of which is the Office lock
    file ~$eport9.docx that R2 (app.py:35-36) must drop."""
    import os

    from create_proposals_using_vector_db_public_spark.sources import binaryfile as B

    if not os.path.isdir(REF_DOCS):
        import pytest

        pytest.skip("reference fixture corpus not present")

    scanned = B.read_binary_folder(spark, REF_DOCS)
    names = sorted(r["file_name"] for r in scanned.select("file_name").collect())
    assert "~$eport9.docx" in names and len(names) == 11

    kept = B.ingest_folder(spark, REF_DOCS)
    files = {r["file_name"] for r in kept.select("file_name").distinct().collect()}
    assert "~$eport9.docx" not in files
    assert len(files) == 10  # AIReport.docx + report.docx + report2..9


def test_reference_corpus_hashes_and_paragraphs(spark):
    """Real-bytes plumbing: every fixture file gets a distinct sha256 (R10),
    and the extract→split path yields non-empty paragraph rows with
    contiguous-from-zero-free positional indexes (R5/R6) even on the
    fallback UTF-8 decode of real docx bytes."""
    import os

    from create_proposals_using_vector_db_public_spark.sources import binaryfile as B

    if not os.path.isdir(REF_DOCS):
        import pytest

        pytest.skip("reference fixture corpus not present")

    chunks = B.ingest_folder(spark, REF_DOCS)
    per_file = (
        chunks.groupBy("file_name")
        .agg(
            F.count("*").alias("n_paragraphs"),
            F.first("file_sha256").alias("sha"),
            F.min("paragraph_idx").alias("min_idx"),
        )
        .collect()
    )
    assert len(per_file) == 10
    assert all(r["n_paragraphs"] > 0 for r in per_file)
    assert len({r["sha"] for r in per_file}) == 10  # all distinct content
    assert all(r["min_idx"] >= 0 for r in per_file)


def test_binary_folder_ingest_on_a_built_folder(spark, tmp_path):
    """The folder source end to end on a folder the test writes: the
    INGEST_GLOB scan lists .txt/.docx and skips .md, the ingest drops the
    ``~$`` lock file, every kept file gets its own sha256, and the .docx
    (UTF-8 bytes, no Word structure) falls back to a UTF-8 decode."""
    import hashlib

    from create_proposals_using_vector_db_public_spark.sources import binaryfile as B

    files = {
        "a.txt": "first paragraph\n\n  second paragraph  \n",
        "b.txt": "one line only",
        "report.docx": "docx heading\nbody text 가나다",
        "~$lock.docx": "owner lock",
        "notes.md": "# not ingested",
    }
    for name, text in files.items():
        (tmp_path / name).write_bytes(text.encode("utf-8"))

    scanned = B.read_binary_folder(spark, str(tmp_path))
    assert sorted(r["file_name"] for r in scanned.collect()) == [
        "a.txt", "b.txt", "report.docx", "~$lock.docx",
    ]

    rows = B.ingest_folder(spark, str(tmp_path)).collect()
    got = {(r["file_name"], r["paragraph_idx"]): r["paragraph"] for r in rows}
    assert got == {
        ("a.txt", 0): "first paragraph",
        ("a.txt", 2): "second paragraph",
        ("b.txt", 0): "one line only",
        ("report.docx", 0): "docx heading",
        ("report.docx", 1): "body text 가나다",
    }
    sha = {r["file_name"]: r["file_sha256"] for r in rows}
    assert sha == {
        name: hashlib.sha256(files[name].encode("utf-8")).hexdigest()
        for name in ("a.txt", "b.txt", "report.docx")
    }
    assert len(set(sha.values())) == 3
