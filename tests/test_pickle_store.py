"""Unit tests for sources/pickle_store.py — interop with the reference's
doc_data.pkl layout (app.py:161-168): the written store must load as the
exact dict of four row-aligned parallel lists the reference pickles, and
a hand-written reference-style store must read back as a DataFrame with
positional row ids materialized."""

import os
import pickle
import tempfile

from create_proposals_using_vector_db_public_spark.sources import pickle_store


def _tmp(name):
    return os.path.join(tempfile.mkdtemp(prefix="pickle_store_test_"), name)


def test_write_produces_reference_dict_layout(spark):
    rows = [
        ("b.docx", 0, [1.0, 2.0], ["kw1"]),
        ("a.docx", 1, [3.0, 4.0], ["kw2", "kw3"]),
        ("a.docx", 0, [5.0, 6.0], []),
    ]
    df = spark.createDataFrame(
        rows,
        "file_name string, paragraph_idx int, "
        "embedding array<float>, keywords array<string>",
    ).repartition(3)  # order must not depend on partitioning
    path = _tmp("doc_data.pkl")
    n = pickle_store.write_doc_data(df, path)
    assert n == 3
    with open(path, "rb") as f:
        store = pickle.load(f)
    # the reference's exact keys (app.py:163-168)
    assert set(store) == {"names", "paragraphs", "embeddings", "keywords"}
    # canonical (file_name, paragraph_idx) order -> deterministic row ids
    assert store["paragraphs"] == [
        ("a.docx", 0), ("a.docx", 1), ("b.docx", 0)
    ]
    assert store["names"] == ["a.docx", "a.docx", "b.docx"]
    assert store["embeddings"][0] == [5.0, 6.0]
    assert store["keywords"] == [[], ["kw2", "kw3"], ["kw1"]]


def test_read_reference_style_store(spark):
    # a store pickled the way the reference itself would
    store = {
        "names": ["r1.docx", "r1.docx"],
        "paragraphs": [("r1.docx", 0), ("r1.docx", 1)],
        "embeddings": [[0.5, 1.5], [2.5, 3.5]],
        "keywords": [["alpha"], ["beta", "gamma"]],
    }
    path = _tmp("doc_data.pkl")
    with open(path, "wb") as f:
        pickle.dump(store, f)
    df = pickle_store.read_doc_data(spark, path)
    got = sorted(df.collect(), key=lambda r: r.row_id)
    assert [r.row_id for r in got] == [0, 1]  # FAISS positional identity
    assert got[1].paragraph_idx == 1
    assert got[1].embedding == [2.5, 3.5]
    assert got[1].keywords == ["beta", "gamma"]


def test_register_once_per_session(spark, monkeypatch):
    """Reads register the refpickle source once per session: a second read
    in the same session does not register it again (Spark would log that
    it replaced the source), and a new session, which starts without the
    registration, still reads the store."""
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    real = DataSourceRegistration.register

    def spy(self, source):
        calls.append(source)
        return real(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", spy)
    store = {
        "names": ["r.docx"],
        "paragraphs": [("r.docx", 0)],
        "embeddings": [[1.0]],
        "keywords": [["k"]],
    }
    path = _tmp("doc_data.pkl")
    with open(path, "wb") as f:
        pickle.dump(store, f)
    session = spark.newSession()
    for _ in range(2):
        assert pickle_store.read_doc_data(session, path).count() == 1
    assert len(calls) == 1
    assert pickle_store.read_doc_data(session.newSession(), path).count() == 1
    assert len(calls) == 2


def test_roundtrip_identity(spark):
    rows = [(f"f{i % 3}.docx", i // 3, [float(i)], [f"k{i}"]) for i in range(9)]
    df = spark.createDataFrame(
        rows,
        "file_name string, paragraph_idx int, "
        "embedding array<float>, keywords array<string>",
    )
    path = _tmp("doc_data.pkl")
    pickle_store.write_doc_data(df, path)
    back = pickle_store.read_doc_data(spark, path)
    assert back.count() == 9
    orig = {(r[0], r[1], tuple(r[2]), tuple(r[3])) for r in rows}
    got = {
        (r.file_name, r.paragraph_idx, tuple(r.embedding), tuple(r.keywords))
        for r in back.collect()
    }
    assert got == orig


def test_read_multi_store_load(spark):
    """load([p1, p2]) arrives at the DSv2 reader as a JSON array under the
    'paths' option — the multi-shard import path must map one store per
    partition."""
    stores = []
    for i in range(2):
        store = {
            "names": [f"s{i}.docx"],
            "paragraphs": [(f"s{i}.docx", 0)],
            "embeddings": [[float(i), 1.0]],
            "keywords": [[f"k{i}"]],
        }
        path = _tmp(f"doc_data_{i}.pkl")
        with open(path, "wb") as f:
            pickle.dump(store, f)
        stores.append(path)
    spark.dataSource.register(pickle_store.RefPickleDataSource)
    df = spark.read.format("refpickle").load(stores)
    names = sorted(r.file_name for r in df.collect())
    assert names == ["s0.docx", "s1.docx"]


# --- streaming reader --------------------------------------------------------

def _store(path, names_rows):
    store = {
        "names": [r[0] for r in names_rows],
        "paragraphs": [(r[0], r[1]) for r in names_rows],
        "embeddings": [[float(r[1])] for r in names_rows],
        "keywords": [[f"k{r[1]}"] for r in names_rows],
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        pickle.dump(store, f)


def test_stream_reader_offsets_and_replay(tmp_path):
    """Driver-side offset protocol: read() consumes all new shards and
    advances; a no-change read keeps the offset; readBetweenOffsets
    replays a committed range identically (shards are immutable)."""
    d = str(tmp_path / "stores")
    _store(os.path.join(d, "shard_000.pkl"), [("a.docx", 0), ("a.docx", 1)])
    r = pickle_store.RefPickleStreamReader({"path": d})
    off0 = r.initialOffset()
    rows1, off1 = r.read(off0)
    assert [x[2] for x in rows1] == [0, 1] and off1 == {"upto": "shard_000.pkl"}
    # nothing new: offset unchanged, no rows
    rows_none, off_same = r.read(off1)
    assert list(rows_none) == [] and off_same == off1
    # a new shard arrives (+ an Office lock file that must be skipped, R2)
    _store(os.path.join(d, "shard_001.pkl"), [("b.docx", 7)])
    _store(os.path.join(d, "~$shard_999.pkl"), [("junk.docx", 99)])
    rows2, off2 = r.read(off1)
    assert [x[2] for x in rows2] == [7] and off2 == {"upto": "shard_001.pkl"}
    # deterministic replay of the first range
    replay = list(r.readBetweenOffsets(off0, off1))
    assert [x[2] for x in replay] == [0, 1]


def test_stream_incremental_pickup_two_batches(spark, tmp_path):
    """End-to-end through readStream: batch 1 sees shard_000 only; after
    shard_001 arrives the SAME query picks up only the new rows."""
    d = str(tmp_path / "stores")
    _store(os.path.join(d, "shard_000.pkl"), [("a.docx", 0), ("a.docx", 1)])
    df = pickle_store.read_doc_data_stream(spark, d)
    import uuid

    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 2
        _store(os.path.join(d, "shard_001.pkl"), [("b.docx", 7)])
        q.processAllAvailable()
        got = sorted(
            (r.file_name, r.paragraph_idx)
            for r in spark.table(name).collect()
        )
        assert got == [("a.docx", 0), ("a.docx", 1), ("b.docx", 7)]
    finally:
        q.stop()
