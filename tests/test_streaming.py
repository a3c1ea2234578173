"""Structured Streaming semantics: one-shot folder scan (AvailableNow),
watermark dedup, incremental file pickup across runs."""

import os
import shutil

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from create_proposals_using_vector_db_public_spark import streaming as S

SCHEMA = StructType(
    [
        StructField("file_name", StringType()),
        StructField("text", StringType()),
        StructField("ts", TimestampType()),
    ]
)
SF = "/root/testdata/sf0.001"


@pytest.fixture()
def watch_dir(spark, tmp_path):
    d = str(tmp_path / "watched")
    os.makedirs(d)
    return d


def _write_file(spark, d, name, rows):
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    df.write.mode("append").parquet(f"{d}/{name}")


def _keyed(stream):
    """``stream`` with its file name as the ``event_type`` key."""
    return stream.withColumn("event_type", F.col("file_name"))


def test_available_now_chunking_pipeline(spark, watch_dir):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    _write_file(
        spark,
        watch_dir,
        "batch1",
        [("f1.docx", "hello\n\nworld", t0), ("f2.docx", "solo", t0)],
    )
    stream = S.stream_parquet(spark, f"{watch_dir}/batch1", SCHEMA)
    chunks = S.stream_chunks(stream)
    out = S.available_now_to_memory(chunks, output_mode="append")
    rows = {(r["file_name"], r["paragraph_idx"]): r["paragraph"] for r in out.collect()}
    assert rows == {
        ("f1.docx", 0): "hello",
        ("f1.docx", 2): "world",
        ("f2.docx", 0): "solo",
    }


def test_watermark_dedup_drops_duplicate_keys(spark, watch_dir):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    _write_file(
        spark,
        watch_dir,
        "b",
        [
            ("f1", "a", t0),
            ("f1", "a", t0 + dt.timedelta(minutes=1)),  # dup key within watermark
            ("f2", "b", t0),
        ],
    )
    stream = S.stream_parquet(spark, f"{watch_dir}/b", SCHEMA)
    deduped = S.watermark_dedup(stream, ["file_name"], "ts", delay="1 hour")
    out = S.available_now_to_memory(deduped, output_mode="append")
    assert sorted(r["file_name"] for r in out.collect()) == ["f1", "f2"]


def test_incremental_pickup_across_runs(spark, watch_dir, tmp_path):
    """The reference's re-scan semantics (app_callapi.py:165-174): a second
    AvailableNow run from the SAME checkpoint processes only files that
    arrived after the first run — no reprocessing, no loss."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_file(spark, watch_dir, "a.parquet", [("f1.docx", "one", t0)])
    stream = S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA)
    S.available_now_to_parquet(stream, out, ckpt)
    batch1 = spark.read.parquet(out).collect()
    assert sorted(r["file_name"] for r in batch1) == ["f1.docx"]

    # a new file arrives between runs; f1 must NOT be reprocessed
    _write_file(
        spark,
        watch_dir,
        "b.parquet",
        [("f2.docx", "two", t0), ("f3.docx", "three", t0)],
    )
    stream2 = S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA)
    S.available_now_to_parquet(stream2, out, ckpt)
    batch2 = spark.read.parquet(out).collect()
    assert sorted(r["file_name"] for r in batch2) == [
        "f1.docx",
        "f2.docx",
        "f3.docx",
    ]  # exactly-once: one row per file across both runs


def test_windowed_event_counts(spark, watch_dir):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 30, 0)
    rows = [
        ("e", "x", t0),
        ("e", "x", t0 + dt.timedelta(minutes=10)),
        ("e", "x", t0 + dt.timedelta(hours=7)),
    ]
    df = spark.createDataFrame(rows, SCHEMA).withColumn("value", F.lit(1.0)).withColumn(
        "event_type", F.col("file_name")
    )
    d = f"{watch_dir}/events"
    df.coalesce(1).write.parquet(d)
    stream = (
        spark.readStream.format("parquet").schema(df.schema).load(d)
    )
    win = S.windowed_event_counts(stream, window="6 hours")
    out = S.available_now_to_memory(win, output_mode="complete")
    counts = sorted(r["cnt"] for r in out.collect())
    assert counts == [1, 2]  # two tumbling windows: 2 early + 1 late event


def test_stateful_counts_survive_across_runs(spark, watch_dir, tmp_path):
    """applyInPandasWithState: per-key totals live in the checkpointed
    state store, so a second AvailableNow run CONTINUES the counts instead
    of restarting them (the reference's dict-in-driver state, made durable)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_file(
        spark,
        watch_dir,
        "a.parquet",
        [("a", "x", t0), ("a", "y", t0), ("a", "z", t0), ("b", "w", t0)],
    )
    stream = S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA)
    counts = S.running_counts_stateful(_keyed(stream))
    S.run_update_to_parquet(counts, out, ckpt)
    r1 = {r["event_type"]: r["n_events"] for r in spark.read.parquet(out).collect()}
    assert r1 == {"a": 3, "b": 1}

    t1 = t0 + dt.timedelta(hours=1)
    _write_file(spark, watch_dir, "b.parquet", [("a", "q", t1), ("a", "r", t1)])
    stream2 = S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA)
    counts2 = S.running_counts_stateful(_keyed(stream2))
    S.run_update_to_parquet(counts2, out, ckpt)
    rows = spark.read.parquet(out).collect()
    # batch 2 emitted only key 'a', with the CUMULATIVE total 3+2=5
    assert max(r["n_events"] for r in rows if r["event_type"] == "a") == 5
    assert max(r["n_events"] for r in rows if r["event_type"] == "b") == 1


def test_watermark_drops_late_event_across_runs(spark, watch_dir, tmp_path):
    """Append-mode windowed agg with a 10-minute watermark, driven by two
    AvailableNow runs off one checkpoint: run 1 ingests on-time events and
    advances the watermark past the first window's end; run 2 ingests one
    LATE event inside that closed window plus one fresh event. The closed
    window must finalize WITHOUT the late row — bounded state + late-data
    drop, the semantics that let event-time aggs run forever at scale."""
    import datetime as dt

    d = f"{watch_dir}/events"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def run_once():
        stream = S.stream_parquet(
            spark, f"{d}/*.parquet", SCHEMA
        ).withColumn("value", F.lit(1.0)).withColumn(
            "event_type", F.lit("e")
        )
        win = S.windowed_event_counts(
            stream, window="30 minutes", watermark="10 minutes"
        )
        flat = win.select(
            F.col("win.start").alias("w_start"), "event_type", "cnt"
        )
        S.available_now_to_parquet(flat, out, ckpt)

    # run 1: two events in [12:00,12:30) + one at 13:00 (watermark -> 12:50)
    _write_file(spark, d, "a.parquet", [
        ("a", "x", t0),
        ("a", "x", t0 + dt.timedelta(minutes=5)),
        ("a", "x", t0 + dt.timedelta(hours=1)),
    ])
    run_once()
    # run 2: a LATE event at 12:10 (before the 12:50 watermark — must be
    # dropped) and a fresh on-time event at 13:05
    _write_file(spark, d, "b.parquet", [
        ("b", "late", t0 + dt.timedelta(minutes=10)),
        ("b", "x", t0 + dt.timedelta(hours=1, minutes=5)),
    ])
    run_once()

    got = {
        r.w_start: r.cnt for r in spark.read.parquet(out).collect()
    }
    # the [12:00,12:30) window finalized with ONLY the 2 on-time events;
    # the late 12:10 row did not resurrect or inflate it
    assert got.get(t0) == 2, got


def test_stream_upsert_versioned_across_runs(spark, watch_dir, tmp_path):
    """Streaming R12: two AvailableNow runs from one checkpoint against a
    versioned parquet store. Run 2 carries a CHANGED file — its old rows
    must be fully replaced (delete-then-insert, app_callapi.py:140-142)
    while untouched files survive, and every committed version stays a
    readable immutable snapshot."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_file(
        spark,
        watch_dir,
        "batch1.parquet",
        [("a.docx", "a v1 p0", t0), ("a.docx", "a v1 p1", t0),
         ("b.docx", "b v1 p0", t0)],
    )
    stream = S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA)
    S.stream_upsert_to_versioned(stream, table, ckpt)
    v0 = S.read_versioned(spark, table)
    assert v0.count() == 3

    # a.docx re-arrives changed (one paragraph now); b.docx untouched
    _write_file(
        spark, watch_dir, "batch2.parquet", [("a.docx", "a v2 p0", t0)]
    )
    stream2 = S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA)
    S.stream_upsert_to_versioned(stream2, table, ckpt)

    cur = S.read_versioned(spark, table)
    rows = sorted((r["file_name"], r["text"]) for r in cur.collect())
    assert rows == [
        ("a.docx", "a v2 p0"),  # old a-rows gone, replaced wholesale
        ("b.docx", "b v1 p0"),  # untouched file survives
    ]
    # both snapshots committed and independently readable (time travel)
    import os

    assert os.path.exists(f"{table}/v0") and os.path.exists(f"{table}/v1")
    assert spark.read.parquet(f"{table}/v0").count() == 3


def test_stream_upsert_retention_prunes_old_versions(spark, watch_dir, tmp_path):
    """keep_versions bounds the store: only the newest N snapshot dirs
    survive a commit."""
    import datetime as dt
    import os

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_file(spark, watch_dir, "b1.parquet", [("a.docx", "v1", t0)])
    stream = S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA)
    S.stream_upsert_to_versioned(stream, table, ckpt, keep_versions=1)
    _write_file(spark, watch_dir, "b2.parquet", [("a.docx", "v2", t0)])
    stream2 = S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA)
    S.stream_upsert_to_versioned(stream2, table, ckpt, keep_versions=1)

    assert not os.path.isdir(f"{table}/v0")  # pruned
    cur = S.read_versioned(spark, table)
    assert [r["text"] for r in cur.collect()] == ["v2"]


def test_commit_version_and_as_of_read(spark, tmp_path):
    """Batch commit path + time travel: commit_version returns 0,1,2;
    read_versioned_as_of(v) reproduces each committed snapshot exactly;
    a never-written version fails loudly."""
    import pytest

    table = str(tmp_path / "table")
    d1 = spark.createDataFrame(
        [("a.docx", "a v1"), ("b.docx", "b v1")], "file_name string, text string"
    )
    d2 = spark.createDataFrame([("a.docx", "a v2")], "file_name string, text string")
    assert S.commit_version(d1, table) == 0
    assert S.commit_version(d2, table) == 1

    v0 = sorted((r.file_name, r.text) for r in S.read_versioned_as_of(spark, table, 0).collect())
    v1 = sorted((r.file_name, r.text) for r in S.read_versioned_as_of(spark, table, 1).collect())
    assert v0 == [("a.docx", "a v1"), ("b.docx", "b v1")]
    assert v1 == [("a.docx", "a v2"), ("b.docx", "b v1")]
    with pytest.raises(ValueError, match="version 7 not available"):
        S.read_versioned_as_of(spark, table, 7)


def test_as_of_read_refuses_vacuumed_version(spark, tmp_path):
    """Retention + time travel: a version pruned by keep_versions must
    raise on as-of read (CURRENT fallback would be a correctness bug)."""
    import pytest

    table = str(tmp_path / "table")
    d1 = spark.createDataFrame([("a.docx", "v1")], "file_name string, text string")
    d2 = spark.createDataFrame([("a.docx", "v2")], "file_name string, text string")
    S.commit_version(d1, table, keep_versions=1)
    S.commit_version(d2, table, keep_versions=1)
    with pytest.raises(ValueError, match="version 0 not available"):
        S.read_versioned_as_of(spark, table, 0)
    assert [r.text for r in S.read_versioned_as_of(spark, table, 1).collect()] == ["v2"]


def test_commit_version_rejects_keep_versions_zero(spark, tmp_path):
    """keep_versions=0 on the shared commit path would delete the
    snapshot just committed — must be rejected at the public API, not
    only in the streaming wrapper."""
    import pytest

    d = spark.createDataFrame([("a.docx", "v1")], "file_name string, text string")
    with pytest.raises(ValueError, match="keep_versions must be >= 1"):
        S.commit_version(d, str(tmp_path / "t"), keep_versions=0)


def test_versioned_store_random_commit_sequences(spark, tmp_path):
    """Commit-protocol property: for a random sequence of upsert batches,
    every retained version read back AS OF equals a Python dict replay of
    delete-then-insert semantics (all rows of a re-arriving file replaced
    wholesale, untouched files preserved), and CURRENT always equals the
    last committed version. Deterministic seed — hypothesis would rebuild
    a SparkSession-heavy store per example; a seeded sweep of 3 sequences
    covers overlap/disjoint/repeat patterns at trivial cost."""
    import random

    rnd = random.Random(42)
    files = [f"f{i}.docx" for i in range(5)]
    for seq in range(3):
        table = str(tmp_path / f"store_{seq}")
        replay: dict[str, list[tuple[str, int]]] = {}
        snapshots = []
        for commit in range(4):
            chosen = rnd.sample(files, rnd.randint(1, 3))
            rows = [
                (f, rnd.randint(0, 9) + 10 * commit)
                for f in chosen
                for _ in range(rnd.randint(1, 2))
            ]
            batch = spark.createDataFrame(
                rows, "file_name string, paragraph_idx long"
            )
            v = S.commit_version(batch, table)
            assert v == commit
            # python replay: delete-then-insert per arriving file
            for f in chosen:
                replay[f] = []
            for f, p in rows:
                replay[f].append((f, p))
            snapshots.append(sorted(r for rs in replay.values() for r in rs))
        for v, want in enumerate(snapshots):
            got = sorted(
                (r.file_name, r.paragraph_idx)
                for r in S.read_versioned_as_of(spark, table, v).collect()
            )
            assert got == want, f"seq {seq} version {v}"
        cur = sorted(
            (r.file_name, r.paragraph_idx)
            for r in S.read_versioned(spark, table).collect()
        )
        assert cur == snapshots[-1]


def test_events_stream_accepts_relative_sf_dir(spark):
    """The events file-stream stages a symlink in /tmp; a RELATIVE sf_dir
    must be absolutized before it becomes the link target, or the link is
    broken (resolves against /tmp, not the driver cwd) and every
    streaming query silently drains 0 rows. Caught at sf1: parity with
    `.localdata/sf1` returned spark=0 for all 7 streaming queries while
    the same data via an absolute path passed."""
    if not os.path.isdir(SF):
        pytest.skip("driver testdata absent")
    from create_proposals_using_vector_db_public_spark.plans import QUERIES

    # relative to the session cwd (Spark's JVM resolves batch reads there,
    # so those worked all along; only the /tmp symlink target broke)
    rel = os.path.relpath(SF, os.getcwd())
    assert not os.path.isabs(rel)
    n = QUERIES["q_stream_dedup"](spark, rel).count()
    assert n > 0


# --- one-shot memory runs: partition cap, view cleanup, oracle parity --------

PARTS = "spark.sql.shuffle.partitions"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."
FS_MANAGER = _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"
FC_MANAGER = _CHECKPOINTING + "FileContextBasedCheckpointFileManager"


@pytest.fixture()
def partitions(spark, request):
    """Run the test with the session at ``request.param`` shuffle
    partitions; the previous value is restored afterwards."""
    before = spark.conf.get(PARTS)
    spark.conf.set(PARTS, str(request.param))
    yield request.param
    spark.conf.set(PARTS, before)


@pytest.fixture()
def started(monkeypatch):
    """Every StreamingQuery that ``DataStreamWriter.start`` returns."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    queries = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        queries.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    return queries


def _state_partitions(query) -> set[int]:
    return {
        op["numShufflePartitions"]
        for p in query.recentProgress
        for op in p["stateOperators"]
    }


def _events_stream_of(spark, d):
    """A file stream over 12 events of 3 types, written to ``d``."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 30, 0)
    rows = [(f"f{i % 3}", "x", t0 + dt.timedelta(minutes=37 * i)) for i in range(12)]
    df = (
        spark.createDataFrame(rows, SCHEMA)
        .withColumn("value", F.lit(1.0))
        .withColumn("event_type", F.col("file_name"))
    )
    df.coalesce(1).write.parquet(d)
    return spark.readStream.format("parquet").schema(df.schema).load(d)


@pytest.mark.parametrize("partitions", [2, 9], indirect=True)
def test_memory_run_caps_state_partitions_at_parallelism(
    spark, watch_dir, partitions, started
):
    stream = _events_stream_of(spark, f"{watch_dir}/events")
    win = S.windowed_event_counts(stream, window="1 hour")
    out = S.available_now_to_memory(win, output_mode="complete")
    assert sum(r["cnt"] for r in out.collect()) == 12
    (q,) = started
    cap = min(partitions, spark.sparkContext.defaultParallelism)
    assert _state_partitions(q) == {cap}
    assert spark.conf.get(PARTS) == str(partitions)


@pytest.mark.parametrize("partitions", [2, 9], indirect=True)
def test_memory_run_restores_partitions_when_start_raises(
    spark, watch_dir, partitions
):
    from pyspark.errors import AnalysisException

    stream = _events_stream_of(spark, f"{watch_dir}/events")
    # append mode needs a watermark on a streaming aggregation
    agg = stream.groupBy("event_type").count()
    manager = spark.conf.get(MANAGER, None)
    with pytest.raises(AnalysisException):
        S.available_now_to_memory(agg, output_mode="append")
    assert spark.conf.get(PARTS) == str(partitions)
    assert spark.conf.get(MANAGER, None) == manager


@pytest.mark.parametrize("partitions", [9], indirect=True)
def test_parquet_run_keeps_session_partitions(
    spark, watch_dir, tmp_path, partitions, started
):
    """The persistent checkpoint fixes the state partition count for every
    later run, so the parquet runner takes the session value uncapped."""
    stream = _events_stream_of(spark, f"{watch_dir}/events")
    win = S.windowed_event_counts(stream, window="1 hour")
    flat = win.select(F.col("win.start").alias("w_start"), "event_type", "cnt")
    S.available_now_to_parquet(
        flat, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    (q,) = started
    assert _state_partitions(q) == {9}


def test_memory_run_leaves_no_temp_view(spark, watch_dir):
    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    stream = _events_stream_of(spark, f"{watch_dir}/events")
    win = S.windowed_event_counts(stream, window="1 hour")
    out = S.available_now_to_memory(win, output_mode="complete")
    assert temp_views() == before
    # the frame still reads the sink's rows after the view is gone
    assert out.count() > 0
    assert out.agg(F.sum("cnt")).first()[0] == 12


MEMORY_RUN_QUERIES = [
    "q_stream_tumbling",
    "q_stream_sliding",
    "q_stream_session",
    "q_stream_join",
    "q_stream_dedup",
    "q_stream_stream_join",
    "q_stream_stateful",
    "q_pickle_stream",
]


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF):
        pytest.skip("driver testdata absent")
    from tools.parity import duck_connect

    con = duck_connect(SF)
    yield con
    con.close()


@pytest.mark.parametrize("partitions", [9], indirect=True)
@pytest.mark.parametrize("name", MEMORY_RUN_QUERIES)
def test_memory_run_queries_match_oracle(spark, duck, partitions, name):
    """Every query that runs a stream into memory equals its DuckDB oracle
    exactly with the session above its parallelism, so the cap is in
    effect."""
    from tools.parity import compare

    from create_proposals_using_vector_db_public_spark.plans import ORACLES, QUERIES

    got = QUERIES[name](spark, SF).toPandas()
    assert len(got) > 0
    assert compare(name, got, duck.sql(ORACLES[name]).df(), exact=True) == []


# --- checkpoint manager: the FileSystem one on local paths -------------------

RUNNERS = {
    "memory": lambda stream, d: S.available_now_to_memory(
        stream, output_mode="append"),
    "parquet": lambda stream, d: S.available_now_to_parquet(
        stream, str(d / "out"), str(d / "ckpt")),
    "versioned": lambda stream, d: S.stream_upsert_to_versioned(
        stream, str(d / "table"), str(d / "ckpt")),
    "stateful": lambda stream, d: S.run_update_to_parquet(
        S.running_counts_stateful(_keyed(stream)),
        str(d / "out"), str(d / "ckpt")),
}


def _query_conf(query, key: str) -> str:
    """``key`` in the query's own session, the clone ``start()`` made of
    the caller's."""
    return query._jsq.streamingQuery().sparkSessionForStream().conf().get(key)


@pytest.mark.parametrize("runner", sorted(RUNNERS))
def test_runner_starts_local_checkpoint_with_fs_manager(
    spark, watch_dir, tmp_path, started, runner
):
    import datetime as dt

    _write_file(spark, watch_dir, "a.parquet", [("f1", "x", dt.datetime(2024, 1, 1))])
    before = spark.conf.get(MANAGER, None)
    RUNNERS[runner](S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA), tmp_path)
    (q,) = started
    assert _query_conf(q, MANAGER) == FS_MANAGER
    assert spark.conf.get(MANAGER, None) == before


@pytest.fixture()
def manager(spark, request):
    """Run the test with the session naming ``request.param`` as its
    checkpoint manager; the previous setting is restored afterwards."""
    before = spark.conf.get(MANAGER, None)
    spark.conf.set(MANAGER, request.param)
    yield request.param
    if before is None:
        spark.conf.unset(MANAGER)
    else:
        spark.conf.set(MANAGER, before)


@pytest.mark.parametrize("manager", [FC_MANAGER], indirect=True)
def test_checkpoint_resumes_across_managers(
    spark, watch_dir, tmp_path, started, manager
):
    """A manager the session names is kept; a checkpoint written under
    Spark's default FileContext manager resumes under the FileSystem one
    and back, exactly-once per file."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run(file_name):
        _write_file(spark, watch_dir, f"{file_name}.parquet", [(file_name, "x", t0)])
        stream = S.stream_parquet(spark, f"{watch_dir}/*.parquet", SCHEMA)
        S.available_now_to_parquet(stream, out, ckpt)
        return _query_conf(started[-1], MANAGER)

    assert run("f1") == FC_MANAGER
    spark.conf.unset(MANAGER)
    assert run("f2") == FS_MANAGER
    spark.conf.set(MANAGER, FC_MANAGER)
    assert run("f3") == FC_MANAGER
    got = sorted(r["file_name"] for r in spark.read.parquet(out).collect())
    assert got == ["f1", "f2", "f3"]


def test_local_path_decision():
    from create_proposals_using_vector_db_public_spark.streaming.ingest_stream import (
        _on_local_fs,
    )

    assert _on_local_fs("file:/x", "file:///")
    assert _on_local_fs("file:/x", "hdfs://nn:8020")
    assert _on_local_fs("/x", "file:///")
    assert _on_local_fs("/x", None)  # Hadoop's default FS is file:///
    assert not _on_local_fs("/x", "hdfs://nn:8020")
    assert not _on_local_fs("hdfs://nn:8020/x", "file:///")
    assert not _on_local_fs("s3a://b/x", "file:///")


@pytest.fixture()
def checkpoint_root(spark, request):
    """Run the test with ``spark.sql.streaming.checkpointLocation`` at
    ``request.param``; unset afterwards."""
    key = "spark.sql.streaming.checkpointLocation"
    assert spark.conf.get(key, None) is None
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.unset(key)


@pytest.mark.parametrize(
    "checkpoint_root", ["hdfs://nn:8020/ckpt", "s3a://b/ckpt"], indirect=True
)
def test_memory_run_under_remote_checkpoint_root_keeps_default_manager(
    spark, checkpoint_root
):
    """With a non-local checkpoint root the memory run's checkpoint is
    there, so the query keeps Spark's default manager (no query is
    started: that would contact the remote file system)."""
    from create_proposals_using_vector_db_public_spark.streaming.ingest_stream import (
        _start_settings,
    )

    settings = _start_settings(spark, None, None, True)
    assert MANAGER not in settings and PARTS in settings


def test_remote_sink_path_keeps_default_manager(spark, tmp_path):
    """The parquet sink's ``_spark_metadata`` log lives under its output
    directory, so a remote output keeps the default manager even on a
    local checkpoint."""
    from create_proposals_using_vector_db_public_spark.streaming.ingest_stream import (
        _start_settings,
    )

    ckpt = str(tmp_path / "ckpt")
    assert _start_settings(spark, ckpt, str(tmp_path / "out"), False) == {
        MANAGER: FS_MANAGER
    }
    assert _start_settings(spark, ckpt, "s3a://b/out", False) == {}


CENSUS = """
import os, sys
sys.path.insert(0, sys.argv[1])
from create_proposals_using_vector_db_public_spark.plans import QUERIES
from create_proposals_using_vector_db_public_spark.session import get_spark

spark = get_spark("census", shuffle_partitions=4, master="local[2]")
for _ in range(2):
    open(os.environ["CENSUS_LOG"], "w").close()
    QUERIES["q_stream_tumbling"](spark, sys.argv[2]).count()
spark.stop()
"""


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_stream_run_forks_no_readlink(tmp_path):
    """Fork census: a logging ``readlink``/``chmod`` shim first on PATH
    records every such command the JVM forks. After a warm-up run, a
    memory stream on its local temp checkpoint forks no ``readlink``
    (Spark's default checkpoint manager forks one per file-status call
    when the native Hadoop library is absent)."""
    import subprocess
    import sys

    bin_dir, log = tmp_path / "bin", tmp_path / "forks.log"
    bin_dir.mkdir()
    for cmd in ("readlink", "chmod"):
        real = shutil.which(cmd)
        shim = bin_dir / cmd
        shim.write_text(f'#!/bin/sh\necho {cmd} >> "$CENSUS_LOG"\nexec {real} "$@"\n')
        shim.chmod(0o755)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        CENSUS_LOG=str(log),
        PYTHONPATH=root,
        SPARK_DRIVER_MEM="1g",
    )
    work = tmp_path / "work"
    work.mkdir()
    subprocess.run(
        [sys.executable, "-c", CENSUS, root, os.path.abspath(SF)],
        cwd=work, env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    forks = log.read_text().split()
    if not forks:
        pytest.skip("no command forked: the native Hadoop library is loaded")
    assert "readlink" not in forks, forks.count("readlink")
