"""Structured Streaming forms of the reference's folder-watch ingest.

The reference rescans ``./documents`` once per session and folds new or
changed files into the index (``app.py:117-132``, ``app_callapi.py:165-174``
— the ``session_state`` one-shot guard). The Spark-native equivalent is a
file-source stream processed with ``Trigger.AvailableNow`` — one scan of
everything currently present, exactly-once per file, then stop; run again
later and only NEW files are processed (checkpointed file tracking replaces
the reference's ``doc_hash.pkl``).

Late/duplicate handling that the reference does with in-memory lists:

- duplicate chunk keys (R9)  → ``dropDuplicatesWithinWatermark`` keyed on
  (file_name, paragraph_idx): state is bounded by the watermark instead of
  growing forever — the 100 TB-safe form of "check if already indexed",
- windowed event rollups     → event-time tumbling windows + watermark.

Everything composes with the batch operators in ``operators.ingest``: the
transformations are identical DataFrame expressions; only the source/sink
differ.
"""

from __future__ import annotations

import tempfile
import uuid
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from ..operators import ingest as I

# how long a stream runner waits for its AvailableNow query to finish
STREAM_TIMEOUT_SEC = 300


def stream_parquet(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """File-source stream over a parquet directory (the folder being
    "watched"). Schema must be provided — streaming sources don't infer."""
    return spark.readStream.format("parquet").schema(schema).load(path)


def stream_chunks(files_stream: DataFrame) -> DataFrame:
    """The streaming chunking pipeline: the R5/R6 paragraph split of the
    stream's ``text`` column, the same transform as the batch
    ``operators.ingest.split_paragraphs``."""
    return I.split_paragraphs(files_stream)


def watermark_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    watermark_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """R9's (file, idx) duplicate skip with bounded state: duplicates
    arriving within the watermark window are dropped; state for keys older
    than the watermark is evicted. The unbounded-list equivalent in the
    reference (``app.py:98-99``) cannot run forever — this can."""
    return stream_df.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling-window counts and value totals per
    ``event_type`` over ``ts``, with a late-data watermark — the streaming
    twin of the batch q_stream_window query."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(
            F.window(F.col("ts"), window).alias("win"), F.col("event_type")
        )
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("total_value"))
    )


def available_now_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
) -> None:
    """One AvailableNow pass into a parquet sink with a persistent
    checkpoint — the durable form of the reference's re-scan semantics
    (``app_callapi.py:165-174``): run once, stop; run again later from the
    SAME checkpoint and only files that arrived in between are processed
    (the checkpointed file log replaces ``doc_hash.pkl``). Exactly-once per
    file across runs.

    The query takes the session's ``spark.sql.shuffle.partitions`` as is:
    the checkpoint fixes the state partition count for every later run, so
    a cap sized to one host would bind all later runs (contrast
    ``available_now_to_memory``). When the checkpoint and ``out_path``
    (where the sink's ``_spark_metadata`` log lives) are both on the local
    file system, the query runs with the FileSystem checkpoint manager,
    which forks no ``readlink`` per file-status call; results do not
    change, and a checkpoint written under either manager resumes under
    the other (``_run_available_now``)."""
    _run_available_now(
        stream_df.writeStream.format("parquet").outputMode("append"),
        stream_df.sparkSession,
        "available_now_to_parquet",
        checkpoint=checkpoint_path,
        sink_path=out_path,
    )


def available_now_to_memory(
    stream_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming DataFrame to completion with Trigger.AvailableNow
    into an in-memory table and return the batch result — the one-shot
    session-scan semantics of the reference (R28), used by tests and the
    rows-only streaming queries.

    The query runs with ``spark.sql.shuffle.partitions`` capped at the
    session's ``defaultParallelism``. Streams turn AQE off, so every
    stateful operator gets one state store per shuffle partition however
    small the input, and each store costs a load, a delta-file write and a
    task. The cap is safe only here: the checkpoint is temporary and
    discarded, so the state partition count it fixes is never reused.
    Results do not depend on the partition count (the
    ``tools/parity.py --partitions`` sweep checks this).

    The temporary checkpoint is on the local file system unless
    ``spark.sql.streaming.checkpointLocation`` names a root for it, so the
    query normally runs with the FileSystem checkpoint manager, which forks
    no ``readlink`` per file-status call; it writes the same files as
    Spark's default manager, so results do not change. Both settings hold
    for the ``start()`` call only (``_run_available_now``).

    The memory sink's temp view is dropped once the result is resolved, so
    calls leave no view behind in the session; the sink's rows live as
    long as the returned DataFrame, which still reads them."""
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    _run_available_now(
        stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        spark,
        "available_now_to_memory",
        cap_state_partitions=True,
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


_PARTITIONS_KEY = "spark.sql.shuffle.partitions"
_CHECKPOINT_ROOT_KEY = "spark.sql.streaming.checkpointLocation"
_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _on_local_fs(path: str, default_fs: str | None) -> bool:
    """Whether Hadoop resolves ``path`` to the local file system: by its
    URI scheme, or by ``default_fs``'s (Hadoop's default is ``file:///``)
    for a scheme-less path. No FileSystem is instantiated."""
    return (urlsplit(path).scheme or urlsplit(default_fs or "file:///").scheme) == "file"


def _start_settings(
    spark: SparkSession,
    checkpoint: str | None,
    sink_path: str | None,
    cap_state_partitions: bool,
) -> dict[str, str]:
    """The session settings ``_run_available_now`` holds during ``start()``
    for a query with these paths (``checkpoint`` None: a temporary one)."""
    settings = {}
    if cap_state_partitions:
        parts = int(spark.conf.get(_PARTITIONS_KEY))
        settings[_PARTITIONS_KEY] = str(min(parts, spark.sparkContext.defaultParallelism))
    # a temporary checkpoint goes under the configured root, else into a
    # scheme-less JVM temp directory, which Hadoop resolves on the default
    # FS; gettempdir() stands in for it, since only the scheme is read
    paths = [
        checkpoint or spark.conf.get(_CHECKPOINT_ROOT_KEY, None) or tempfile.gettempdir()
    ]
    if sink_path is not None:
        paths.append(sink_path)
    default_fs = spark._jsparkSession.sessionState().newHadoopConf().get("fs.defaultFS")
    if spark.conf.get(_MANAGER_KEY, None) is None and all(
        _on_local_fs(p, default_fs) for p in paths
    ):
        settings[_MANAGER_KEY] = _FS_MANAGER
    return settings


def _run_available_now(
    writer: DataStreamWriter,
    spark: SparkSession,
    runner: str,
    checkpoint: str | None = None,
    sink_path: str | None = None,
    cap_state_partitions: bool = False,
) -> None:
    """Start ``writer``'s query with Trigger.AvailableNow, the given
    checkpoint and file-sink path, and wait for it to finish. Every stream
    runner starts its query here; nothing else changes the session around
    a ``start()``.

    ``start()`` copies the session conf into the query's own session, so
    two settings are applied for that call only and the caller's values
    are restored when it returns or raises. A concurrent builder in the
    same session can read them during ``start()``; neither can change its
    results.

    - ``cap_state_partitions``: ``spark.sql.shuffle.partitions`` capped at
      ``defaultParallelism`` (see ``available_now_to_memory``; only for a
      temporary checkpoint).
    - When every metadata-log path of the query is on the local file
      system (the checkpoint, and the file sink's output directory, which
      holds ``_spark_metadata``), and the session names no checkpoint
      manager itself: the FileSystem-based checkpoint manager. Spark's
      default FileContext manager checks file status through
      ``getFileLinkStatus``, which without the native Hadoop library forks
      a ``readlink`` per call. On a local path both managers do the same
      check-then-rename on the same ``RawLocalFileSystem`` and write the
      same file formats (checksum files included), so results do not
      change and a checkpoint written under either resumes under the
      other. On HDFS and object stores the default manager, with its
      atomic rename, is kept.

    A query that does not finish within ``STREAM_TIMEOUT_SEC`` is stopped
    and ``TimeoutError`` raised: returning would hand the caller a partial
    result while the unstopped query keeps writing behind their back."""
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if sink_path is not None:
        writer = writer.option("path", sink_path)
    settings = _start_settings(spark, checkpoint, sink_path, cap_state_partitions)
    previous = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        q = writer.trigger(availableNow=True).start()
    finally:
        for k, v in previous.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    if not q.awaitTermination(STREAM_TIMEOUT_SEC):
        q.stop()
        raise TimeoutError(
            f"{runner} did not finish within {STREAM_TIMEOUT_SEC}s"
        )


# --- streaming upsert into a versioned parquet store -------------------------

def _current_version(spark, table_dir: str) -> int:
    """Read the commit pointer (-1 when the table does not exist yet)."""
    import os

    ptr = os.path.join(table_dir, "CURRENT")
    if not os.path.exists(ptr):
        return -1
    with open(ptr, encoding="ascii") as f:
        return int(f.read().strip())


def read_versioned(spark, table_dir: str) -> DataFrame | None:
    """Read the current snapshot of a versioned parquet table."""
    import os

    v = _current_version(spark, table_dir)
    if v < 0:
        return None
    return spark.read.parquet(os.path.join(table_dir, f"v{v}"))


def read_versioned_as_of(spark, table_dir: str, version: int) -> DataFrame:
    """Time travel: read the table AS OF ``version`` — any snapshot dir
    that retention has not deleted, not just CURRENT. Snapshots are
    immutable once the pointer moves past them, so an as-of read is
    reproducible for as long as the version is retained (the Delta/
    Iceberg ``VERSION AS OF`` semantics on the minimal commit protocol).
    Raises on a version that never existed or was vacuumed by
    ``keep_versions`` — silently falling back to CURRENT would be a
    correctness bug in any downstream diff/audit."""
    import os

    path = os.path.join(table_dir, f"v{version}")
    if not os.path.isdir(path):
        cur = _current_version(spark, table_dir)
        raise ValueError(
            f"version {version} not available in {table_dir} "
            f"(CURRENT={cur}; retained snapshots only — vacuumed or "
            "never-written versions cannot be read)"
        )
    return spark.read.parquet(path)


def commit_version(
    batch_df: DataFrame,
    table_dir: str,
    keep_versions: int | None = None,
) -> int:
    """ONE versioned-store commit from a batch DataFrame: upsert its
    ``file_name``s against the CURRENT snapshot, write ``v{n+1}`` to a
    fresh path, flip the pointer atomically, apply retention. The
    streaming upsert's foreachBatch delegates here, so batch writers, the
    stream, and the as-of-version read all share a single commit
    protocol. Returns the committed version number."""
    import os
    import shutil

    from ..operators.ingest import upsert_files

    if keep_versions is not None and keep_versions < 1:
        # 0 would delete the snapshot just committed and brick the table;
        # validated here (not only in the streaming wrapper) because this
        # is the shared public commit path
        raise ValueError("keep_versions must be >= 1 (or None to keep all)")

    spark = batch_df.sparkSession
    # one pointer read: the snapshot merged FROM and the version number
    # committed TO must come from the same observed state
    cur_v = _current_version(spark, table_dir)
    cur = (
        None
        if cur_v < 0
        else spark.read.parquet(os.path.join(table_dir, f"v{cur_v}"))
    )
    merged = batch_df if cur is None else upsert_files(cur, batch_df)
    v = cur_v + 1
    merged.write.mode("overwrite").parquet(os.path.join(table_dir, f"v{v}"))
    tmp = os.path.join(table_dir, "CURRENT.tmp")
    with open(tmp, "w", encoding="ascii") as f:
        f.write(str(v))
    os.replace(tmp, os.path.join(table_dir, "CURRENT"))  # atomic commit
    if keep_versions is not None:
        for old in range(max(0, v - keep_versions + 1)):
            stale = os.path.join(table_dir, f"v{old}")
            if os.path.isdir(stale):
                shutil.rmtree(stale, ignore_errors=True)
    return v


def stream_upsert_to_versioned(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_path: str,
    keep_versions: int | None = None,
) -> None:
    """Streaming form of R12 upsert (``app_callapi.py:140-142`` under the
    re-scan loop ``app_callapi.py:165-174``): each micro-batch
    delete-then-inserts its files into a VERSIONED parquet table —
    snapshot dirs ``v0, v1, …`` plus a ``CURRENT`` pointer file committed
    last, the minimal transaction-log pattern (what Delta/Iceberg do at
    production grade). Readers never see a partial write: they resolve
    ``CURRENT`` to an immutable snapshot; Spark's can't-overwrite-input
    restriction never applies because a new version is always a new path.

    Paired with the AvailableNow checkpoint this gives exactly-once,
    restartable incremental upsert: re-run later and only files that
    arrived since the last run are folded in. Scale note: each commit
    rewrites only what upsert_files keeps — partition the store by a
    file-hash prefix at 100 TB so the anti-join + rewrite prunes to the
    affected partitions instead of the full table.

    ``keep_versions`` bounds disk growth: after each commit, snapshot dirs
    older than the newest N are deleted (None keeps everything — fine for
    tests, not for a long-lived store; each version is a full table copy,
    exactly like Delta/Iceberg retention before VACUUM). Single-writer per
    table_dir is assumed, as in any file-pointer-committed store; the
    version read and the commit number derive from ONE pointer read so a
    violated assumption loses at most the slower writer's commit, never
    a half-written snapshot.

    The query takes the session's ``spark.sql.shuffle.partitions`` as is,
    for the reason ``available_now_to_parquet`` gives. On a local
    checkpoint it runs with the FileSystem checkpoint manager, which forks
    no ``readlink`` per file-status call; results do not change, and a
    checkpoint written under either manager resumes under the other
    (``_run_available_now``)."""
    if keep_versions is not None and keep_versions < 1:
        # 0 would delete the snapshot just committed and brick the table
        raise ValueError("keep_versions must be >= 1 (or None to keep all)")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        commit_version(batch_df, table_dir, keep_versions=keep_versions)

    _run_available_now(
        stream_df.writeStream.foreachBatch(apply_batch),
        stream_df.sparkSession,
        "stream_upsert_to_versioned",
        checkpoint=checkpoint_path,
    )
