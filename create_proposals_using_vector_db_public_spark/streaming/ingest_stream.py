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

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators import ingest as I


def stream_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (the folder being
    "watched"). Schema must be provided — streaming sources don't infer."""
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stream_chunks(
    files_stream: DataFrame,
    text_col: str = "text",
    delim: str = "\n",
    watermark_col: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """The streaming chunking pipeline: R5/R6 paragraph split + R9 key dedup
    with watermark-bounded state."""
    chunks = I.split_paragraphs(files_stream, text_col=text_col, delim=delim)
    if watermark_col is None:
        return chunks
    return chunks.withWatermark(watermark_col, watermark_delay)


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
    ts_col: str = "ts",
    window: str = "6 hours",
    watermark: str = "1 hour",
    extra_key: str | None = "event_type",
) -> DataFrame:
    """Event-time tumbling-window aggregation with late-data watermark —
    the streaming twin of the batch q_stream_window query."""
    keys = [F.window(F.col(ts_col), window).alias("win")]
    if extra_key:
        keys.append(F.col(extra_key))
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("total_value"))
    )


def available_now_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    timeout_sec: int = 300,
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
    ``available_now_to_memory``)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        # stop + raise: returning would hand the caller a partial dataset
        # while the unstopped query keeps appending behind their back
        q.stop()
        raise TimeoutError(
            f"available_now_to_parquet did not finish within {timeout_sec}s"
        )


def available_now_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int = 300,
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
    ``start()`` copies the session conf into the query's own session, and
    the previous value is restored as soon as ``start()`` returns or
    raises. A concurrent builder in the same session can read the capped
    value during ``start()``; that cannot change its results, which do not
    depend on the partition count (the ``tools/parity.py --partitions``
    sweep checks this).

    The memory sink's temp view is dropped once the result is resolved, so
    calls leave no view behind in the session; the sink's rows live as
    long as the returned DataFrame, which still reads them."""
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    key = "spark.sql.shuffle.partitions"
    previous = spark.conf.get(key)
    spark.conf.set(
        key, str(min(int(previous), spark.sparkContext.defaultParallelism))
    )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, previous)
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"available_now_to_memory did not finish within {timeout_sec}s"
        )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


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
    file_col: str = "file_name",
    keep_versions: int | None = None,
) -> int:
    """ONE versioned-store commit from a batch DataFrame: upsert against
    the CURRENT snapshot, write ``v{n+1}`` to a fresh path, flip the
    pointer atomically, apply retention. The streaming upsert's
    foreachBatch delegates here, so batch writers, the stream, and the
    as-of-version read all share a single commit protocol. Returns the
    committed version number."""
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
    merged = (
        batch_df
        if cur is None
        else upsert_files(cur, batch_df, file_col=file_col)
    )
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
    file_col: str = "file_name",
    timeout_sec: int = 300,
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
    for the reason ``available_now_to_parquet`` gives."""
    if keep_versions is not None and keep_versions < 1:
        # 0 would delete the snapshot just committed and brick the table
        raise ValueError("keep_versions must be >= 1 (or None to keep all)")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        commit_version(
            batch_df, table_dir, file_col=file_col,
            keep_versions=keep_versions,
        )

    q = (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        # unlike the read-only available_now_* helpers, this stream commits
        # state — returning while it still runs would hand the caller a
        # stale snapshot or a concurrent-writer hazard
        q.stop()
        raise TimeoutError(
            f"stream_upsert_to_versioned did not finish within {timeout_sec}s"
        )
