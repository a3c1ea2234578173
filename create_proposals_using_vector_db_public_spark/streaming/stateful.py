"""Custom stateful streaming operators via ``applyInPandasWithState`` —
the arbitrary-state API for operators Spark's built-in streaming aggs
can't express (north-star: "applyInPandasWithState for custom stateful
operators").

The reference keeps its incremental state (already-indexed keys, file
hashes) in driver-memory Python dicts (``app_callapi.py:101,153``) that
vanish with the process. Here state lives in the checkpointed state store:
keyed, fault-tolerant, and resumable across runs — the same contract the
incremental ingest stream uses for file tracking.

Scale: state is partitioned by the grouping key across executors; each
micro-batch touches only the keys present in the batch. State size is
O(distinct keys), not O(rows seen).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .ingest_stream import _run_available_now


def running_counts_stateful(
    stream_df: DataFrame,
    ts_col: str = "ts",
    ts_type=None,
) -> DataFrame:
    """Cumulative per-``event_type`` event counts that survive across
    micro-batches AND across separate runs (the count state is in the
    checkpoint, so a second AvailableNow run continues from the first's
    totals — the stateful twin of the incremental file pickup).

    Emits one row per string ``event_type`` per batch: (event_type,
    n_events, last_ts). ``ts_type`` is the ``ts_col`` data type (default
    TimestampType; pass LongType for integer-microsecond columns).
    """
    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("n_events", LongType()),
            StructField("last_ts", ts_type or TimestampType()),
        ]
    )
    state_schema = StructType([StructField("n", LongType())])

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        batch_n = 0
        last_ts = None
        for pdf in pdfs:
            batch_n += len(pdf)
            if len(pdf):
                m = pdf[ts_col].max()
                last_ts = m if last_ts is None else max(last_ts, m)
        total += batch_n
        state.update((total,))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [total], "last_ts": [last_ts]}
        )

    return stream_df.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_update_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
) -> None:
    """One AvailableNow pass of an update-mode stateful stream into parquet
    via foreachBatch (the parquet sink itself is append-only; foreachBatch
    is the standard update-mode-to-files bridge and keeps checkpoint
    resumability). Each micro-batch OVERWRITES its own batch=N subdir, so
    a batch retried after a sink-write-then-checkpoint-crash rewrites the
    same directory instead of appending duplicate rows — the idempotence
    contract foreachBatch file sinks need. Readers scan out_path and see
    batch as a partition column.

    The query takes the session's ``spark.sql.shuffle.partitions`` as is:
    the checkpoint fixes the state partition count for every later run, so
    a cap sized to one host would bind all later runs. On a local
    checkpoint it runs with the FileSystem checkpoint manager, which forks
    no ``readlink`` per file-status call; results do not change, and a
    checkpoint written under either manager resumes under the other
    (``ingest_stream._run_available_now``)."""
    _run_available_now(
        stream_df.writeStream.foreachBatch(
            lambda df, bid: df.write.mode("overwrite").parquet(
                f"{out_path}/batch={bid}"
            )
        ).outputMode("update"),
        stream_df.sparkSession,
        "run_update_to_parquet",
        checkpoint=checkpoint_path,
    )
