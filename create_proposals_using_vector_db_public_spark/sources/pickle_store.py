"""The reference's native persistence format as a first-class Spark
source/sink.

The reference stores its whole "database" as a pickled dict of four
row-aligned parallel lists (``app.py:161-168`` / ``app_callapi.py:156-159``):

    {"names": list[str], "paragraphs": list[(file_name, paragraph_idx)],
     "embeddings": list[np.float32[dim]], "keywords": list[list[str]]}

(The companion ``vector_index.faiss`` file holds the same embedding matrix
again; the pickle alone reconstructs it, so this module reads/writes only
``doc_data.pkl`` — a user of the reference can point this engine at their
existing store and get a DataFrame back.)

Read path: a Spark 4 Python Data Source (``spark.dataSource.register`` +
``spark.read.format("refpickle").load(path)``). One store file is one
input partition — the format is inherently single-blob (the reference
never sharded it); at 100 TB the import job reads many store files, one
partition each, via the multi-path load. FAISS row identity (the implicit
positional join key, SURVEY §1.2 / R20) is materialized as an explicit
``row_id`` column so downstream queries never depend on physical order.

Write path: rows stream to the driver via ``toLocalIterator`` and are
spliced into the reference's exact dict layout in canonical
(file_name, paragraph_idx) order — deterministic regardless of
partitioning, and byte-compatible with what ``pickle.load`` at
``app_callapi.py:58-63`` expects. Driver-merged by necessity: the store
is one pickle blob, so it must be assembled whole wherever it is
written.
"""

from __future__ import annotations

import os
import pickle
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

DOC_DATA_SCHEMA = (
    "row_id bigint, file_name string, paragraph_idx int, "
    "embedding array<float>, keywords array<string>"
)


@dataclass
class _StorePartition(InputPartition):
    path: str


def _store_rows(path: str):
    """Parse one doc_data.pkl store into schema rows, failing loudly on a
    truncated/misaligned store — the parallel lists ARE the integrity
    contract (a silent zip() would drop the tail rows, exactly the
    corruption this source must surface)."""
    with open(path, "rb") as f:
        store = pickle.load(f)
    paragraphs = store["paragraphs"]
    embeddings = store["embeddings"]
    keywords = store["keywords"]
    if not (
        len(store["names"]) == len(paragraphs) == len(embeddings)
        == len(keywords)
    ):
        raise ValueError(
            f"refpickle: corrupt store {path}: parallel list "
            f"lengths differ (names={len(store['names'])}, "
            f"paragraphs={len(paragraphs)}, "
            f"embeddings={len(embeddings)}, keywords={len(keywords)})"
        )
    for row_id, (fp, emb, kws) in enumerate(
        zip(paragraphs, embeddings, keywords)
    ):
        file_name, paragraph_idx = fp
        yield (
            row_id,
            file_name,
            int(paragraph_idx),
            [float(x) for x in emb],
            list(kws),
        )


class RefPickleReader(DataSourceReader):
    def __init__(self, options):
        # DSv2 passes load(path) as the 'path' option and load([p1, p2])
        # as a JSON-encoded array under 'paths'
        single = options.get("path")
        multi = options.get("paths")
        if multi:
            import json

            self._paths = list(json.loads(multi))
        elif single:
            self._paths = [single]
        else:
            raise ValueError("refpickle: a load(path) is required")

    def partitions(self):
        return [_StorePartition(p) for p in self._paths]

    def read(self, partition):
        yield from _store_rows(partition.path)


class RefPickleStreamReader(SimpleDataSourceStreamReader):
    """Directory-of-stores as a stream: the reference re-scans its folder
    each session and folds in only NEW content (``app_callapi.py:165-174``);
    this reader gives those semantics to the pickle format itself. The
    watched directory accumulates immutable ``*.pkl`` shard files; the
    offset is the lexicographically-largest consumed file name, so each
    micro-batch reads exactly the files that arrived since (shard names
    must sort in arrival order — the writer's ``shard_NNN`` convention).
    Office lock files (``~$`` prefix, R2 ``app.py:35-36``) are skipped.

    ``readBetweenOffsets`` replays a (start, end] file range for recovery,
    which is deterministic because shard files are immutable once written.

    Driver-memory contract: a batch's rows are buffered on the driver
    (Spark's simple-stream wrapper prefetches there), and each ``read()``
    takes every pending shard, so a catch-up over a backlog buffers it
    ALL in one batch. That is what the package's AvailableNow runs need:
    ``Trigger.AvailableNow`` issues exactly ONE read() for a simple
    reader, so a per-batch cap would leave the rest of the backlog
    undrained.
    """

    def __init__(self, options):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("refpickle stream: a load(path) is required")

    def initialOffset(self):
        return {"upto": ""}

    def _files(self) -> list[str]:
        # a not-yet-created watch directory is "no shards yet", not an
        # error — the reference's folder-rescan semantics idle and pick
        # up content when it appears
        if not os.path.isdir(self._dir):
            return []
        return sorted(
            n
            for n in os.listdir(self._dir)
            if n.endswith(".pkl") and not n.startswith("~$")
        )

    def _rows(self, names: list[str]):
        # materialized, not a generator: Spark's simple-stream wrapper
        # caches the prefetched batch with copy.copy(iterator), which
        # generators don't support (and the driver must buffer the batch
        # anyway — one store blob per shard, the reference's own layout)
        rows = []
        for n in names:
            rows.extend(_store_rows(os.path.join(self._dir, n)))
        return iter(rows)

    def read(self, start):
        new = [n for n in self._files() if n > start["upto"]]
        if not new:
            return iter(()), start
        return self._rows(new), {"upto": new[-1]}

    def readBetweenOffsets(self, start, end):
        names = [
            n for n in self._files() if start["upto"] < n <= end["upto"]
        ]
        return self._rows(names)


class RefPickleDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "refpickle"

    def schema(self) -> str:
        return DOC_DATA_SCHEMA

    def reader(self, schema: StructType) -> RefPickleReader:
        return RefPickleReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> RefPickleStreamReader:
        return RefPickleStreamReader(self.options)


def register(spark: SparkSession) -> None:
    """Register the refpickle format with ``spark``'s session once.

    Registrations are per session (a ``newSession()`` starts without one),
    and registering again replaces the source with a JVM warning. Spark
    also refuses a name that the thread's active session already resolves
    (``DATA_SOURCE_ALREADY_EXISTS``), so ``spark`` is active for the call."""
    jss = spark._jsparkSession
    if jss.sessionState().dataSourceManager().dataSourceExists("refpickle"):
        return
    sessions = spark._jvm.org.apache.spark.sql.SparkSession
    prev = sessions.getActiveSession()
    sessions.setActiveSession(jss)
    try:
        spark.dataSource.register(RefPickleDataSource)
    finally:
        if prev.isDefined():
            sessions.setActiveSession(prev.get())
        else:
            sessions.clearActiveSession()


def read_doc_data(spark: SparkSession, path: str) -> DataFrame:
    register(spark)
    return spark.read.format("refpickle").load(path)


def read_doc_data_stream(spark: SparkSession, directory: str) -> DataFrame:
    """Watch a directory of doc_data shard pickles as a stream (new shard
    files become micro-batches; the reference's incremental folder-rescan
    semantics applied to its own persistence format). Each micro-batch
    takes every pending shard — see RefPickleStreamReader's driver-memory
    contract."""
    register(spark)
    return spark.readStream.format("refpickle").load(directory)


def write_doc_data(df: DataFrame, path: str) -> int:
    """Export a chunks DataFrame to the reference's doc_data.pkl layout.

    The store is a single pickled blob (the reference's own design), so
    the export is inherently driver-merged: rows stream to the driver
    partition-by-partition via toLocalIterator (never more than one
    partition buffered on top of the final store dict — which must fit in
    driver memory regardless, because pickle.dump needs it whole), then
    sort canonically on (file_name, paragraph_idx) so the parallel lists
    — and therefore the implicit FAISS row ids — are deterministic under
    any partitioning. Returns the row count. This path is interop
    export at reference scale; the engine's native table format is
    parquet."""
    cols = ["file_name", "paragraph_idx", "embedding", "keywords"]
    merged = [
        (r["file_name"], int(r["paragraph_idx"]),
         [float(x) for x in r["embedding"]], list(r["keywords"]))
        for r in df.select(*cols).toLocalIterator()
    ]
    merged.sort(key=lambda r: (r[0], r[1]))
    store = {
        "names": [r[0] for r in merged],
        "paragraphs": [(r[0], r[1]) for r in merged],
        "embeddings": [r[2] for r in merged],
        "keywords": [r[3] for r in merged],
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "wb") as f:
        pickle.dump(store, f)
    return len(merged)
