"""SparkSession construction tuned for this engine.

The driver supplies its own SparkSession to ``__spark_entry__``; this builder
is for tests and ``bench.py``. Settings are chosen for local[N] testing but
with cluster-scale behavior in mind:

- AQE on (runtime coalesce + skew-join handling — at 100 TB, skewed keys in
  the dedup/join paths get split automatically),
- Arrow on (pandas_udf paths transfer columnar batches, not pickled rows),
- modest shuffle partitions locally; on a real cluster this would be
  ~2-3x total cores or left to AQE's coalescing.

``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` size the local session; when
unset, it takes the cores this process may run on and half of physical
memory, at most 24 GB.

The Tungsten page size (``spark.buffer.pageSize``) follows the driver
memory (``tungsten_page_bytes``). Every Tungsten consumer (the serialized
shuffle writer's sorter, ``UnsafeExternalSorter``, the hash aggregate's
``BytesToBytesMap``) takes a whole page on its first insert, however few
rows it holds. Spark's default page, ``pool / cores / 16`` rounded up to a
power of two, is 32 MB on a 4-core, 4 GB driver, and those mostly empty
pages are most of the JVM's peak memory. The page is instead the smallest
power of two, at least 1 MB and at most Spark's 64 MB, whose task page
table (8192 entries, ``TaskMemoryManager.PAGE_TABLE_SIZE``) covers the
unified memory pool twice over, so one task that takes the whole pool
never runs out of page numbers: 1 MB up to a 7126 MB driver, 2 MB on a
7.8 GB one, 4 MB at the 24 GB cap. Summed task peak execution memory,
32 MB against 1 MB pages, reads 868 → 31 MB for q_bucketed_join, 289 → 10
MB for q_knn_join and 261 → 25 MB for q_tfidf. An ``extra_conf`` value
still wins. A session that a caller hands to ``__spark_entry__`` is not
built here and keeps its own page size.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


MB = 2**20
PAGE_TABLE_SIZE = 8192  # TaskMemoryManager.PAGE_TABLE_SIZE
RESERVED_MB = 300  # UnifiedMemoryManager's reserved system memory
MEMORY_FRACTION = 0.6  # spark.memory.fraction's default
MAX_PAGE_BYTES = 64 * MB  # the ceiling of Spark's own default page size
_UNITS = {"k": 2**10, "m": MB, "g": 2**30, "t": 2**40}


def _host_driver_mem() -> str:
    """Half of physical memory, capped at 24 GB."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(24 * 1024, total // 2**21)}m"


def _mem_bytes(mem: str) -> int:
    """A JVM memory string (``4g``, ``7987m``, ``512k``) in bytes; a bare
    number is MB, as ``spark.driver.memory`` reads it."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if m is None:
        raise ValueError(f"not a memory size: {mem!r}")
    return int(m.group(1)) * _UNITS.get(m.group(2), MB)


def tungsten_page_bytes(driver_mem: str) -> int:
    """The smallest power of two, at least 1 MB and at most 64 MB, for which
    ``PAGE_TABLE_SIZE`` pages hold twice the unified memory pool of a
    ``driver_mem`` heap."""
    pool = (_mem_bytes(driver_mem) - RESERVED_MB * MB) * MEMORY_FRACTION
    page = MB
    while page < MAX_PAGE_BYTES and PAGE_TABLE_SIZE * page < 2 * pool:
        page *= 2
    return page


def get_spark(
    app_name: str = "create-proposals-spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.buffer.pageSize", f"{tungsten_page_bytes(driver_mem) // MB}m")
        # The hash-heavy operators (MinHash/SimHash/stub-embed) generate
        # large whole-stage-codegen classes; the JVM's default 240 MB code
        # cache fills over a long session and HotSpot silently falls back to
        # the interpreter (measured 30-50x slowdowns late in a run).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    # adversarial-planner overrides (tools/parity.py --conf): results must
    # be invariant to planner mode, so sweeps may disable AQE or force
    # shuffle joins here without touching the production defaults above
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
