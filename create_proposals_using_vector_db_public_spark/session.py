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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_mem() -> str:
    """Half of physical memory, capped at 24 GB."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(24 * 1024, total // 2**21)}m"


def get_spark(
    app_name: str = "create-proposals-spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem())
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
