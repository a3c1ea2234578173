"""Parquet star-schema sources.

The driver materializes deterministic TPC-H-ish tables plus ``events``,
``documents`` and ``embeddings`` as one parquet file per table
(TESTDATA.md). Every open goes through ``_read_parquet``: the first open
of a file in a session infers its schema (one Spark job), and later opens
of the same file pass that schema to the reader, which then runs no job.
Entries are kept per session, because parquet-read confs are per session,
and per file identity (path, size, mtime), so a file rewritten in place is
inferred again. The stored schema is the inferred one, so names, types and
nullability are exactly what an uncached read gives. Filters and
projections push down to the scan either way.

At 100 TB each table would be a partitioned parquet/Delta dataset; its
schema would come from the table's metadata (a catalog or the Delta log)
instead of footer inference, and the reads would stay the same.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# session -> {(path, st_size, st_mtime_ns): inferred schema}
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[tuple[str, int, int], StructType]
] = weakref.WeakKeyDictionary()


def _file_key(path: str) -> tuple[str, int, int] | None:
    """The cache key of a local regular file; None for anything else
    (a directory, a remote URI), which is then read uncached."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_size, st.st_mtime_ns)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    session's first open of this file."""
    key = _file_key(path)
    if key is None:
        return spark.read.parquet(path)
    schemas = _SCHEMAS.setdefault(spark, {})
    schema = schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    schemas[key] = df.schema
    return df


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The file's schema as the session's reader infers it, from the
    cache when the file was opened before."""
    key = _file_key(path)
    schema = _SCHEMAS.get(spark, {}).get(key) if key is not None else None
    return schema if schema is not None else _read_parquet(spark, path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table carries parquet TIMESTAMP(NANOS). Spark's reader
    behavior differs by version — Spark ≤4.0 rejects nanos unless the
    legacy ``nanosAsLong`` conf maps them to raw bigint; Spark 4.1+ reads
    them natively as TIMESTAMP_NTZ (truncated to µs, exactly like DuckDB
    truncates TIMESTAMP_NS to its native µs on read). Handle both and
    expose a stable schema:

    - ``ts_ns``  : bigint nanoseconds since epoch,
    - ``ts_us``  : bigint microseconds — matches DuckDB ``epoch_us(ts)``,
      so every oracle comparison/ordering uses ``ts_us``,
    - ``ts``     : a real TIMESTAMP column (µs) for human-facing use.

    Integer timestamps keep all ordering/bucketing arithmetic
    timezone-independent; the session timezone is pinned to UTC so the
    NTZ→instant interpretation and ``to_date``/``date_format`` rendering
    agree with DuckDB's naive-timestamp semantics — session-timezone
    rendering is the #1 cross-engine divergence for time queries.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:  # honored on Spark ≤4.0; accepted-but-ignored on 4.1+
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = _read_parquet(spark, f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":  # legacy nanosAsLong path
        df = df.withColumnRenamed("ts", "ts_ns").withColumn(
            # FLOOR division (pmod is non-negative), matching the 4.1+
            # native nanos->micros truncation for pre-epoch values too —
            # `div` alone truncates toward zero and would differ by 1µs
            "ts_us", F.expr("(ts_ns - pmod(ts_ns, 1000)) div 1000")
        )
    else:  # timestamp_ntz (or timestamp): fields are the UTC wall clock
        df = (
            df.withColumn(
                "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
            )
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
            .drop("ts")
        )
    return df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
