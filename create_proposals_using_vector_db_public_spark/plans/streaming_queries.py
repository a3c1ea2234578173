"""Streaming declared queries — run real Structured Streaming jobs
(Trigger.AvailableNow → memory sink) and return their batch results.

q_stream_tumbling carries a full DuckDB oracle: with AvailableNow every
row is in one logical run and complete-mode output emits every window, so
the streaming result equals the batch tumbling aggregation exactly.
q_stream_dedup declares counts per event_type, which are arrival-order
independent (kept-row *identity* is not, so the query never exposes it) —
so it, too, carries a full oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import money_sum, s_units
from ..sources.tables import _parquet_schema, load_events
from ..streaming import available_now_to_memory, stream_parquet, watermark_dedup
from .registry import query


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The file-stream source requires a DIRECTORY (it watches for new
    # files); testdata is read-only, so stage a symlink to the single
    # events.parquet in a per-(sf, process) temp dir — the "watched
    # folder". The pid suffix isolates concurrent sessions (a shared dir
    # would race on the link AND on checkpoints); within one process the
    # path is stable, so repeated invocations reuse the stage.
    import os
    import tempfile

    # abspath: the link lives in /tmp, so a relative sf_dir (legal for
    # batch reads, which resolve against the driver cwd) would otherwise
    # become a relative symlink TARGET that resolves against the link's
    # own directory — a silently-broken link and an empty stream
    target = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    stage = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_stream_{os.getpid()}",
        os.path.basename(sf_dir.rstrip("/")),
        "events",
    )
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    # lexists, not exists: a broken symlink must be replaced, not crash
    # os.symlink; a link pointing at a DIFFERENT sf_dir (same basename,
    # other tree) must be re-pointed, not silently stream stale data
    if os.path.lexists(link) and (
        not os.path.islink(link) or os.readlink(link) != target
    ):
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(target, link)

    # load_events pins the UTC session timezone + legacy nanos conf and
    # stores the batch reader's inferred schema; the stream reads the file
    # with that same schema, so `ts` arrives as raw bigint nanos on Spark
    # ≤4.0 (nanosAsLong) and as TIMESTAMP_NTZ on 4.1+, like the batch read.
    load_events(spark, sf_dir)
    schema = _parquet_schema(spark, target)
    raw = stream_parquet(spark, stage, schema)
    if schema["ts"].dataType.simpleString() == "bigint":
        # FLOOR division (pmod is non-negative) — same pre-epoch-safe
        # conversion as sources/tables.py load_events; bare `div`
        # truncates toward zero and diverges by 1µs for negative ts
        return raw.withColumn(
            "ts_us", F.expr("(ts - pmod(ts, 1000)) div 1000")
        )
    return raw.withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    ).drop("ts")


_STREAM_TUMBLING_ORACLE = """
SELECT (epoch_us(ts) // 21600000000) * 21600 AS window_start_s,
       event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("q_stream_tumbling", oracle=_STREAM_TUMBLING_ORACLE)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h windows computed by an actual streaming query
    (readStream → stateful agg → AvailableNow → memory sink). Equals the
    batch q_stream_window result, and the oracle proves it — the
    batch/stream unification Spark promises, demonstrated."""
    ev = _events_stream(spark, sf_dir)
    win = (F.floor(F.col("ts_us") / 21_600_000_000) * 21_600).cast("bigint")
    agg = ev.groupBy(win.alias("window_start_s"), "event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return available_now_to_memory(agg, output_mode="complete")


_STREAM_SLIDING_ORACLE = """
WITH buckets AS (
  SELECT event_type, value,
         unnest([ (epoch_us(ts) // 21600000000) * 21600 - 21600,
                  (epoch_us(ts) // 21600000000) * 21600 ]) AS window_start_s
  FROM events
)
SELECT window_start_s, event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       (CAST(floor(sum(CAST(value AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(value AS DECIMAL(14,2))) - floor(sum(CAST(value AS DECIMAL(14,2)))) AS DOUBLE))
         AS total_value
FROM buckets
GROUP BY 1, 2
"""


@query("q_stream_sliding", oracle=_STREAM_SLIDING_ORACLE)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 12h windows every 6h (each event lands in exactly two
    windows) computed by a real streaming query. The oracle replays the
    window assignment arithmetic — window starts are the two 6h-grid
    points within 12h of the event — and the exact money sum
    (``money_sum``) keeps the value hash exact at any group size."""
    ev = _events_stream(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.col("ts_us"))
    )
    agg = ev.groupBy(
        F.window("ts_t", "12 hours", "6 hours"), "event_type"
    ).agg(
        F.count("*").alias("cnt"),
        money_sum(s_units("value", 14, 2), 2).alias("total_value"),
    )
    out = available_now_to_memory(agg, output_mode="complete")
    return out.select(
        F.col("window.start").cast("long").alias("window_start_s"),
        "event_type",
        "cnt",
        "total_value",
    )


_STREAM_SESSION_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
), gaps AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us - lag(ts_us) OVER (
                PARTITION BY user_id ORDER BY ts_us ASC
              ) >= 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM e
), sess AS (
  SELECT user_id, ts_us,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts_us ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM gaps
)
SELECT user_id,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(max(ts_us) + 1800000000 AS BIGINT) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, session_id
"""


@query("q_stream_session", oracle=_STREAM_SESSION_ORACLE)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window (30-min gap) streaming aggregation — the
    native stateful session operator next to the batch q_sessionize and
    the applyInPandasWithState q_stream_stateful. Spark merges events
    whose [ts, ts+gap) windows overlap, so a session breaks when the gap
    is >= 30 min — the oracle's island logic uses >= to match (the batch
    q_sessionize uses > per its own contract). session end = last event
    + gap, exactly session_window.end."""
    ev = _events_stream(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.col("ts_us"))
    )
    agg = ev.groupBy(
        F.session_window("ts_t", "30 minutes"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = available_now_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
        "n_events",
    )


_STREAM_JOIN_ORACLE = """
SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_events,
       (CAST(floor(sum(CAST(e.value AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(e.value AS DECIMAL(14,2))) - floor(sum(CAST(e.value AS DECIMAL(14,2)))) AS DOUBLE))
         AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@query("q_stream_join", oracle=_STREAM_JOIN_ORACLE)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream joins a broadcast dimension
    (customer → nation) micro-batch by micro-batch, then a stateful agg
    per nation. The standard streaming enrichment shape — the dimension
    is loaded per batch on the static side, no stream-stream state needed,
    and at 100 TB/day the only state is |nations| aggregation rows."""
    from ..sources import load_table

    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    dim = cust.join(
        F.broadcast(nation),
        cust["c_nationkey"] == nation["n_nationkey"],
    ).select("c_custkey", "n_name")
    joined = ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
    agg = joined.groupBy("n_name").agg(
        F.count("*").alias("n_events"),
        money_sum(s_units("value", 14, 2), 2).alias("total_value"),
    )
    return available_now_to_memory(agg, output_mode="complete")


_STREAM_DEDUP_ORACLE = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events GROUP BY event_type
"""


@query("q_stream_dedup", oracle=_STREAM_DEDUP_ORACLE)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on a compound key — R9's duplicate
    skip with watermark-bounded state. Counted per event_type: WHICH row
    survives depends on arrival order, but HOW MANY survive does not (one
    per distinct (user_id, event_type) — the 365-day delay spans the whole
    fixture, so no state eviction can double-count), which makes the
    declared result equal to a batch count(DISTINCT user_id) per type and
    therefore fully oracle-checkable."""
    ev = _events_stream(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.col("ts_us"))
    )
    deduped = watermark_dedup(
        ev, ["user_id", "event_type"], watermark_col="ts_t", delay="365 days"
    )
    out = available_now_to_memory(deduped, output_mode="append")
    return out.groupBy("event_type").agg(F.count("*").alias("distinct_users"))


# --- stream-stream watermarked interval join ---------------------------------

_SS_JOIN_RANGE_US = 30 * 60 * 1_000_000  # purchase within 30 min of a view

_STREAM_STREAM_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), v AS (
  SELECT user_id, us FROM e WHERE event_type = 'view'
), p AS (
  SELECT user_id, us FROM e WHERE event_type = 'purchase'
)
SELECT v.user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(p.us - v.us) AS BIGINT) AS total_delay_us
FROM v JOIN p
  ON v.user_id = p.user_id
 AND p.us >= v.us AND p.us <= v.us + {_SS_JOIN_RANGE_US}
GROUP BY v.user_id
"""


@query("q_stream_stream_join", oracle=_STREAM_STREAM_ORACLE)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join (the one join class q_stream_join's
    stream-static shape does not cover): views joined to purchases by the
    same user within 30 minutes, both sides watermarked so the state
    store can evict rows older than the watermark plus the join range —
    the bounded-state contract that makes an unbounded two-stream join
    runnable forever at scale.

    With AvailableNow the whole fixture is one micro-batch (watermark
    state eviction never drops an in-batch match), so the emitted pairs
    equal the batch interval join and the per-user counts are
    oracle-exact. The aggregation runs AFTER the memory sink on the
    emitted pairs: an append-mode streaming aggregate over a non-windowed
    key would never finalize."""
    ev = _events_stream(spark, sf_dir).withColumn(
        "ts_t", F.timestamp_micros(F.col("ts_us"))
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts_t").alias("v_ts"),
            F.col("ts_us").alias("v_us"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts_t").alias("b_ts"),
            F.col("ts_us").alias("b_us"),
        )
        .withWatermark("b_ts", "1 hour")
    )
    pairs = views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("v_ts"))
        & (
            F.col("b_ts")
            <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    )
    out = available_now_to_memory(pairs, output_mode="append")
    return out.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("b_us") - F.col("v_us")).alias("total_delay_us"),
    )
