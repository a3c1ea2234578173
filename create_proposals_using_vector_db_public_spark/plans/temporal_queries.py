"""Temporal-join declared queries: as-of join and range join over the
events stream (both sides derived from events — users 0-149, January 2024).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import joins as J
from ..functions.money import money_sum, s_units
from ..sources import load_table
from .registry import query

_ASOF_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'purchase'
), signups AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id,
       round(p.value, 6) AS purchase_value,
       (SELECT max(s.ts_us) FROM signups s
        WHERE s.user_id = p.user_id AND s.ts_us <= p.ts_us) AS asof_signup_ts_us
FROM purchases p
"""


@query("q_asof_join", oracle=_ASOF_ORACLE)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase gets the timestamp of the latest
    signup-type event at-or-before it for the same user. Implemented with
    the union+window trick (operators.joins.asof_join) — one shuffle on
    user_id, no inequality join, scales to two huge tables."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_us", F.round("value", 6).alias("purchase_value")
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts_us").alias("signup_ts"), F.col("ts_us").alias("sts")
    )
    out = J.asof_join(
        purchases,
        signups,
        key_cols=["user_id"],
        left_ts="ts_us",
        right_ts="signup_ts",
        right_payload=["sts"],
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_value",
        F.col("asof_sts").alias("asof_signup_ts_us"),
    )


_RANGE_ORACLE = """
WITH windows AS (
  SELECT user_id, epoch_us(ts) AS w_start, epoch_us(ts) + 86400000000 AS w_end
  FROM events WHERE event_type = 'signup'
), errs AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error'
)
SELECT w.user_id, w.w_start, w.w_end,
       CAST(count(e.ts_us) AS BIGINT) AS n_errors
FROM windows w
LEFT JOIN errs e
  ON e.user_id = w.user_id AND e.ts_us >= w.w_start AND e.ts_us < w.w_end
GROUP BY w.user_id, w.w_start, w.w_end
"""


@query("q_range_join", oracle=_RANGE_ORACLE)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: error events counted inside each user's 24h post-signup
    window. Equality on user_id keeps it a hash join with the time range as
    a filter — never a nested loop."""
    e = load_table(spark, sf_dir, "events")
    windows = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts_us").alias("w_start"),
        (F.col("ts_us") + 86_400_000_000).alias("w_end"),
    )
    errs = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts_us").alias("e_ts")
    )
    out = J.range_join_count(
        windows,
        errs,
        key_cols=["user_id"],
        window_start="w_start",
        window_end="w_end",
        event_ts="e_ts",
        count_alias="n_errors",
    )
    return out


# --- gap fill + forward fill -------------------------------------------------

_GAP_FILL_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS d, value
  FROM events WHERE user_id % 97 = 0
), daily AS (
  SELECT event_type, d, round(sum(value), 4) AS v FROM e GROUP BY 1, 2
), bounds AS (
  SELECT min(d) AS lo, max(d) AS hi FROM e
), grid AS (
  SELECT t.event_type, CAST(g.gd AS DATE) AS d
  FROM (SELECT DISTINCT event_type FROM e) t,
       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS gd
        FROM bounds) g
), j AS (
  SELECT g.event_type, g.d, daily.v
  FROM grid g LEFT JOIN daily
    ON daily.event_type = g.event_type AND daily.d = g.d
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       v AS observed,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       v IS NULL AS is_gap
FROM j
"""


@query("q_gap_fill", oracle=_GAP_FILL_ORACLE)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: densify a sparse per-key daily series
    onto a complete date grid, then forward-fill observation gaps — the
    resample/ffill pass that precedes any windowed model feature. The
    grid comes from one sequence() over the global [min, max] date span
    crossed with the distinct key set (both tiny, both broadcast); the
    fill is last(ignorenulls) over an ordered per-key window. Leading
    gaps (before a key's first observation) stay null in both engines.

    Scale shape: the expensive side is the raw-event aggregation (one
    shuffle keyed (type, day)); the grid join is broadcast — a date grid
    is |keys| x |days| rows no matter how many trillions of raw events
    feed it, so densification costs nothing extra at 100 TB. The
    forward-fill window partitions by key — parallel, no global sort."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 97 == 0)
        .select("event_type", F.to_date("ts").alias("d"), "value")
    )
    daily = e.groupBy("event_type", "d").agg(
        F.round(F.sum("value"), 4).alias("v")
    )
    bounds = e.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    grid = days.crossJoin(e.select("event_type").distinct())
    j = grid.join(F.broadcast(daily), ["event_type", "d"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("v").alias("observed"),
        F.last("v", ignorenulls=True).over(w).alias("filled"),
        F.col("v").isNull().alias("is_gap"),
    )


# --- exponential smoothing (fixed-depth EWMA) --------------------------------
#
# Classic EWMA is a sequential recurrence (each value depends on the
# previous smoothed value) — inherently order-dependent float math that no
# two engines accumulate identically. The fixed-depth form used here
# truncates the tail (weights 2^-(j) over the last 8 observations), which
# (a) is what bounded-state streaming smoothers actually compute and
# (b) turns the numerator/denominator into INTEGER dot products:
# bit-exact, order-independent, one window pass.

_EWMA_DEPTH = 8

_EWMA_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS v100
  FROM events WHERE user_id < 40
), lagged AS (
  SELECT user_id, event_id, ts_us, v100,
         {", ".join(
             f"lag(v100, {j}) OVER w AS l{j}" for j in range(1, _EWMA_DEPTH)
         )}
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT user_id, event_id, ts_us,
       round((
         v100 * {2 ** (_EWMA_DEPTH - 1)}
         + {" + ".join(
             f"coalesce(l{j}, 0) * {2 ** (_EWMA_DEPTH - 1 - j)}"
             for j in range(1, _EWMA_DEPTH)
         )}
       ) / (
         {2 ** (_EWMA_DEPTH - 1)}
         + {" + ".join(
             f"CASE WHEN l{j} IS NULL THEN 0 ELSE {2 ** (_EWMA_DEPTH - 1 - j)} END"
             for j in range(1, _EWMA_DEPTH)
         )}
       ) / 100, 6) AS ewma
FROM lagged
"""


@query("q_ewma_smooth", oracle=_EWMA_ORACLE)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential smoothing over each user's last 8 events:
    weights halve with age ((1/2)^j, renormalized over the observations
    actually present at the start of a series). Numerator and denominator
    are integer dot products (cents x power-of-two weights), so the only
    float operation is one final division — identical IEEE inputs on both
    engines, then round(…, 6).

    Scale shape: one shuffle keyed by user, then a per-partition ordered
    window; depth-8 lag state is O(1) per row. The streaming twin is
    q_stream_stateful — same bounded-state idea under
    applyInPandasWithState."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_id",
            "ts_us",
            F.round(F.col("value") * 100).cast("bigint").alias("v100"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    lags = {j: F.lag("v100", j).over(w) for j in range(1, _EWMA_DEPTH)}
    num = F.col("v100") * F.lit(2 ** (_EWMA_DEPTH - 1))
    den = F.lit(2 ** (_EWMA_DEPTH - 1))
    for j, lj in lags.items():
        wgt = 2 ** (_EWMA_DEPTH - 1 - j)
        num = num + F.coalesce(lj, F.lit(0)) * F.lit(wgt)
        den = den + F.when(lj.isNull(), 0).otherwise(wgt)
    return e.select(
        "user_id",
        "event_id",
        "ts_us",
        F.round(num / den / 100, 6).alias("ewma"),
    )


# --- interval-overlap join ---------------------------------------------------

_HOUR_US = 3_600_000_000
_A_LEN_US = 30 * 60_000_000  # error window: 30 min
_B_LEN_US = 15 * 60_000_000  # purchase window: 15 min

_INTERVAL_OVERLAP_ORACLE = f"""
WITH a AS (
  SELECT user_id, event_id AS a_id,
         epoch_us(ts) AS a_start, epoch_us(ts) + {_A_LEN_US} AS a_end
  FROM events WHERE event_type = 'error'
), b AS (
  SELECT user_id, event_id AS b_id,
         epoch_us(ts) AS b_start, epoch_us(ts) + {_B_LEN_US} AS b_end
  FROM events WHERE event_type = 'purchase'
)
SELECT a.user_id, a.a_id, b.b_id,
       least(a.a_end, b.b_end) - greatest(a.a_start, b.b_start) AS overlap_us
FROM a JOIN b
  ON a.user_id = b.user_id
 AND a.a_start < b.b_end AND b.b_start < a.a_end
"""


@query("q_interval_overlap", oracle=_INTERVAL_OVERLAP_ORACLE)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: pairs of (error-window, purchase-window)
    intervals that intersect for the same user, with the exact overlap in
    integer µs. Without an equality key an overlap join degenerates to a
    nested-loop cross product; here both sides explode their interval into
    the fixed-width hour buckets it covers and hash-join on (user, bucket),
    with the inequality pair as a residual filter. A pair intersecting in
    several buckets is kept exactly once — in the bucket containing
    greatest(a_start, b_start) — so no post-join dedup shuffle is needed.
    Bucket fan-out is bounded by interval_len/bucket_width + 1 (≤2 here),
    so the exploded size is a small constant factor of the input at any
    scale; skewed users fall to AQE skew-join handling."""
    e = load_table(spark, sf_dir, "events")

    def windows(kind: str, length_us: int, id_alias: str, s: str, t: str):
        return (
            e.filter(F.col("event_type") == kind)
            .select(
                "user_id",
                F.col("event_id").alias(id_alias),
                F.col("ts_us").alias(s),
                (F.col("ts_us") + length_us).alias(t),
            )
            .withColumn(
                # integer `div`, never float division: a double quotient of
                # a ~1e15 µs timestamp can round across the bucket boundary
                "bucket",
                F.explode(
                    F.sequence(
                        F.expr(f"{s} div {_HOUR_US}"),
                        F.expr(f"({t} - 1) div {_HOUR_US}"),
                    )
                ),
            )
        )

    a = windows("error", _A_LEN_US, "a_id", "a_start", "a_end")
    b = windows("purchase", _B_LEN_US, "b_id", "b_start", "b_end")
    return (
        a.join(b, ["user_id", "bucket"])
        .filter(
            (F.col("a_start") < F.col("b_end"))
            & (F.col("b_start") < F.col("a_end"))
            # keep the pair only in its canonical bucket (no dedup pass)
            & (
                F.expr(f"greatest(a_start, b_start) div {_HOUR_US}")
                == F.col("bucket")
            )
        )
        .select(
            "user_id",
            "a_id",
            "b_id",
            (
                F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
            ).alias("overlap_us"),
        )
    )


# --- time-hierarchy rollup (hypertable-style continuous aggregate) ----------

_TIME_ROLLUP_ORACLE = """
SELECT strftime(date_trunc('year', o_orderdate), '%Y') AS order_year,
       strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
       CAST(count(*) AS BIGINT) AS order_cnt,
       (CAST(floor(sum(CAST(o_totalprice AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) - floor(sum(CAST(o_totalprice AS DECIMAL(14,2)))) AS DOUBLE))
         AS revenue,
       CAST(grouping(date_trunc('year', o_orderdate))
            + 2 * grouping(date_trunc('month', o_orderdate)) AS BIGINT)
         AS grouping_lvl
FROM orders
GROUP BY ROLLUP (date_trunc('year', o_orderdate),
                 date_trunc('month', o_orderdate))
"""


@query("q_time_rollup", oracle=_TIME_ROLLUP_ORACLE)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: one pass produces month totals, year
    subtotals, and the grand total (TimescaleDB's continuous-aggregate
    hierarchy) via ROLLUP on (year, month). Partial aggregation means the
    shuffle carries |months| × |partitions| rows regardless of table size;
    revenue is an exact money sum (the q_agg_basic discipline).
    At 100 TB the same plan back-fills a materialized rollup table
    incrementally — see q_incremental_agg for the delta-merge half."""
    o = load_table(spark, sf_dir, "orders")
    y = F.date_format(F.date_trunc("year", "o_orderdate"), "yyyy")
    m = F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
    return (
        o.select(y.alias("order_year"), m.alias("order_month"), "o_totalprice")
        .rollup("order_year", "order_month")
        .agg(
            F.count("*").alias("order_cnt"),
            money_sum(s_units("o_totalprice", 14, 2), 2).alias("revenue"),
            (
                F.grouping("order_year") + F.lit(2) * F.grouping("order_month")
            ).cast("bigint").alias("grouping_lvl"),
        )
    )
