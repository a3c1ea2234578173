"""Temporal join operators Spark's API lacks as primitives: as-of join and
range join, composed from equality shuffles + windows so they scale.

Neither exists in the reference (SURVEY §2B "considered and excluded" for
its literal surface), but both are core training-data-pipeline operations
(feature lookup at example time; windowed context attachment) — part of the
north-star operator family.

**as-of join** — the union trick, not a range join: tag both sides, union,
sort each key group by (ts, side), and carry the last non-null right
payload forward. One shuffle on the key, windows stream; no pair-space
blowup, no inequality join. This is how you as-of-join two 10-TB tables.

**range join** — equality key + bounded time predicate. With the equality
key in the join condition Spark uses a hash/sort-merge join and applies the
range as a post-filter; the window length bounds the fan-out. Without an
equality key you'd get a nested-loop — always block by key or bucketed
time first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """For every left row, attach the payload of the latest right row with
    ``right_ts <= left_ts`` in the same key group (backward as-of).

    Rows order as (ts, right-before-left, payload) so a right row at
    exactly left_ts is matched — the `<=` convention. When several right
    rows share (key, ts), the payload columns complete the ordering, so
    the row with the greatest payload tuple wins deterministically on
    every run/partitioning (payload types must be orderable).

    Payloads are carried through the window inside a single-field struct so
    a right row whose payload is genuinely NULL still *matches* (the
    result is that NULL, not a stale earlier value) — ``last(ignorenulls)``
    skips only the left rows' placeholder structs, never a real right row.
    """
    lcols = [c for c in left.columns]

    def wrap_null(c: str) -> Column:
        dt = right.schema[c].dataType.simpleString()
        return F.lit(None).cast(f"struct<v:{dt}>").alias(f"__r_{c}")

    l = left.select(
        *key_cols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols if c not in key_cols and c != left_ts],
        *[wrap_null(c) for c in right_payload],
    )
    r = right.select(
        *key_cols,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in key_cols and c != left_ts],
        *[F.struct(F.col(c).alias("v")).alias(f"__r_{c}")
          for c in right_payload],
    )
    u = l.unionByName(r)
    # total order among tied right rows: last() then deterministically
    # carries the greatest payload tuple (left rows' placeholder structs
    # are NULL and sort first; a right row's struct is always non-null even
    # when the payload inside it is)
    order = [
        F.col("__ts").asc(),
        F.col("__side").asc(),
        *[F.col(f"__r_{c}").asc_nulls_first() for c in right_payload],
    ]
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True)
            .over(w)
            .getField("v")
            .alias(f"asof_{c}")
            for c in right_payload
        ],
    )
    out = filled.filter(F.col("__side") == 1).drop(
        "__side", *[f"__r_{c}" for c in right_payload]
    )
    return out.withColumnRenamed("__ts", left_ts)


def range_join_count(
    windows: DataFrame,
    events: DataFrame,
    key_cols: list[str],
    window_start: str,
    window_end: str,
    event_ts: str,
    count_alias: str = "n_events",
) -> DataFrame:
    """Count events falling inside each keyed [start, end) window.

    The equality on key_cols makes this a shuffled hash join with the range
    as a filter; fan-out is bounded by events-per-key-per-window.
    """
    cond = [events[k] == windows[k] for k in key_cols]
    cond.append(events[event_ts] >= windows[window_start])
    cond.append(events[event_ts] < windows[window_end])
    joined = windows.join(events, cond, "left")
    group = [windows[k] for k in key_cols] + [
        windows[window_start],
        windows[window_end],
    ]
    return joined.groupBy(*group).agg(
        F.count(events[event_ts]).alias(count_alias)
    )
