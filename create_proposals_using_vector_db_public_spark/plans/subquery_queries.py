"""Correlated-subquery decorrelation suite (TPC-H Q4/Q17/Q20 shapes).

The reference's only "subquery" is the Python-level membership test at
``app.py:98-99`` (skip a paragraph when its key already exists). At engine
level that generalizes to the classic correlated-subquery family, which
Catalyst decorrelates into joins — the rewrite that decides whether a
100 TB plan is a hash join or a per-row re-scan. Each query here declares
the subquery shape on the Spark side as the *decorrelated* join form (the
plan we want), while the DuckDB oracle states the textbook correlated SQL —
proving the two are equivalent.

Scale notes per query; common theme: every correlated predicate becomes one
equi-join (semi or inner against a pre-aggregate), so the shuffle count is
fixed and partial aggregation keeps the shuffled bytes proportional to
|groups|, not |rows|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import money_sum, s_units
from ..sources import load_table
from .registry import query

# --- Q4 shape: correlated EXISTS → left-semi join ---------------------------

_EXISTS_CORR_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
"""


@query("q_exists_corr", oracle=_EXISTS_CORR_ORACLE)
def q_exists_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one lineitem shipped after the
    order date, counted by priority. The correlated EXISTS is expressed
    directly as a LEFT SEMI join with a mixed equi + range condition — the
    equi half (orderkey) drives the hash join, the range half is a residual
    filter, so the plan is one shuffle on orderkey at any scale (no per-row
    subquery re-execution, no nested loop)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


# --- Q17 shape: correlated scalar AVG → join against a pre-aggregate --------

# Threshold derived from exact integer-in-double sums (sum/count of small
# quantities are exact in IEEE double, and the single division is performed
# identically on both engines) — so the `<` comparison can never flip on
# summation order.
_AVG_SUBQUERY_ORACLE = """
SELECT p.p_brand,
       round((CAST(floor(sum(CAST(l.l_extendedprice AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))) - floor(sum(CAST(l.l_extendedprice AS DECIMAL(14,2)))) AS DOUBLE))
             / 7.0, 6) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand IN ('Brand#1', 'Brand#2')
  AND l.l_quantity < (
    SELECT 0.5 * ((CAST(floor(sum(CAST(l2.l_quantity AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(l2.l_quantity AS DECIMAL(14,2))) - floor(sum(CAST(l2.l_quantity AS DECIMAL(14,2)))) AS DOUBLE))
                  / count(*))
    FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
  )
GROUP BY p.p_brand
"""


@query("q_avg_subquery", oracle=_AVG_SUBQUERY_ORACLE)
def q_avg_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders, where "small"
    is defined per part as half that part's average quantity. The
    correlated scalar subquery is decorrelated by hand into a per-part
    pre-aggregate joined back on partkey: one partial-agg shuffle over
    (partkey) pairs plus one equi-join — vs. the naive plan's per-row
    re-scan of lineitem. The brand dimension is broadcast. The threshold is
    computed from exact money sums so Spark and DuckDB agree to the last
    bit (SURVEY §7 trap 5)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2")
    )
    per_part = li.groupBy("l_partkey").agg(
        (
            0.5
            * (
                money_sum(s_units("l_quantity", 14, 2), 2)
                / F.count("*")
            )
        ).alias("qty_threshold")
    )
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(per_part, on="l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
    )
    return joined.groupBy("p_brand").agg(
        F.round(
            money_sum(s_units("l_extendedprice", 14, 2), 2)
            / 7.0,
            6,
        ).alias("avg_yearly")
    )


# --- Q20 shape: nested IN with an aggregated HAVING threshold ---------------

_NESTED_IN_ORACLE = """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  WHERE l.l_partkey IN (
    SELECT p_partkey FROM part WHERE p_size >= 40
  )
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING sum(CAST(l.l_quantity AS DECIMAL(14,2))) > 80
)
"""


@query("q_nested_in", oracle=_NESTED_IN_ORACLE)
def q_nested_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers that moved a significant quantity of
    large parts. Two nested INs decorrelate to two semi-joins around one
    aggregate: the part filter broadcasts into a semi-join *before* the
    groupBy (pruning rows pre-shuffle), the (suppkey, partkey) aggregate
    shuffles only the surviving pairs, and the outer IN is a semi-join
    against the small distinct-suppkey set. Quantity accumulates in exact
    decimals so the HAVING threshold cannot flip on summation order."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    big_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 40)
        .select("p_partkey")
    )
    qualifying = (
        li.join(
            F.broadcast(big_parts),
            li["l_partkey"] == big_parts["p_partkey"],
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(14,2)")).alias("qty"))
        .filter(F.col("qty") > 80)
        .select("l_suppkey")
        # no .distinct(): left-semi probe ignores duplicate build-side keys,
        # so deduplicating here would only add an exchange + aggregate
    )
    return s.join(
        qualifying, s["s_suppkey"] == qualifying["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")
