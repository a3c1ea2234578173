"""Classic OLAP decision-support shapes (TPC-H Q2/Q8/Q12/Q14/Q15/Q18/Q22
analogues, adapted to the driver star schema — no partsupp/shipmode/phone
columns exist, so each query keeps the *shape* on the columns we have).

The reference is a document-search app, not an OLAP engine; these are
[extension] substrate per SURVEY §2B — the relational query surface a user
of a general engine expects, each chosen for a distinct plan pattern:

- q_top_revenue   (Q15) global-max-of-aggregate re-joined to its group
- q_large_orders  (Q18) HAVING-filtered aggregate semi-driving a join
- q_min_cost_supplier (Q2) per-group argmin via total-order window
- q_cust_no_orders (Q22) scalar-average threshold + anti-join
- q_promo_share   (Q14) conditional-aggregate ratio per group
- q_priority_mix  (Q12) join then conditional counts
- q_market_share  (Q8)  multiway star join + share-of-total ratio

Float discipline (SURVEY §7 trap 5): every money aggregate is exact, so
comparisons/equality can never flip on summation order: a compared or
windowed sum stays DECIMAL, a reported one is ``functions/money.py``'s
BIGINT-unit sum. The only doubles are single per-row products
(IEEE-identical on both engines) and one final divide/round performed with
identical algebra in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import (
    REVENUE_UNITS, money_double, money_sum, revenue_decimal as _rev, s_units,
)
from ..operators import selection as S
from ..sources import load_table
from .registry import query

# --- Q15 shape: top-revenue supplier(s) --------------------------------------

_TOP_REVENUE_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-07-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, round(CAST(rev.r AS DOUBLE), 6) AS total_revenue
FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
WHERE rev.r = (SELECT max(r) FROM rev)
"""


@query("q_top_revenue", oracle=_TOP_REVENUE_ORACLE)
def q_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose half-year revenue equals the
    global maximum. The revenue view aggregates once (partial agg keeps
    the shuffle at |suppliers| rows); the global max is a whole-table
    window over that ALREADY-AGGREGATED |suppliers|-sized table — a
    separate rev.agg(max) branch would recompute rev's whole lineage and
    scan lineitem twice (the first cut did; the captured plan showed two
    fact scans with no exchange reuse) — and the supplier join is
    broadcast. One fact scan, one real shuffle, at any scale. Revenue
    stays DECIMAL end-to-end: the max-equality can never miss on float
    summation order (ties return every tied supplier, same as the spec)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("r"))
    top = rev.withColumn(
        "r_max", F.max("r").over(Window.partitionBy())
    ).filter(F.col("r") == F.col("r_max"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        top.join(F.broadcast(s), top["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("r").cast("double"), 6).alias("total_revenue"),
        )
    )


# --- Q18 shape: large-volume orders ------------------------------------------

_LARGE_ORDERS_ORACLE = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) AS DOUBLE), 2)
         AS o_totalprice,
       round(CAST(q.sum_qty AS DOUBLE), 2) AS sum_qty
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(14,2))) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(14,2))) > 170
) q ON q.l_orderkey = o.o_orderkey
"""


@query("q_large_orders", oracle=_LARGE_ORDERS_ORACLE)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, with their customer. The HAVING aggregate runs FIRST and
    shrinks lineitem to the few qualifying orderkeys before any join —
    at 100 TB the order/customer joins then see only the survivors
    (threshold 170 keeps the result non-empty yet selective at every SF:
    max possible sum is ~7 lines × 50 qty). Quantity accumulates in
    DECIMAL so the threshold comparison is order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(14,2)")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 170)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(
                F.col("o_totalprice").cast("decimal(14,2)").cast("double"), 2
            ).alias("o_totalprice"),
            F.round(F.col("sum_qty").cast("double"), 2).alias("sum_qty"),
        )
    )


# --- Q2 shape: per-part argmin supplier --------------------------------------

_MIN_COST_ORACLE = """
SELECT p_partkey, s_suppkey, s_acctbal FROM (
  SELECT p.p_partkey, s.s_suppkey, s.s_acctbal,
         row_number() OVER (
           PARTITION BY p.p_partkey
           ORDER BY s.s_acctbal ASC, s.s_suppkey ASC
         ) AS rn
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
  JOIN part p ON p.p_partkey = ps.l_partkey
  JOIN supplier s ON s.s_suppkey = ps.l_suppkey
  WHERE p.p_size >= 45
) t WHERE rn = 1
"""


@query("q_min_cost_supplier", oracle=_MIN_COST_ORACLE)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each large part, the cheapest supplier that has
    ever shipped it (the driver schema has no partsupp, so observed
    (partkey, suppkey) pairs from lineitem stand in for it; s_acctbal
    stands in for ps_supplycost). The correlated MIN decorrelates into a
    row_number window over a TOTAL order (acctbal, then suppkey) so ties
    are deterministic — the ADVICE r1 keep_first lesson. Pair distinct
    happens before the joins (shuffle carries 16-byte pairs, not rows);
    part filter + supplier dim are broadcast."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 45)
    s = load_table(spark, sf_dir, "supplier")
    joined = pairs.join(
        F.broadcast(p), pairs["l_partkey"] == p["p_partkey"]
    ).join(F.broadcast(s), pairs["l_suppkey"] == s["s_suppkey"])
    order = [F.col("s_acctbal").asc(), F.col("s_suppkey").asc()]
    return S.top_k_per(joined, ["p_partkey"], order, 1).select(
        "p_partkey", "s_suppkey", "s_acctbal"
    )


# --- Q22 shape: wealthy customers with no orders ------------------------------

_NO_ORDERS_ORACLE = """
WITH threshold AS (
  SELECT (CAST(floor(sum(CAST(c_acctbal AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) - floor(sum(CAST(c_acctbal AS DECIMAL(14,2)))) AS DOUBLE)) / count(*)
           AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
       (CAST(floor(sum(CAST(c.c_acctbal AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(c.c_acctbal AS DECIMAL(14,2))) - floor(sum(CAST(c.c_acctbal AS DECIMAL(14,2)))) AS DOUBLE))
         AS total_bal
FROM customer c, threshold t
WHERE c.c_acctbal > t.avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c.c_mktsegment
"""


@query("q_cust_no_orders", oracle=_NO_ORDERS_ORACLE)
def q_cust_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers richer than the positive-balance average
    with no orders since 2000 (every fixture customer has *some* order, so
    the literal "never ordered" form is vacuous at small SF — a recency
    window keeps the anti-join non-trivial at every SF: 5/55/646 rows),
    grouped by segment. The scalar-average subquery becomes a 1-row
    broadcast cross join (avg derived from an exact money sum / count with
    one double divide, identical algebra in the oracle); the NOT EXISTS
    becomes a left-anti join on custkey. At scale: the anti-join is the
    only shuffle — the threshold filter runs before it, so only wealthy
    customers' keys move, and the date filter prunes the orders side at
    the scan."""
    c = load_table(spark, sf_dir, "customer")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            money_sum(s_units("c_acctbal", 14, 2), 2) / F.count("*")
        ).alias("avg_bal")
    )
    o_keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    wealthy = c.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    return (
        wealthy.join(
            o_keys, wealthy["c_custkey"] == o_keys["o_custkey"], "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            money_sum(s_units("c_acctbal", 14, 2), 2).alias("total_bal"),
        )
    )


# --- Q14 shape: promo revenue share per month ---------------------------------

_PROMO_SHARE_ORACLE = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       round(
         100.0 * (CAST(floor(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
               ELSE CAST(0 AS DECIMAL(18,6)) END)) AS DOUBLE) + CAST(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
               ELSE CAST(0 AS DECIMAL(18,6)) END) - floor(sum(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
               ELSE CAST(0 AS DECIMAL(18,6)) END)) AS DOUBLE))
         / (CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6)))) AS DOUBLE) + CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) - floor(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6)))) AS DOUBLE)),
         6) AS promo_share
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY ship_month
"""


@query("q_promo_share", oracle=_PROMO_SHARE_ORACLE)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percent of revenue from PROMO parts, per ship
    month. Conditional aggregation — one scan, one broadcast join against
    part, both the numerator and denominator are exact money sums in the
    same groupBy, and the percentage is one double divide per group
    (12 groups). date_format on a TIMESTAMP_NTZ column is timezone-free on
    both engines (SURVEY §7.1 environment lesson)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = f"CASE WHEN p_type = 'PROMO' THEN {REVENUE_UNITS} ELSE 0 END"
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                100.0 * money_sum(promo, 6) / money_sum(REVENUE_UNITS, 6),
                6,
            ).alias("promo_share")
        )
    )


# --- Q12 shape: priority mix per return flag ----------------------------------

_PRIORITY_MIX_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-07-01'
GROUP BY l_returnflag
"""


@query("q_priority_mix", oracle=_PRIORITY_MIX_ORACLE)
def q_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode column absent — returnflag carries the
    grouping): per flag, how many shipped lines belong to high- vs
    low-priority orders. The orders side projects to (key, priority)
    before the join, the date filter prunes lineitem at the scan
    (PushedFilters), and the conditional counts are pure integer sums —
    no float anywhere. One join shuffle + one 3-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --- Q8 shape: nation market share within a region ----------------------------

_MARKET_SHARE_ORACLE = """
SELECT order_year,
       round((CAST(floor(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev
                           ELSE CAST(0 AS DECIMAL(18,6)) END)) AS DOUBLE) + CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev
                           ELSE CAST(0 AS DECIMAL(18,6)) END) - floor(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev
                           ELSE CAST(0 AS DECIMAL(18,6)) END)) AS DOUBLE))
             / (CAST(floor(sum(rev)) AS DOUBLE) + CAST(sum(rev) - floor(sum(rev)) AS DOUBLE)), 6) AS mkt_share
FROM (
  SELECT strftime(o.o_orderdate, '%Y') AS order_year,
         sn.n_name AS supp_nation,
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS rev
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA'
) t
GROUP BY order_year
"""


@query("q_market_share", oracle=_MARKET_SHARE_ORACLE)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1's share of supplier revenue among orders
    placed by customers of region ASIA, per order year. Seven-table star:
    every dimension (customer, both nation roles, region, supplier) is
    broadcast, so the only shuffle is lineitem⋈orders on orderkey — the
    same single-shuffle profile as q_join_multiway (Q5). Revenue is
    decimal; the share is one double divide per year group."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r["r_regionkey"], "left_semi")
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
    )
    return (
        joined.select(
            F.date_format("o_orderdate", "yyyy").alias("order_year"),
            F.col("supp_nation"),
            F.expr(REVENUE_UNITS).alias("rev"),
        )
        .groupBy("order_year")
        .agg(
            F.round(
                money_sum(
                    "CASE WHEN supp_nation = 'NATION_1' THEN rev ELSE 0 END", 6
                )
                / money_sum("rev", 6),
                6,
            ).alias("mkt_share")
        )
    )


# --- SQL surface: the same text runs on both engines --------------------------

_NATION_RANK_TEMPLATE = """
WITH nat_rev AS (
  SELECT n.n_name, n.n_regionkey,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
           AS rev
  FROM {lineitem} l
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {nation} n ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name, n.n_regionkey
)
SELECT r.r_name, nr.n_name,
       (CAST(floor(nr.rev) AS DOUBLE) + CAST(nr.rev - floor(nr.rev) AS DOUBLE)) AS revenue,
       CAST(rank() OVER (
         PARTITION BY r.r_name ORDER BY nr.rev DESC, nr.n_name ASC
       ) AS INTEGER) AS rk
FROM nat_rev nr JOIN {region} r ON r.r_regionkey = nr.n_regionkey
"""

_SQL_TABLES = ("lineitem", "supplier", "nation", "region")


@query(
    "q_sql_interface",
    oracle=_NATION_RANK_TEMPLATE.format(**{t: t for t in _SQL_TABLES}),
)
def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point: registers the star schema as temp
    views and executes ONE ANSI-SQL text through spark.sql() — the same
    text the DuckDB oracle runs, so this query proves the DataFrame
    registry and the SQL surface are the same engine (nation revenue
    ranked within region, decimal-exact, total-order rank tie-break).
    The Spark views follow the repo's __-prefix isolation convention
    (bare names like `lineitem` would linger session-globally and
    silently pin one sf_dir's data for any later bare-name resolution),
    so the shared text is a template instantiated with bare names for
    DuckDB and namespaced views for Spark — identical SQL modulo the
    deterministic table-name substitution."""
    for t in _SQL_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(
            f"__sqlsurface_{t}"
        )
    return spark.sql(
        _NATION_RANK_TEMPLATE.format(
            **{t: f"__sqlsurface_{t}" for t in _SQL_TABLES}
        )
    )


# --- period-over-period growth ------------------------------------------------

_YOY_ORACLE = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
  FROM orders GROUP BY order_month
)
SELECT order_month,
       (CAST(floor(rev) AS DOUBLE) + CAST(rev - floor(rev) AS DOUBLE)) AS revenue,
       round((CAST(floor(rev) AS DOUBLE) + CAST(rev - floor(rev) AS DOUBLE))
             / (CAST(floor(lag(rev, 1) OVER (ORDER BY order_month)) AS DOUBLE) + CAST(lag(rev, 1) OVER (ORDER BY order_month) - floor(lag(rev, 1) OVER (ORDER BY order_month)) AS DOUBLE)),
             6) AS mom_ratio,
       round((CAST(floor(rev) AS DOUBLE) + CAST(rev - floor(rev) AS DOUBLE))
             / (CAST(floor(lag(rev, 12) OVER (ORDER BY order_month)) AS DOUBLE) + CAST(lag(rev, 12) OVER (ORDER BY order_month) - floor(lag(rev, 12) OVER (ORDER BY order_month)) AS DOUBLE)),
             6) AS yoy_ratio
FROM monthly
"""


@query("q_yoy_growth", oracle=_YOY_ORACLE)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: monthly revenue with month-over-month
    and year-over-year ratios via lag(1)/lag(12) windows. The aggregate
    collapses orders to |months| rows FIRST, so the global-order window
    (unavoidable for a calendar series) sorts dozens of rows, never the
    fact table; leading periods yield NULL ratios, as the spec demands.
    Revenue accumulates in DECIMAL; each ratio is one double divide
    performed identically on both engines."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev"))
    w = Window.orderBy("order_month")
    rev_d = money_double(F.col("rev"))
    return monthly.select(
        "order_month",
        rev_d.alias("revenue"),
        F.round(rev_d / money_double(F.lag("rev", 1).over(w)), 6).alias(
            "mom_ratio"
        ),
        F.round(rev_d / money_double(F.lag("rev", 12).over(w)), 6).alias(
            "yoy_ratio"
        ),
    )


# --- hierarchical contribution (percent-of-parent) ----------------------------

_SHARE_ORACLE = """
WITH nat AS (
  SELECT r.r_name, n.n_name,
         sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name,
       (CAST(floor(rev) AS DOUBLE) + CAST(rev - floor(rev) AS DOUBLE)) AS revenue,
       round((CAST(floor(rev) AS DOUBLE) + CAST(rev - floor(rev) AS DOUBLE))
             / (CAST(floor(sum(rev) OVER (PARTITION BY r_name)) AS DOUBLE) + CAST(sum(rev) OVER (PARTITION BY r_name) - floor(sum(rev) OVER (PARTITION BY r_name)) AS DOUBLE)),
             6) AS share_of_region,
       round((CAST(floor(sum(rev) OVER (PARTITION BY r_name)) AS DOUBLE) + CAST(sum(rev) OVER (PARTITION BY r_name) - floor(sum(rev) OVER (PARTITION BY r_name)) AS DOUBLE))
             / (CAST(floor(sum(rev) OVER ()) AS DOUBLE) + CAST(sum(rev) OVER () - floor(sum(rev) OVER ()) AS DOUBLE)),
             6) AS region_share_of_total
FROM nat
"""


@query("q_share_of_parent", oracle=_SHARE_ORACLE)
def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical contribution analysis: each nation's share of its
    region's revenue and each region's share of the total — the
    percent-of-parent drill-down behind every BI treemap. Both parent
    totals are window sums over the ALREADY-AGGREGATED (region, nation)
    table (|nations| rows — the whole-table window is dimension-bounded,
    never fact-bounded), so the fact table is scanned once and shuffled
    once; dimensions broadcast. Revenue in exact DECIMAL; each share is
    one double divide with identical algebra in the oracle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nat = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev"))
    )
    by_region = Window.partitionBy("r_name")
    overall = Window.partitionBy()
    rev_d = money_double(F.col("rev"))
    region_d = money_double(F.sum("rev").over(by_region))
    total_d = money_double(F.sum("rev").over(overall))
    return nat.select(
        "r_name",
        "n_name",
        rev_d.alias("revenue"),
        F.round(rev_d / region_d, 6).alias("share_of_region"),
        F.round(region_d / total_d, 6).alias("region_share_of_total"),
    )
