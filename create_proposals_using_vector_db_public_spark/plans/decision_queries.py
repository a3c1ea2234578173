"""Remaining classic decision-support shapes — completes the TPC-H sweep
(Q3/Q6/Q7/Q9/Q10/Q11/Q13/Q16/Q19/Q21 analogues; Q1/Q2/Q4/Q5/Q8/Q12/Q14/
Q15/Q17/Q18/Q20/Q22 already live in relational/olap/subquery modules).

The reference is a document-search app (`/root/reference/app.py`), not an
OLAP engine; these are [extension] substrate per SURVEY §2B. The driver
star schema lacks partsupp/shipmode/commitdate/comment, so each query
keeps the *plan shape* that makes the original interesting on the columns
that exist:

- q_ship_priority    (Q3)  selective 3-way join → top-k of an aggregate
- q_forecast_revenue (Q6)  pure scan + scalar aggregate, zero joins
- q_nation_volume    (Q7)  bidirectional nation-pair flow per year
- q_product_profit   (Q9)  LIKE-filtered part join, profit per nation/year
- q_returned_items   (Q10) quarter × returnflag revenue, top-20 customers
- q_important_parts  (Q11) group value vs global scalar threshold
- q_order_dist       (Q13) left join preserving empty groups, double agg
- q_supplier_cnt     (Q16) count-distinct with NOT-IN exclusion set
- q_disjunct_filter  (Q19) OR-of-conjunctions predicate join
- q_waiting_supplier (Q21) EXISTS + NOT-EXISTS dual correlation

Float discipline (SURVEY §7 trap 5): money sums are exact
(``functions/money.py``: BIGINT units of the DECIMAL the oracle casts to;
the ranked or compared sums stay DECIMAL); the only doubles are single
per-row products (IEEE-identical on both engines) and final
divides/rounds performed with identical algebra in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import (
    REVENUE_UNITS, money_sum, revenue_decimal as _rev, s_units,
)
from ..sources import load_table
from .registry import query

# --- Q3 shape: shipping priority ----------------------------------------------

_SHIP_PRIORITY_ORACLE = """
SELECT l.l_orderkey,
       (CAST(floor(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6)))) AS DOUBLE) + CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) - floor(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6)))) AS DOUBLE)) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
           DESC,
         o.o_orderdate ASC, l.l_orderkey ASC
LIMIT 10
"""


@query("q_ship_priority", oracle=_SHIP_PRIORITY_ORACLE)
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: the 10 highest-revenue orders not yet shipped by the
    cutoff, for one market segment. Both date predicates push to the
    parquet scans; the segment filter shrinks customer BEFORE its
    broadcast; the only shuffle is lineitem⋈orders + the per-order
    aggregate. The top-10 runs on the aggregated (|orders|-sized) table as
    TakeOrderedAndProject — per-partition heaps, no global sort. Ordering
    is a TOTAL order (decimal revenue, orderdate, orderkey) so the cut is
    deterministic under ties at any partitioning."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left_semi")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev()).alias("rev"))
        .orderBy(
            F.col("rev").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
        .select(
            "l_orderkey",
            F.round(F.col("rev").cast("double"), 6).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


# --- Q6 shape: forecast revenue change ----------------------------------------

_FORECAST_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       (CAST(floor(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))) AS DOUBLE) + CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) - floor(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))) AS DOUBLE)) AS revenue_delta
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= CAST('0.05' AS DOUBLE)
  AND l_discount <= CAST('0.07' AS DOUBLE)
  AND l_quantity < 24
"""


@query("q_forecast_revenue", oracle=_FORECAST_ORACLE)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue that would have been kept had discounts in a
    band been dropped — a pure scan query: every predicate (date range,
    discount band, quantity cap) pushes to the parquet scan, there is no
    join, and the single scalar aggregate is one partial-agg tree reduce.
    This is the cheapest possible plan class and the canonical pushdown
    probe: at 100 TB the scan IS the query. The discount bounds compare
    double-to-double (fixture discounts are exact hundredth doubles;
    oracle casts its literals to DOUBLE so neither engine compares in
    decimal); the sum is exact (``money_sum`` over DECIMAL(18,6) units)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("n_lines"),
            money_sum(
                s_units("l_extendedprice * l_discount", 18, 6), 6
            ).alias("revenue_delta"),
        )
    )


# --- Q7 shape: bidirectional nation-pair volume -------------------------------

_NATION_VOLUME_ORACLE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       strftime(l.l_shipdate, '%Y') AS l_year,
       (CAST(floor(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6)))) AS DOUBLE) + CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) - floor(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6)))) AS DOUBLE)) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND ((sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_13')
       OR (sn.n_name = 'NATION_13' AND cn.n_name = 'NATION_12'))
GROUP BY supp_nation, cust_nation, l_year
"""


@query("q_nation_volume", oracle=_NATION_VOLUME_ORACLE)
def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipped revenue between two nations, split by
    direction and year. Same single-shuffle star profile as Q5/Q8: every
    dimension broadcasts, lineitem⋈orders on orderkey is the only real
    shuffle, and the date range prunes the fact scan. The bidirectional
    pair predicate applies after both nation joins — on broadcast hash
    joins that is a cheap post-join filter the optimizer can't push lower
    without losing the OR across sides."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    pair = (
        (F.col("supp_nation") == "NATION_12")
        & (F.col("cust_nation") == "NATION_13")
    ) | (
        (F.col("supp_nation") == "NATION_13")
        & (F.col("cust_nation") == "NATION_12")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("l_shipdate", "yyyy").alias("l_year"),
        )
        .agg(money_sum(REVENUE_UNITS, 6).alias("revenue"))
    )


# --- Q9 shape: product-line profit per nation/year ----------------------------

_PRODUCT_PROFIT_ORACLE = """
SELECT sn.n_name AS nation, strftime(o.o_orderdate, '%Y') AS o_year,
       (CAST(floor(sum(
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
         - CAST(0.1 * p.p_retailprice * l.l_quantity AS DECIMAL(18,6))
       )) AS DOUBLE) + CAST(sum(
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
         - CAST(0.1 * p.p_retailprice * l.l_quantity AS DECIMAL(18,6))
       ) - floor(sum(
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
         - CAST(0.1 * p.p_retailprice * l.l_quantity AS DECIMAL(18,6))
       )) AS DOUBLE)) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY nation, o_year
"""


@query("q_product_profit", oracle=_PRODUCT_PROFIT_ORACLE)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on one product line per supplier nation and
    order year. partsupp is absent from the driver schema, so supply cost
    is proxied as 10% of retail price × quantity — the *shape* survives:
    a LIKE-filtered part dimension broadcast against the fact table
    (filtering ~13% of parts before the join), profit as a per-row
    difference of two exact DECIMAL(18,6) unit values, one orderkey
    shuffle. Both profit terms are single per-row double products, taken
    to DECIMAL(18,6) units before the exact sum, with the identical
    left-associative algebra spelled in the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    cost = s_units("0.1D * p_retailprice * l_quantity", 18, 6)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == F.col("sn_key"))
        .groupBy(
            "nation", F.date_format("o_orderdate", "yyyy").alias("o_year")
        )
        .agg(
            money_sum(f"{REVENUE_UNITS} - {cost}", 6).alias("sum_profit")
        )
    )


# --- Q10 shape: returned-item reporting ---------------------------------------

_RETURNED_ITEMS_ORACLE = """
SELECT c.c_custkey, c.c_name,
       (CAST(floor(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6)))) AS DOUBLE) + CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) - floor(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6)))) AS DOUBLE)) AS revenue,
       round(CAST(CAST(c.c_acctbal AS DECIMAL(14,2)) AS DOUBLE), 2)
         AS c_acctbal,
       n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
           DESC,
         c.c_custkey ASC
LIMIT 20
"""


@query("q_returned_items", oracle=_RETURNED_ITEMS_ORACLE)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers who returned the most revenue in
    one quarter. The returnflag predicate prunes lineitem at the scan and
    the quarter predicate prunes orders; the orderkey join shuffles only
    survivors, then the per-customer aggregate groups on the customer key
    and the top-20 cut runs heap-based over the aggregated table with a
    total order (decimal revenue, then custkey). Customer/nation
    dimensions broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).alias("rev"))
        .orderBy(F.col("rev").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("rev").cast("double"), 6).alias("revenue"),
            F.round(
                F.col("c_acctbal").cast("decimal(14,2)").cast("double"), 2
            ).alias("c_acctbal"),
            "n_name",
        )
    )


# --- Q11 shape: important-part value vs global threshold ----------------------

_IMPORTANT_PARTS_ORACLE = """
WITH pv AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS v
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, round(CAST(v AS DOUBLE), 6) AS part_value
FROM pv
WHERE CAST(v AS DOUBLE) >
      1.2 * CAST((SELECT sum(v) FROM pv) AS DOUBLE)
          / (SELECT count(*) FROM pv)
"""


@query("q_important_parts", oracle=_IMPORTANT_PARTS_ORACLE)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value exceeds a global
    threshold (20% above the mean part value — SF-invariant, so the
    selection is non-vacuous at every scale: 38/326/3339 of the parts
    pass at sf0.001/0.01/0.1). The global total re-aggregates the
    already-aggregated |parts|-sized table into a 1-row broadcast —
    never a whole-table window over |parts| rows (parts is a big
    dimension at 100 TB, unlike the nation-bounded windows elsewhere).
    Measured plan caveat: with AQE off, Spark's static ReusedExchange
    dedupes the shared per-part groupBy exchange to ONE fact scan;
    under AQE the broadcast subtree replans separately and the
    three-column scan runs twice (verified on the executed plan) — at
    100 TB, persist() the |parts|-sized pv before branching, or accept
    2× column-pruned IO; the shuffle stays |parts|-bounded either way.
    Values stay DECIMAL through both aggregates; the threshold is
    derived with identical double algebra on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(F.sum(_rev()).alias("v"))
    tot = pv.agg(
        F.sum("v").alias("tv"), F.count("*").alias("np")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("v").cast("double")
            > F.lit(1.2) * F.col("tv").cast("double") / F.col("np")
        )
        .select(
            "l_partkey",
            F.round(F.col("v").cast("double"), 6).alias("part_value"),
        )
    )


# --- Q13 shape: customer order-count distribution -----------------------------

_ORDER_DIST_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS cnt
  FROM orders WHERE o_orderpriority <> '1-URGENT'
  GROUP BY o_custkey
)
SELECT CAST(COALESCE(cnt, 0) AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM customer c LEFT JOIN per_cust ON o_custkey = c_custkey
GROUP BY c_count
"""


@query("q_order_dist", oracle=_ORDER_DIST_ORACLE)
def q_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed how many (non-urgent)
    orders — including zero. Orders pre-aggregate to (custkey, count)
    BEFORE the join, so the left join shuffles |customers| + |customers|
    rows instead of |customers| + |orders| (the naive join-then-count
    form moves the whole fact table); customers with no qualifying
    orders survive the left join as count 0 — the empty-group semantics
    LEFT JOIN exists for. All-integer outputs: hash-exact by
    construction."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.join(per_cust, c["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# --- Q16 shape: supplier counts with an exclusion set -------------------------

_SUPPLIER_CNT_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 9, 19, 29, 39, 49)
  AND ps.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier
    WHERE s_acctbal < CAST('1000.0' AS DOUBLE)
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@query("q_supplier_cnt", oracle=_SUPPLIER_CNT_ORACLE)
def q_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can furnish each
    surviving (brand, type, size) bucket, excluding a blacklist (low
    account standing stands in for the complaint-comment scan; partsupp
    is proxied by observed lineitem pairs). The pair-distinct collapses
    the fact table to 16-byte keys before anything else; the NOT IN
    becomes a left-anti join against the tiny filtered supplier set; the
    part filters broadcast. Integer counts: hash-exact."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 9, 19, 29, 39, 49))
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000.0)
        .select("s_suppkey")
    )
    return (
        pairs.join(F.broadcast(bad), pairs["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), pairs["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# --- Q19 shape: disjunction of conjunctive predicates -------------------------

_DISJUNCT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       (CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6)))) AS DOUBLE) + CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) - floor(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6)))) AS DOUBLE)) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 11 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 26 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
"""


@query("q_disjunct_filter", oracle=_DISJUNCT_ORACLE)
def q_disjunct_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue over an OR of three conjunctive
    brand/size/quantity branches — the canonical disjunctive-predicate
    test. Catalyst derives the implied single-side filters (brand IN the
    three brands on part; quantity in the union range on lineitem) and
    pushes THOSE to the scans while the full cross-side disjunction
    applies after the broadcast join — pruning both inputs without
    breaking OR semantics. Sum stays decimal; one scalar output row."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    qty = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & qty.between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(11, 25)
            & qty.between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(26, 50)
            & qty.between(20, 50)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(branch)
        .agg(
            F.count("*").alias("n_lines"),
            money_sum(REVENUE_UNITS, 6).alias("revenue"),
        )
    )


# --- Q21 shape: the sole at-fault supplier per multi-supplier order -----------

_WAITING_ORACLE = """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s.s_name
"""


@query("q_waiting_supplier", oracle=_WAITING_ORACLE)
def q_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: for finished multi-supplier orders, count the
    returned lines of the supplier who was the ONLY one with returns
    (commitdate/receiptdate are absent, so returnflag='R' stands in for
    "kept the order waiting" — the EXISTS + NOT-EXISTS dual correlation
    survives intact, as the oracle states it literally). The engine
    decorrelates both quantifiers into ONE aggregate over the order's
    lines: count(distinct supp) > 1 ⇔ the EXISTS, count(distinct supp
    with R) = 1 ⇔ the NOT EXISTS given l1 is an R line — and because the
    at-fault supplier is then unique, max(R-supplier) recovers it and
    sum(R lines) recovers the line-level count, so the self-joins
    disappear entirely: one orderkey shuffle over (orderkey, suppkey,
    flag) triples, then a |suppliers|-sized count. The orders filter
    semi-joins before the aggregate."""
    ok = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    is_r = F.col("l_returnflag") == "R"
    per_order = (
        li.join(ok, li["l_orderkey"] == ok["o_orderkey"], "left_semi")
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("ns"),
            F.count_distinct(F.when(is_r, F.col("l_suppkey"))).alias("nr"),
            F.max(F.when(is_r, F.col("l_suppkey"))).alias("culprit"),
            F.sum(F.when(is_r, 1).otherwise(0)).alias("r_lines"),
        )
        .filter((F.col("ns") > 1) & (F.col("nr") == 1))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(
            F.broadcast(s), per_order["culprit"] == s["s_suppkey"]
        )
        .groupBy("s_name")
        .agg(F.sum("r_lines").cast("bigint").alias("numwait"))
    )
