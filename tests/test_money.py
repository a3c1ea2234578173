"""Money sums in BIGINT units (``functions/money.py``): an overflowing
accumulator fails the query, and only the money module sums money as
decimals. The per-value properties are in ``test_properties.py``."""

import ast
import glob
import os
import re

import pytest
from pyspark.errors import PySparkException

from create_proposals_using_vector_db_public_spark.functions import money as M

# Sums kept on decimals: the decimal value itself is used, so the units
# sum (which yields the reported double) cannot replace it.
DECIMAL_SUMS = {
    ("decision_queries", "q_ship_priority"):
        "the top-10 cut orders by the exact decimal revenue",
    ("decision_queries", "q_returned_items"):
        "the top-20 cut orders by the exact decimal revenue",
    ("decision_queries", "q_important_parts"):
        "per-part decimals are re-summed into the global threshold",
    ("olap_queries", "q_top_revenue"):
        "max-equality over the per-supplier decimal revenue",
    ("olap_queries", "q_large_orders"):
        "HAVING sum_qty > 170 compares the decimal quantity",
    ("olap_queries", "q_yoy_growth"):
        "lag windows read the monthly decimal, one money_double per value",
    ("olap_queries", "q_share_of_parent"):
        "window sums re-aggregate the per-nation decimals",
    ("subquery_queries", "q_nested_in"):
        "HAVING qty > 80 compares the decimal quantity",
    ("relational_queries", "q_outer"):
        "a direct decimal-to-double cast, not money_double's split",
    ("scale_queries", "q_incremental_agg"):
        "decimal partial state is re-aggregated with the delta",
    ("knn", "kmeans_update"):
        "DECIMAL(27,10) centroid component sums, cast directly to double",
    ("knn", "pq_train"):
        "DECIMAL(27,10) codeword component sums, cast directly to double",
    ("profiling_queries", "q_anomaly"):
        "DECIMAL(38,0) moments of integer values, compared exactly",
}

_SQL_DECIMAL_SUM = re.compile(r"sum\s*\(\s*cast\b.*\bas\s+decimal\s*\(", re.I | re.S)


def test_money_is_summed_only_in_units():
    """Among ``operators/`` and ``plans/``, a ``sum`` over a ``decimal(``
    cast (in a Column, through a local name, a ``revenue_decimal()`` call
    or SQL text) or a ``money_double(F.sum(...))`` occurs only in the
    ``DECIMAL_SUMS`` functions, and each of those still has one. Money
    sums go through ``money.money_sum`` over ``money.s_units``. Read from
    the source, so no Spark session is needed."""

    def name(node):
        if isinstance(node, ast.Attribute):
            return node.attr
        return node.id if isinstance(node, ast.Name) else None

    def call_name(node):
        return name(node.func) if isinstance(node, ast.Call) else None

    pkg = os.path.dirname(os.path.dirname(M.__file__))
    found = set()
    for layer in ("operators", "plans"):
        for path in sorted(glob.glob(os.path.join(pkg, layer, "*.py"))):
            with open(path) as f:
                tree = ast.parse(f.read())
            module = os.path.basename(path)[: -len(".py")]
            aliases = {
                a.asname or a.name: a.name
                for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
                for a in n.names
            }
            for top in tree.body:
                if not isinstance(top, ast.FunctionDef):
                    continue
                nodes = list(ast.walk(top))
                local = {
                    n.targets[0].id: n.value for n in nodes
                    if isinstance(n, ast.Assign) and len(n.targets) == 1
                    and isinstance(n.targets[0], ast.Name)
                }

                def decimal(node, seen=()):
                    for n in ast.walk(node):
                        if (
                            isinstance(n, ast.Constant)
                            and isinstance(n.value, str)
                            and n.value.lower().startswith("decimal(")
                        ):
                            return True
                        if aliases.get(call_name(n)) == "revenue_decimal":
                            return True
                        if (
                            isinstance(n, ast.Name) and n.id in local
                            and n.id not in seen
                            and decimal(local[n.id], (*seen, n.id))
                        ):
                            return True
                    return False

                for n in nodes:
                    sums = call_name(n) == "sum" and any(map(decimal, n.args))
                    wraps = call_name(n) == "money_double" and any(
                        call_name(a) == "sum" for a in n.args
                    )
                    sql = (
                        isinstance(n, ast.Constant) and isinstance(n.value, str)
                        and _SQL_DECIMAL_SUM.search(n.value)
                    )
                    if sums or wraps or sql:
                        found.add((module, top.name))
    assert found == set(DECIMAL_SUMS)


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_money_sum_overflow_fails_the_query(spark, ansi):
    """Σhi of 200 × 9e16 leaves BIGINT range: the query fails under either
    ANSI mode (a DECIMAL sum with ANSI off returned NULL instead), while
    the sums that fit are exact."""
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        rows = spark.range(400).selectExpr(
            "id % 2 AS g",
            "CASE WHEN id % 2 = 0 THEN 9000000000000000000L ELSE -150L END AS u",
        )
        ok = rows.filter("g = 1").agg(M.money_sum("u", 2).alias("s")).collect()
        assert ok[0]["s"] == -300.0
        with pytest.raises(PySparkException, match="money sum overflows BIGINT"):
            rows.groupBy("g").agg(M.money_sum("u", 2).alias("s")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def test_money_sum_of_no_rows_is_null(spark):
    df = spark.createDataFrame([(1.25,)], "x double").filter("x < 0")
    u = M.s_units("x", 14, 2)
    row = df.agg(M.money_sum(u, 2).alias("s")).collect()[0]
    assert row["s"] is None
