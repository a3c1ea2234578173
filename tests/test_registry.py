"""Registry invariants + the driver's t1 smoke check, replicated."""

import os

import pytest

from create_proposals_using_vector_db_public_spark.plans import ORACLES, QUERIES

SF_SMOKE = "/root/testdata/sf0.001"


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_registry_size_and_oracle_coverage():
    # SURVEY §2B requires both a queries() entry and an oracle for every
    # SQL-expressible operator; only streaming/UDF paths may be rows-only.
    rows_only = set(QUERIES) - set(ORACLES)
    assert all(
        n.startswith(("q_udf_", "q_multimodal_", "q_stream_dedup", "q_approx"))
        for n in rows_only
    ), f"unexpected rows-only queries: {rows_only}"
    assert len(QUERIES) >= 50


@pytest.mark.skipif(not os.path.isdir(SF_SMOKE), reason="driver testdata absent")
def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"vec_id", "dist", "cosine", "rank"} <= set(df.columns)


@pytest.mark.skipif(not os.path.isdir(SF_SMOKE), reason="driver testdata absent")
def test_queries_are_callable_signature():
    import __spark_entry__ as E

    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q)
    assert all(callable(fn) for fn in q.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())


def test_bench_headline_queries_are_registered():
    """bench.py's HEADLINE list must reference registered queries only — a
    registry rename would otherwise break the bench at run time, long
    after the rename commit."""
    from bench import HEADLINE

    assert set(HEADLINE) <= set(QUERIES), set(HEADLINE) - set(QUERIES)
