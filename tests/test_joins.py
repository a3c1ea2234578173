"""Temporal join semantics: as-of backward match incl. equal-ts ties."""

from create_proposals_using_vector_db_public_spark.operators import joins as J


def test_asof_backward_with_ties(spark):
    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 50, "p0"), (2, 10, "p2")],
        "user: long, ts: long, name: string",
    )
    right = spark.createDataFrame(
        [(1, 40, 400), (1, 100, 1000), (1, 120, 1200), (2, 20, 2000)],
        "user: long, rts: long, payload: long",
    )
    out = J.asof_join(left, right, ["user"], "ts", "rts", ["payload"])
    got = {r["name"]: r["asof_payload"] for r in out.collect()}
    assert got["p0"] == 400     # latest right at-or-before 50 is ts=40
    assert got["p1"] == 1000    # right at EXACTLY 100 matches (<= semantics)
    assert got["p2"] is None    # no right before ts=10


def test_range_join_count(spark):
    windows = spark.createDataFrame(
        [(1, 0, 100), (1, 200, 300), (2, 0, 100)],
        "user: long, w_start: long, w_end: long",
    )
    events = spark.createDataFrame(
        [(1, 10), (1, 99), (1, 100), (1, 250), (2, 500)],
        "user: long, e_ts: long",
    )
    out = J.range_join_count(
        windows, events, ["user"], "w_start", "w_end", "e_ts"
    )
    got = {(r["user"], r["w_start"]): r["n_events"] for r in out.collect()}
    assert got[(1, 0)] == 2      # 10, 99 in [0,100); 100 excluded
    assert got[(1, 200)] == 1
    assert got[(2, 0)] == 0      # left join keeps empty windows
