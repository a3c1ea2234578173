"""Regression pins for the round-2 operator-review fixes: NULL payloads
through as-of joins, ties among as-of right rows, NULL distances in kNN
ranking, literal split delimiters, and PQ training over offset ids."""

from pyspark.sql import functions as F

from create_proposals_using_vector_db_public_spark.operators import (
    ingest as I,
    joins as J,
    knn as K,
)


def test_asof_join_null_payload_is_matched_not_skipped(spark):
    """A right row whose payload is genuinely NULL must WIN the as-of
    match (result NULL), not be skipped in favor of a stale earlier
    value."""
    left = spark.createDataFrame([(1, 30)], "k: long, lts: long")
    right = spark.createDataFrame(
        [(1, 10, "x"), (1, 20, None)], "k: long, rts: long, payload: string"
    )
    out = J.asof_join(
        left, right, key_cols=["k"], left_ts="lts", right_ts="rts",
        right_payload=["payload"],
    ).collect()
    assert len(out) == 1
    assert out[0]["asof_payload"] is None  # latest right row, NULL payload


def test_asof_join_before_first_right_row_is_null(spark):
    left = spark.createDataFrame([(1, 5)], "k: long, lts: long")
    right = spark.createDataFrame(
        [(1, 10, "x")], "k: long, rts: long, payload: string"
    )
    out = J.asof_join(
        left, right, ["k"], "lts", "rts", ["payload"]
    ).collect()
    assert out[0]["asof_payload"] is None


def test_asof_join_tied_right_rows_take_greatest_payload(spark):
    """Right rows that share (key, ts) are ordered by their payload tuple,
    so the greatest one wins on every run and partitioning."""
    left = spark.createDataFrame([(1, 30)], "k: long, lts: long")
    right = spark.createDataFrame(
        [(1, 10, "x", 7), (1, 10, "y", 3), (1, 10, "x", 9)],
        "k: long, rts: long, payload: string, seq: long",
    ).repartition(3)
    out = J.asof_join(
        left, right, ["k"], "lts", "rts", ["payload", "seq"]
    ).collect()
    assert (out[0]["asof_payload"], out[0]["asof_seq"]) == ("y", 3)


def test_knn_null_distance_ranks_last_not_first(spark):
    """A corpus row with a NULL embedding must not claim rank 1 and evict
    a true neighbor."""
    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, None),  # malformed row
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>"
    )
    query = spark.createDataFrame([([0.0, 0.0],)], "embedding: array<float>")
    out = K.knn(corpus, query, k=2).collect()
    ids = [r["vec_id"] for r in out]
    assert ids == [0, 1]  # the NULL row is not in the top-2


def test_split_paragraphs_literal_dot_delimiter(spark):
    df = spark.createDataFrame([("f", "a.b.c",)], "file_name: string, text: string")
    out = I.split_paragraphs(df, delim=".").collect()
    assert [r["paragraph"] for r in out] == ["a", "b", "c"]


def test_pq_train_works_with_offset_ids(spark):
    """Seeding must not assume ids are dense from 0."""
    rows = [(100 + i, [float(i), float(i + 1), 0.5 * i, 1.0]) for i in range(6)]
    corpus = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>"
    )
    cb = K.pq_train(corpus, n_sub=2, sub_dim=2, n_cent=2)
    got = cb.collect()
    # 2 subspaces x 2 centroids, none empty
    assert len(got) == 4
    assert all(len(r["cv"]) == 2 for r in got)
