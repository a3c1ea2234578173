import math

from pyspark.sql import functions as F

from create_proposals_using_vector_db_public_spark.functions import vectors as V


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).head()["v"]


def test_dot_l2_cosine(spark):
    a = V.s_vec_lit([1.0, 2.0, 2.0])
    b = V.s_vec_lit([2.0, 0.0, 1.0])
    assert _one(spark, V.dot(a, b)) == 4.0
    assert _one(spark, V.l2_norm(a)) == 3.0
    assert math.isclose(_one(spark, V.l2_dist(a, b)), math.sqrt(1 + 4 + 1))
    assert math.isclose(
        _one(spark, V.cosine_sim(a, b)), 4.0 / (3.0 * math.sqrt(5.0))
    )


def test_cosine_zero_vector_is_null(spark):
    # R8: empty-text rows carry zero vectors; cosine must be NULL, not NaN
    a = V.s_vec_lit([0.0, 0.0])
    b = V.s_vec_lit([1.0, 1.0])
    assert _one(spark, V.cosine_sim(a, b)) is None


def test_normalize(spark):
    a = V.s_vec_lit([3.0, 4.0])
    out = _one(spark, V.normalize(a))
    assert math.isclose(out[0], 0.6) and math.isclose(out[1], 0.8)
    # zero vector passes through unchanged
    z = _one(spark, V.normalize(V.s_vec_lit([0.0, 0.0])))
    assert z == [0.0, 0.0]


def test_as_double_array_casts_floats(spark):
    df = spark.createDataFrame([([1.5, 2.5],)], "emb: array<float>")
    row = df.select(V.as_double_array("emb").alias("d")).head()
    assert row["d"] == [1.5, 2.5]
    assert df.select(V.as_double_array("emb").alias("d")).schema["d"].dataType.elementType.typeName() == "double"
