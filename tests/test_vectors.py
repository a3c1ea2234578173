import math

import pytest
from pyspark.sql import functions as F

from create_proposals_using_vector_db_public_spark.functions import vectors as V


def _one(spark, col, a, b=None):
    """``col`` over one row whose array<double> columns ``a`` and ``b``
    hold the given vectors."""
    df = spark.createDataFrame([(a, b)], "a: array<double>, b: array<double>")
    return df.select(col.alias("v")).head()["v"]


def test_dot_l2_cosine(spark):
    a, b = [1.0, 2.0, 2.0], [2.0, 0.0, 1.0]
    assert _one(spark, F.expr(V.s_dot("a", "b")), a, b) == 4.0
    assert _one(spark, V.l2_norm("a"), a) == 3.0
    assert math.isclose(_one(spark, V.l2_dist("a", "b"), a, b), math.sqrt(1 + 4 + 1))
    cos = _one(spark, F.expr(V.s_cosine_sim("a", "b")), a, b)
    assert math.isclose(cos, 4.0 / (3.0 * math.sqrt(5.0)))


def test_cosine_zero_vector_is_null(spark):
    # R8: empty-text rows carry zero vectors; cosine must be NULL, not NaN
    cos = F.expr(V.s_cosine_sim("a", "b"))
    assert _one(spark, cos, [0.0, 0.0], [1.0, 1.0]) is None


def test_normalize(spark):
    out = _one(spark, V.normalize("a"), [3.0, 4.0])
    assert math.isclose(out[0], 0.6) and math.isclose(out[1], 0.8)
    # zero vector passes through unchanged
    assert _one(spark, V.normalize("a"), [0.0, 0.0]) == [0.0, 0.0]


def test_score_rounds_folds_and_checks_dimensions(spark):
    """A score is rounded to 6 places with -0.0 folded to +0.0; a NULL
    vector scores NULL, and vectors of different lengths fail the query
    instead of scoring NULL (zip_with pads the shorter one)."""

    def score(a, b):
        return _one(spark, F.expr(V.s_score(V.s_dot, "a", "b")), a, b)

    assert score([1.0, 2.0], [0.1234567, 0.0]) == 0.123457
    neg_zero = score([1e-9, 0.0], [-1.0, 0.0])
    assert neg_zero == 0.0 and math.copysign(1.0, neg_zero) == 1.0
    assert score(None, [1.0, 0.0]) is None
    with pytest.raises(Exception, match="vector dimensions differ"):
        score([1.0, 2.0, 3.0], [1.0, 2.0])


def test_as_double_array_casts_floats(spark):
    df = spark.createDataFrame([([1.5, 2.5],)], "emb: array<float>")
    row = df.select(V.as_double_array("emb").alias("d")).head()
    assert row["d"] == [1.5, 2.5]
    assert df.select(V.as_double_array("emb").alias("d")).schema["d"].dataType.elementType.typeName() == "double"
