"""kNN semantics — including the reference's trap cases (SURVEY §7):
L2 order != cosine order, k clamp, 1-based rank."""

import pytest

from create_proposals_using_vector_db_public_spark.operators import knn as K


def _query(spark, vec):
    """A query frame: one row holding ``vec`` in ``embedding``."""
    return spark.createDataFrame([(vec,)], "embedding: array<double>")


def _corpus(spark):
    # Unnormalized vectors engineered so L2 order differs from cosine order
    # w.r.t. query [1, 0]:
    #  - id 1: [0.9, 0.0]   L2 = 0.1,  cosine = 1.0
    #  - id 2: [10.0, 0.0]  L2 = 9.0,  cosine = 1.0
    #  - id 3: [0.5, 0.5]   L2 ~ 0.707, cosine ~ 0.707
    return spark.createDataFrame(
        [(1, [0.9, 0.0]), (2, [10.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id: long, embedding: array<double>",
    )


def test_knn_ranks_by_l2_not_cosine(spark):
    rows = K.knn(_corpus(spark), _query(spark, [1.0, 0.0]), k=3).collect()
    # reference semantics (app.py:183-184): order by L2 ascending; cosine is
    # reported but NEVER reorders. Cosine-ranked order would be [1,2,3].
    assert [r["vec_id"] for r in rows] == [1, 3, 2]
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert rows[0]["cosine"] == 1.0 and rows[2]["cosine"] == 1.0


def test_knn_clamps_k(spark):
    rows = K.knn(_corpus(spark), _query(spark, [1.0, 0.0]), k=99).collect()
    assert len(rows) == 3  # k = min(top_k, n), app.py:179


def test_knn_fails_on_a_query_of_another_dimension(spark):
    """A 3-dim query against 2-dim vectors fails the query: without the
    dimension check zip_with pads with NULL, every distance is NULL, and
    knn returns k arbitrary rows ranked by id."""
    out = K.knn(_corpus(spark), _query(spark, [1.0, 0.0, 0.0]), k=2)
    with pytest.raises(Exception, match="vector dimensions differ"):
        out.collect()


def test_absent_query_row_fails_on_collect(spark):
    """A query whose query row is absent builds (no job runs while the
    plan is built) and fails when it runs, for the single-query kNN and
    the IVF and PQ paths alike."""
    corpus = _corpus(spark)
    absent = corpus.filter("vec_id = 99")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0])], "centroid_id: long, centroid_vec: array<double>"
    )
    codebook = spark.createDataFrame(
        [(0, 0, [0.0]), (1, 0, [0.0])], "s: int, centroid_id: long, cv: array<double>"
    )
    for out in (
        K.knn(corpus, absent, k=2),
        K.ivf_search(corpus, cents, absent, k=2),
        K.pq_adc_search(corpus, codebook, absent, 2, 1, k=2),
    ):
        with pytest.raises(Exception, match="query row absent"):
            out.collect()


def test_knn_join_per_query_topk(spark):
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "query_id: long, query_vec: array<double>",
    )
    out = K.knn_join(queries, _corpus(spark), k=2)
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in out.collect()}
    assert got[(100, 1)] == 1 and got[(100, 2)] == 3
    assert got[(200, 1)] == 3  # [0.5,0.5] closest to [0,1]


def test_ivf_search_prunes_to_probed_cells(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id: long, embedding: array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [9.0, 0.0])],
        "centroid_id: long, centroid_vec: array<double>",
    )
    # probe only the cell nearest the query (around 9.0)
    query = _query(spark, [9.0, 0.0])
    rows = K.ivf_search(corpus, cents, query, k=3, n_probe=1).collect()
    assert [r["vec_id"] for r in rows] == [9, 8, 7]
    # vectors in the unprobed cell are never candidates
    assert all(r["vec_id"] >= 5 for r in rows)


def test_kmeans_update_component_means(spark):
    from create_proposals_using_vector_db_public_spark.operators import knn as K

    df = spark.createDataFrame(
        [
            (0, [1.0, 3.0]),
            (0, [3.0, 5.0]),
            (1, [10.0, 20.0]),
        ],
        "centroid_id: int, embedding: array<float>",
    )
    cents = {
        r["centroid_id"]: r["centroid_vec"]
        for r in K.kmeans_update(df).collect()
    }
    assert cents[0] == [2.0, 4.0]
    assert cents[1] == [10.0, 20.0]


def test_ivf_search_join_per_query_cells(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id: long, embedding: array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [9.0, 0.0])],
        "centroid_id: long, centroid_vec: array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [0.0, 0.0]), (200, [9.0, 0.0])],
        "query_id: long, query_vec: array<double>",
    )
    out = K.ivf_search_join(queries, corpus, cents, k=2, n_probe=1)
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in out.collect()}
    # each query searched only ITS nearest cell (0-4 vs 5-9)
    assert got[(100, 1)] == 0 and got[(100, 2)] == 1
    assert got[(200, 1)] == 9 and got[(200, 2)] == 8


def test_ivf_assign_deterministic_tiebreak(spark):
    # vector equidistant from both centroids -> lowest centroid_id wins
    corpus = spark.createDataFrame(
        [(1, [5.0, 0.0], "mid")],
        "vec_id: long, embedding: array<double>, label: string",
    )
    cents = spark.createDataFrame(
        [(7, [0.0, 0.0]), (3, [10.0, 0.0])],
        "centroid_id: long, centroid_vec: array<double>",
    )
    rows = K.ivf_assign(corpus, cents).collect()
    assert len(rows) == 1
    assert rows[0]["centroid_id"] == 3  # tie at dist 5.0 -> min centroid_id
    assert rows[0]["label"] == "mid"  # carried columns survive the argmin


def test_centroid_argmin_puts_null_distances_last(spark):
    """A NULL centroid vector scores NULL and must lose to every real
    distance, in both argmins (the oracles order ``cdist`` NULLS LAST)."""
    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id: long, embedding: array<double>"
    )
    cents = spark.createDataFrame(
        [(5, [0.0, 0.0]), (7, None)],
        "centroid_id: long, centroid_vec: array<double>",
    )
    ivf = K.ivf_assign(corpus, cents).collect()
    assert [(r["centroid_id"], r["centroid_dist"]) for r in ivf] == [(5, 0.0)]
    subs = corpus.selectExpr("vec_id", "0 AS s", "embedding AS sv")
    book = cents.selectExpr("0 AS s", "centroid_id", "centroid_vec AS cv")
    pq = K.pq_assign(subs, book).collect()
    assert [r["code"] for r in pq] == [5]


def test_ensure_parallelism_guard_decisions(spark):
    """The parallelism guard must (a) repartition any under-parallel plan
    up to the session's shuffle parallelism — round 13 removed the old
    4MB size floor, bytes being the wrong proxy for compute-dense vector
    work (the floor kept sub-4MB corpora serialized on one core) — and
    (b) leave an already-parallel plan untouched, which is the 100 TB
    case (more splits than cores) where the guard must stay a no-op."""
    import pyspark.sql.functions as F

    from create_proposals_using_vector_db_public_spark.operators import knn

    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # single-split input -> the guard adds the round-robin exchange even
    # though the plan is tiny in bytes. Assert on the LOGICAL node the
    # guard adds ('Repartition'): an Exchange only exists in the physical
    # plan, so grepping the optimized plan for it can never fail.
    narrow = spark.range(0, 800000, 1, 1).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 64).alias("embedding"),
    )
    forced = knn.ensure_parallelism(narrow)
    fplan = forced._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in fplan, fplan
    # already at (or above) the session's shuffle parallelism -> no-op
    wide = spark.range(0, 1000, 1, shuffle_n).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    guarded = knn.ensure_parallelism(wide)
    plan = guarded._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan, plan
    # the plan-level partition probe agrees with the Python RDD's count
    for df in (wide, spark.range(0, 100000, 1, 2).toDF("id")):
        plan_n = int(df._jdf.queryExecution().toRdd().getNumPartitions())
        assert plan_n == df.rdd.getNumPartitions()


def test_distances_are_scored_only_by_the_scoring_operators():
    """Every score is built by ``functions.vectors.s_score`` (6dp round,
    ``-0.0`` fold, dimension check), and only inside the scoring sites:
    ``knn.score_side`` (the corpus against a broadcast side),
    ``dedup._pair_cosine`` (pairs that share a bucket) and
    ``retrieval.mmr_select`` (candidate pairs inside its one-row fold,
    which joins nothing). So among ``operators/`` and ``plans/``, a
    distance fragment (``l2_dist``, ``l2_dist_sq``, ``cosine_sim``,
    ``dot`` or an ``s_*`` form) is never rounded by hand (``round`` call
    or a ``round(`` SQL string around it), and a function that cross
    joins (``crossJoin``, or ``join`` without keys) never names one.
    Distances an operator only orders by, unrounded, stay legal. The
    DuckDB oracles use ``plans.duck``'s ``d_*`` forms and are not read.
    Read from the source, so no Spark session is needed."""
    import ast
    import glob
    import os

    fragments = {"l2_dist", "l2_dist_sq", "cosine_sim", "dot"}
    fragments |= {f"s_{f}" for f in fragments}
    scorers = {
        ("knn", "score_side"), ("dedup", "_pair_cosine"),
        ("retrieval", "mmr_select"),
    }

    def name(node):
        if isinstance(node, ast.Attribute):
            return node.attr
        return node.id if isinstance(node, ast.Name) else None

    def call_name(node):
        return name(node.func) if isinstance(node, ast.Call) else None

    def rounds(node):
        """A call of round or s_score, or a SQL f-string with round(."""
        if isinstance(node, ast.JoinedStr):
            return any(
                isinstance(v, ast.Constant) and "round(" in v.value
                for v in node.values
            )
        return call_name(node) in ("round", "s_score")

    def cross_joins(node):
        if call_name(node) == "crossJoin":
            return True
        return (
            call_name(node) == "join"
            and len(node.args) < 2
            and not any(k.arg == "on" for k in node.keywords)
        )

    pkg = os.path.dirname(os.path.dirname(K.__file__))
    found = {"rounded": [], "cross-joined": [], "scored": []}
    for layer in ("operators", "plans"):
        for path in sorted(glob.glob(os.path.join(pkg, layer, "*.py"))):
            with open(path) as f:
                tree = ast.parse(f.read())
            module = os.path.basename(path)[: -len(".py")]
            for top in tree.body:
                site = (module, getattr(top, "name", None))
                if site in scorers:
                    continue
                nodes = list(ast.walk(top))
                named = [n for n in nodes if name(n) in fragments]
                inside = {
                    id(d) for r in nodes if rounds(r) for d in ast.walk(r)
                }
                if any(id(n) in inside for n in named):
                    found["rounded"].append(site)
                if named and any(cross_joins(n) for n in nodes):
                    found["cross-joined"].append(site)
                if any(call_name(n) == "s_score" for n in nodes):
                    found["scored"].append(site)
    assert found == {"rounded": [], "cross-joined": [], "scored": []}
