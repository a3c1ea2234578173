"""kNN semantics — including the reference's trap cases (SURVEY §7):
L2 order != cosine order, k clamp, 1-based rank."""

from create_proposals_using_vector_db_public_spark.operators import knn as K


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
    rows = K.knn(_corpus(spark), [1.0, 0.0], k=3).collect()
    # reference semantics (app.py:183-184): order by L2 ascending; cosine is
    # reported but NEVER reorders. Cosine-ranked order would be [1,2,3].
    assert [r["vec_id"] for r in rows] == [1, 3, 2]
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert rows[0]["cosine"] == 1.0 and rows[2]["cosine"] == 1.0


def test_knn_clamps_k(spark):
    rows = K.knn(_corpus(spark), [1.0, 0.0], k=99).collect()
    assert len(rows) == 3  # k = min(top_k, n), app.py:179


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
    rows = K.ivf_search(corpus, cents, [9.0, 0.0], k=3, n_probe=1).collect()
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


def test_kmeans_codebook_converges_on_separated_clusters(spark):
    from create_proposals_using_vector_db_public_spark.operators import knn as K

    # two well-separated blobs; seeds start inside each blob
    rows = [(i, [0.0 + 0.1 * i, 0.0]) for i in range(4)] + [
        (10 + i, [100.0 + 0.1 * i, 50.0]) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    seeds = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [100.0, 50.0])],
        "centroid_id: int, centroid_vec: array<float>",
    )
    cents = {
        r["centroid_id"]: r["centroid_vec"]
        for r in K.kmeans_codebook(df, seeds, iters=3).collect()
    }
    assert abs(cents[0][0] - 0.15) < 1e-6 and cents[0][1] == 0.0
    assert abs(cents[1][0] - 100.15) < 1e-6 and cents[1][1] == 50.0


def test_lsh_multiprobe_superset_of_single_probe(spark):
    from create_proposals_using_vector_db_public_spark.operators import knn as K
    from create_proposals_using_vector_db_public_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select("vec_id", "label", "embedding")
    q = [float(x) for x in emb.filter("vec_id = 11").head()["embedding"]]
    # k larger than the table so the top-k cap never displaces candidates —
    # with a binding k, nearer vectors from neighbor buckets would push
    # single-probe results out of the top-k (correct, but not a superset)
    single = {r["vec_id"] for r in K.lsh_search(emb, q, k=10**6, n_probe=1).collect()}
    multi = {r["vec_id"] for r in K.lsh_search(emb, q, k=10**6, n_probe=5).collect()}
    # probing the 4 Hamming-1 neighbor buckets can only ADD candidates, and
    # the query's own bucket (containing vec 11 itself) is always searched
    assert 11 in single and single <= multi and len(multi) >= len(single)


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
