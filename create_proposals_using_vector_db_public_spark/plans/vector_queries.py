"""Vector-pipeline declared queries: exact kNN (the flagship), cosine
reporting, multi-query kNN join, vector math, and IVF-style ANN.

Reference parity: R17 (exact brute-force L2 top-k, ``app.py:178-180``),
R18 (cosine reported but L2 order kept, ``app.py:184``), R19 (1-based rank,
``app.py:183,189``). The ANN variants are the mandated scale path beyond the
reference's flat index.

A query vector is a stored row, ``emb.filter(F.col("vec_id") == i)``: a
plan input the scoring operator (``operators.knn.score_side``) broadcasts,
so building a query runs no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vectors as V
from ..operators import knn as K
from ..operators import selection as S
from ..sources import load_table
from .duck import d_cosine, d_dot, d_l2, d_l2sq, d_norm, dd
from .registry import query


# The oracle mirrors knn(): dist/cosine computed in double with sequential
# reduction, rounded to 6, ordered by (dist, vec_id), 1-based rank.
_KNN_ORACLE = f"""
WITH q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         round({d_l2(dd("e.embedding"), "q.qv")}, 6) AS dist,
         (round({d_cosine(dd("e.embedding"), "q.qv")}, 6) + 0.0) AS cosine
  FROM embeddings e, q
)
SELECT vec_id, label, dist, cosine,
       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY dist ASC, vec_id ASC
LIMIT 5
"""


@query("q_knn", oracle=_KNN_ORACLE)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return K.knn(emb, emb.filter(F.col("vec_id") == 0), k=5)


_KNN_COS_ORACLE = f"""
WITH q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 7
), scored AS (
  SELECT e.vec_id, e.label,
         round({d_l2(dd("e.embedding"), "q.qv")}, 6) AS dist,
         (round({d_cosine(dd("e.embedding"), "q.qv")}, 6) + 0.0) AS cosine
  FROM embeddings e, q
)
SELECT vec_id, label, dist, cosine,
       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY dist ASC, vec_id ASC
LIMIT 10
"""


@query("q_knn_cosine", oracle=_KNN_COS_ORACLE)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by L2 with cosine *reported*: the SURVEY §7 trap-1 semantics —
    unnormalized vectors, so cosine order differs from L2 order, and the
    engine must keep L2 order (reference ``app.py:183-184``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.knn(emb, emb.filter(F.col("vec_id") == 7), k=10)


_RANK_L2_ORACLE = f"""
WITH q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 3
), scored AS (
  SELECT e.vec_id,
         round({d_l2(dd("e.embedding"), "q.qv")}, 6) AS dist
  FROM embeddings e, q
)
SELECT vec_id, dist,
       CAST(rank() OVER (ORDER BY dist ASC) AS INTEGER) AS dist_rank
FROM scored
ORDER BY dist ASC, vec_id ASC
LIMIT 20
"""


@query("q_rank_l2", oracle=_RANK_L2_ORACLE)
def q_rank_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() (gap semantics, ties share a rank) over L2 distance — R19
    generalized to a real window function."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = K.score_query(
        emb, emb.filter(F.col("vec_id") == 3), "embedding", {"dist": V.s_l2_dist}
    ).select("vec_id", "dist")
    # TakeOrdered top-20 FIRST (per-partition heaps, no global sort), then
    # rank within the 20 survivors — identical to ranking globally because
    # rank() only depends on rows with smaller dist, all of which survive.
    top = scored.orderBy(F.col("dist").asc(), F.col("vec_id").asc()).limit(20)
    w = Window.orderBy(F.col("dist").asc())
    return top.withColumn("dist_rank", F.rank().over(w)).orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )


_VEC_MATH_ORACLE = f"""
WITH q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id,
       round({d_norm(dd("e.embedding"))}, 6) AS l2_norm,
       (round({d_dot(dd("e.embedding"), "q.qv")}, 6) + 0.0) AS dot_q
FROM embeddings e, q
"""


@query("q_vec_math", oracle=_VEC_MATH_ORACLE)
def q_vec_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zip_with/aggregate vector arithmetic (R17/R18 building blocks) over
    the whole table — one narrow map, no shuffle. The lambdas are
    CodegenFallback expressions, so each vector is evaluated interpreted
    inside the compiled stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.score_query(
        emb, emb.filter(F.col("vec_id") == 0), "embedding", {"dot_q": V.s_dot}
    ).select("vec_id", F.round(V.l2_norm("__v"), 6).alias("l2_norm"), "dot_q")


_KNN_JOIN_ORACLE = f"""
WITH queries AS (
  SELECT vec_id AS query_id, {dd("embedding")} AS qv
  FROM embeddings WHERE vec_id % 100 = 0
), scored AS (
  SELECT q.query_id, e.vec_id,
         round({d_l2(dd("e.embedding"), "q.qv")}, 6) AS dist
  FROM embeddings e, queries q
), ranked AS (
  SELECT query_id, vec_id, dist,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, dist, rank FROM ranked WHERE rank <= 3
"""


@query("q_knn_join", oracle=_KNN_JOIN_ORACLE)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: broadcast a small query set against the corpus, top-3 per
    query via window — the multi-query generalization of R17."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return K.knn_join(queries, emb, k=3)


_ANN_IVF_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, {dd("embedding")} AS cv
  FROM embeddings WHERE vec_id < 8
), q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 11
), assign_scored AS (
  SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
         round({d_l2(dd("e.embedding"), "c.cv")}, 6) AS cdist
  FROM embeddings e, cents c
), assigned AS (
  SELECT vec_id, label, embedding, centroid_id
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cdist ASC, centroid_id ASC
    ) AS rn
    FROM assign_scored
  ) WHERE rn = 1
), probe AS (
  SELECT c.centroid_id
  FROM cents c, q
  ORDER BY {d_l2("c.cv", "q.qv")} ASC, c.centroid_id ASC
  LIMIT 2
), cell AS (
  SELECT a.* FROM assigned a JOIN probe p USING (centroid_id)
), scored AS (
  SELECT cell.vec_id, cell.label,
         round({d_l2(dd("cell.embedding"), "q.qv")}, 6) AS dist,
         (round({d_cosine(dd("cell.embedding"), "q.qv")}, 6) + 0.0) AS cosine
  FROM cell, q
)
SELECT vec_id, label, dist, cosine,
       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY dist ASC, vec_id ASC
LIMIT 10
"""


_COSINE_TOPK_ORACLE = f"""
WITH q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 42
), scored AS (
  SELECT e.vec_id, e.label,
         (round({d_cosine(dd("e.embedding"), "q.qv")}, 6) + 0.0) AS cosine
  FROM embeddings e, q
)
SELECT vec_id, label, cosine,
       CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INTEGER)
         AS rank
FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


@query("q_cosine_topk", oracle=_COSINE_TOPK_ORACLE)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine-RANKED top-k — the similarity-search baseline the
    LLM-pipeline mandate asks for, distinct from q_knn_cosine (which keeps
    the reference's L2 order and only reports cosine). Same
    TakeOrderedAndProject shape: per-partition heaps on descending cosine,
    no global sort, no vector shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = K.score_query(
        emb, emb.filter(F.col("vec_id") == 42), "embedding",
        {"cosine": V.s_cosine_sim},
    ).select("vec_id", "label", "cosine")
    return S.top_k(scored, [F.col("cosine").desc(), F.col("vec_id").asc()], 10)


_ANN_RECALL_ORACLE = f"""
WITH queries AS (
  SELECT vec_id AS query_id, {dd("embedding")} AS qv
  FROM embeddings WHERE vec_id % 100 = 0
), exact_scored AS (
  SELECT q.query_id, e.vec_id,
         round({d_l2(dd("e.embedding"), "q.qv")}, 6) AS dist
  FROM embeddings e, queries q
), exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
    ) AS rnk FROM exact_scored
  ) WHERE rnk <= 10
), cents AS (
  SELECT vec_id AS centroid_id, {dd("embedding")} AS cv
  FROM embeddings WHERE vec_id < 8
), assign_scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         round({d_l2(dd("e.embedding"), "c.cv")}, 6) AS cdist
  FROM embeddings e, cents c
), assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cdist ASC, centroid_id ASC
    ) AS rn FROM assign_scored
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, centroid_id, qv FROM (
    SELECT q.query_id, c.centroid_id, q.qv,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {d_l2("c.cv", "q.qv")} ASC, c.centroid_id ASC
           ) AS pn
    FROM queries q, cents c
  ) WHERE pn <= 2
), ann_scored AS (
  SELECT p.query_id, a.vec_id,
         round({d_l2(dd("a.embedding"), "p.qv")}, 6) AS dist
  FROM assigned a JOIN probes p USING (centroid_id)
), ann AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY dist ASC, vec_id ASC
    ) AS rnk FROM ann_scored
  ) WHERE rnk <= 10
)
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(a.vec_id) AS BIGINT) AS n_hit,
       round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 6) AS recall_at_10
FROM exact e
LEFT JOIN ann a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id
"""


@query("q_ann_recall", oracle=_ANN_RECALL_ORACLE)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF ANN path against exact kNN, per query — the
    quality metric that justifies an approximate index at 100 TB ("how
    much recall does n_probe=2/8 cells buy?"). Exact side is knn_join
    (broadcast queries, heap top-k); ANN side is ivf_search_join (assign
    once, probe 2 cells per query); the comparison is a left join on the
    exact top-10. Both sides and the oracle share rounding and tie-break
    discipline, so the recall number itself is hash-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    exact = K.knn_join(queries, emb, k=10).select("query_id", "vec_id")
    # rename BOTH ann join keys: exact and ann share lineage (same queries/
    # corpus scans), so same-name columns would be ambiguous attribute refs
    ann = K.ivf_search_join(queries, emb, cents, k=10, n_probe=2).select(
        F.col("query_id").alias("ann_query_id"),
        F.col("vec_id").alias("ann_vec_id"),
    )
    # ann is <= k x |queries| rows by construction — broadcast it so the
    # comparison join never shuffles the exact side
    hit = exact.join(
        F.broadcast(ann),
        (F.col("query_id") == F.col("ann_query_id"))
        & (F.col("vec_id") == F.col("ann_vec_id")),
        how="left",
    ).select("query_id", "vec_id", "ann_vec_id")
    return hit.groupBy("query_id").agg(
        F.count("*").alias("n_exact"),
        F.count("ann_vec_id").alias("n_hit"),
        F.round(
            F.count("ann_vec_id").cast("double") / F.count("*"), 6
        ).alias("recall_at_10"),
    )


@query("q_ann_ivf", oracle=_ANN_IVF_ORACLE)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize to 8 centroids (deterministically the
    first 8 vectors), probe the 2 cells nearest the query, exact search
    inside. The scale path past the reference's flat index: with the corpus
    partitioned by centroid_id, partition pruning scans n_probe/n_centroids
    of 100 TB instead of all of it."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    corpus = emb.select("vec_id", "label", "embedding")
    out = K.ivf_search(
        corpus, cents, emb.filter(F.col("vec_id") == 11), k=10, n_probe=2
    )
    return out.select("vec_id", "label", "dist", "cosine", "rank")


# --- product quantization ANN ------------------------------------------------

_PQ_NSUB = 4
_PQ_SUBDIM = 16
_PQ_NCENT = 8

_PQ_SUB_SQL = f"""
  SELECT vec_id, s, list_slice(v, s * {_PQ_SUBDIM} + 1,
                               (s + 1) * {_PQ_SUBDIM}) AS sv
  FROM (SELECT vec_id, {dd("embedding")} AS v FROM embeddings),
       (SELECT CAST(unnest(range(0, {_PQ_NSUB})) AS INTEGER) AS s)
"""

_PQ_CORE_SQL = f"""sub AS ({_PQ_SUB_SQL}
), seeds AS (
  SELECT s, vec_id AS centroid_id, sv AS cv FROM sub
  WHERE vec_id < {_PQ_NCENT}
), a0 AS (
  SELECT s, vec_id, centroid_id, sv FROM (
    SELECT t.s, t.vec_id, c.centroid_id, t.sv,
           row_number() OVER (PARTITION BY t.vec_id, t.s
             ORDER BY round({d_l2("t.sv", "c.cv")}, 6) ASC, c.centroid_id ASC
           ) AS rn
    FROM sub t JOIN seeds c USING (s)
  ) WHERE rn = 1
), comp AS (
  SELECT s, centroid_id, pos,
         round((CAST(floor(sum(CAST(val AS DECIMAL(27,10)))) AS DOUBLE) + CAST(sum(CAST(val AS DECIMAL(27,10))) - floor(sum(CAST(val AS DECIMAL(27,10)))) AS DOUBLE)) / count(*), 6)
           AS mean
  FROM (
    SELECT s, centroid_id,
           unnest(range(0, len(sv))) AS pos, unnest(sv) AS val
    FROM a0
  ) GROUP BY s, centroid_id, pos
), cents AS (
  SELECT s, centroid_id, list(mean ORDER BY pos) AS cv
  FROM comp GROUP BY s, centroid_id
), codes AS (
  SELECT s, vec_id, centroid_id AS code FROM (
    SELECT t.s, t.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY t.vec_id, t.s
             ORDER BY round({d_l2("t.sv", "c.cv")}, 6) ASC, c.centroid_id ASC
           ) AS rn
    FROM sub t JOIN cents c USING (s)
  ) WHERE rn = 1
), q AS (
  SELECT s, sv AS qsub FROM sub WHERE vec_id = 11
), dt AS (
  SELECT c.s, c.centroid_id,
         CAST(round({d_l2sq("c.cv", "q.qsub")}, 6) AS DECIMAL(18,6)) AS d2
  FROM cents c JOIN q USING (s)
), adist AS (
  SELECT vec_id, round(sqrt((CAST(floor(sum(d2)) AS DOUBLE) + CAST(sum(d2) - floor(sum(d2)) AS DOUBLE))), 6) AS adist
  FROM codes JOIN dt ON codes.s = dt.s AND codes.code = dt.centroid_id
  GROUP BY vec_id
)"""

_PQ_ORACLE = f"""
WITH {_PQ_CORE_SQL}
SELECT a.vec_id, e.label, a.adist,
       CAST(row_number() OVER (ORDER BY a.adist ASC, a.vec_id ASC)
            AS INTEGER) AS rank
FROM adist a JOIN embeddings e USING (vec_id)
ORDER BY a.adist ASC, a.vec_id ASC
LIMIT 10
"""


@query("q_ann_pq", oracle=_PQ_ORACLE)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the FAISS IVFPQ memory story): train
    per-subspace codebooks (deterministic seeds + one decimal-exact Lloyd
    update), encode every vector as n_sub centroid codes, then answer the
    query via the asymmetric-distance lookup table — vectors are scored
    from CODES + a broadcast table, the float embeddings never join the
    search. 64-dim vectors → 4 subspaces × 8 centroids here; 100 TB runs
    16×256 (16 bytes/vector — a 10,000× compression of float32[1024]).
    Top-k by (adist, vec_id) is TakeOrderedAndProject, same heap plan as
    exact kNN. operators/knn.py:pq_train/pq_assign/pq_adc_search."""
    emb = load_table(spark, sf_dir, "embeddings")
    codebook = K.pq_train(
        emb.select("vec_id", "embedding"), _PQ_NSUB, _PQ_SUBDIM, _PQ_NCENT
    )
    hits = K.pq_adc_search(
        emb.select("vec_id", "embedding"), codebook,
        emb.filter(F.col("vec_id") == 11), _PQ_NSUB, _PQ_SUBDIM, k=10,
    )
    return hits.join(
        F.broadcast(emb.select("vec_id", "label")), "vec_id"
    ).select("vec_id", "label", "adist", "rank").orderBy("rank")


_PQ_RECALL_ORACLE = f"""
WITH {_PQ_CORE_SQL},
pq AS (
  SELECT vec_id FROM adist ORDER BY adist ASC, vec_id ASC LIMIT 10
), qfull AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 11
), exact AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           row_number() OVER (
             ORDER BY round({d_l2(dd("e.embedding"), "q.qv")}, 6) ASC,
                      e.vec_id ASC) AS rnk
    FROM embeddings e, qfull q
  ) WHERE rnk <= 10
)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(p.vec_id) AS BIGINT) AS n_hit,
       round(CAST(count(p.vec_id) AS DOUBLE) / count(*), 6) AS recall_at_10
FROM exact e LEFT JOIN pq p USING (vec_id)
"""


@query("q_pq_recall", oracle=_PQ_RECALL_ORACLE)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ asymmetric-distance search against exact kNN for
    the same query — the number that prices PQ's compression: how much
    recall do 4x8 codebooks keep vs scanning full vectors? (q_ann_recall
    answers the same question for IVF probing.) Both top-10 sets and the
    recall itself are hash-exact, so a codebook regression breaks the
    oracle, not just a vibe."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 11)
    codebook = K.pq_train(
        emb.select("vec_id", "embedding"), _PQ_NSUB, _PQ_SUBDIM, _PQ_NCENT
    )
    pq_ids = K.pq_adc_search(
        emb.select("vec_id", "embedding"), codebook, qv,
        _PQ_NSUB, _PQ_SUBDIM, k=10,
    ).select(F.col("vec_id").alias("pq_vec_id"))
    exact = K.knn(emb, qv, k=10).select("vec_id")
    hit = exact.join(
        F.broadcast(pq_ids),
        F.col("vec_id") == F.col("pq_vec_id"),
        "left",
    )
    return hit.agg(
        F.count("*").alias("n_exact"),
        F.count("pq_vec_id").alias("n_hit"),
        F.round(
            F.count("pq_vec_id").cast("double") / F.count("*"), 6
        ).alias("recall_at_10"),
    )


_IVFPQ_ORACLE = f"""
WITH {_PQ_CORE_SQL},
ccents AS (
  SELECT vec_id AS centroid_id, {dd("embedding")} AS cv
  FROM embeddings WHERE vec_id < 8
), qf AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 11
), assign_scored AS (
  SELECT e.vec_id, c.centroid_id,
         round({d_l2(dd("e.embedding"), "c.cv")}, 6) AS cdist
  FROM embeddings e, ccents c
), assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cdist ASC, centroid_id ASC
    ) AS rn FROM assign_scored
  ) WHERE rn = 1
), probe AS (
  SELECT c.centroid_id FROM ccents c, qf
  ORDER BY {d_l2("c.cv", "qf.qv")} ASC, c.centroid_id ASC
  LIMIT 2
), cell AS (
  SELECT a.vec_id FROM assigned a JOIN probe p USING (centroid_id)
)
SELECT d.vec_id, e.label, d.adist,
       CAST(row_number() OVER (ORDER BY d.adist ASC, d.vec_id ASC)
            AS INTEGER) AS rank
FROM adist d JOIN cell USING (vec_id) JOIN embeddings e USING (vec_id)
ORDER BY d.adist ASC, d.vec_id ASC
LIMIT 10
"""


@query("q_ann_ivfpq", oracle=_IVFPQ_ORACLE)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ: coarse cells prune WHICH vectors get scored (probe 2 of 8
    cells), PQ codes + a broadcast lookup table prune WHAT each scored
    vector costs (no float reads) — the composition FAISS ships as its
    default billion-scale index, here with both layers oracle-exact.
    ADC distances are identical to q_ann_pq's (codes quantize raw
    vectors); only the candidate set shrinks, so the oracle derives the
    cell from the coarse assignment and filters the same ADC scores."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 11)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    codebook = K.pq_train(
        emb.select("vec_id", "embedding"), _PQ_NSUB, _PQ_SUBDIM, _PQ_NCENT
    )
    hits = K.ivfpq_search(
        emb.select("vec_id", "embedding"), cents, codebook, qv,
        _PQ_NSUB, _PQ_SUBDIM, k=10, n_probe=2,
    )
    return hits.join(
        F.broadcast(emb.select("vec_id", "label")), "vec_id"
    ).select("vec_id", "label", "adist", "rank").orderBy("rank")




def _sq8_code_table(emb):
    """SQ8 codes per vector on ONE global per-dimension corpus grid (the
    grid vectors must share for quantized distances to be comparable):
    grid = per-dim min/max (one exploded aggregate, |dims| rows,
    broadcast back as two arrays); codes are array-local. Shared by
    q_sq_recall (prices the compression) and q_ann_rerank (uses it as the
    coarse stage)."""
    v = V.as_double_array("embedding")
    occ = emb.select(F.posexplode(v).alias("dim", "x"))
    grid = (
        occ.groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "lo", "hi"))
            ).alias("g")
        )
        .select(
            F.transform("g", lambda s: s["lo"]).alias("los"),
            F.transform("g", lambda s: s["hi"]).alias("his"),
        )
    )

    def one(x, i):
        # 0-based transform index i -> 1-based element_at
        lo = F.element_at("los", i + F.lit(1))
        hi = F.element_at("his", i + F.lit(1))
        return (
            F.when(hi == lo, F.lit(0).cast("long"))
            .otherwise(F.floor((x - lo) / (hi - lo) * 255.0).cast("long"))
        )

    return emb.crossJoin(F.broadcast(grid)).select(
        "vec_id", F.transform(v, one).alias("codes")
    )


def _sq8_dist2() -> F.Column:
    """Integer squared L2 between a row's codes and broadcast qcodes."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("qcodes"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# --- scalar-quantization recall ----------------------------------------------

_SQ_RECALL_ORACLE = f"""
WITH v AS (
  SELECT vec_id, {dd("embedding")} AS v FROM embeddings
), dims AS (
  -- per-dimension corpus grid; dim count 64 is fixture-verified
  SELECT u.i AS dim, min(v.v[u.i]) AS lo, max(v.v[u.i]) AS hi
  FROM v, (SELECT unnest(range(1, 65)) AS i) u
  GROUP BY u.i
), qc AS (
  SELECT v.vec_id, d.dim,
         CASE WHEN d.hi = d.lo THEN 0
              ELSE CAST(floor((v.v[d.dim] - d.lo) / (d.hi - d.lo) * 255.0)
                        AS BIGINT) END AS c
  FROM v, dims d
), qq AS (
  SELECT dim, c FROM qc WHERE vec_id = 11
), sq_top AS (
  SELECT a.vec_id
  FROM qc a JOIN qq ON a.dim = qq.dim
  GROUP BY a.vec_id
  ORDER BY sum((a.c - qq.c) * (a.c - qq.c)) ASC, a.vec_id ASC
  LIMIT 10
), q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 11
), exact_top AS (
  SELECT e.vec_id
  FROM embeddings e, q
  ORDER BY round({d_l2(dd("e.embedding"), "q.qv")}, 6) ASC, e.vec_id ASC
  LIMIT 10
)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(s.vec_id) AS BIGINT) AS n_hit,
       round(CAST(count(s.vec_id) AS DOUBLE) / count(*), 6) AS recall_at_10
FROM exact_top e LEFT JOIN sq_top s ON e.vec_id = s.vec_id
"""


@query("q_sq_recall", oracle=_SQ_RECALL_ORACLE)
def q_sq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of int8 scalar-quantized (SQ8) L2 search against exact
    kNN — the number that prices 4x vector compression, completing the
    quantization family (q_quantize_embedding builds codes, this measures
    what they cost; q_pq_recall / q_ann_recall price PQ and IVF).

    Unlike per-vector min-max (fine for storage), SEARCH needs one global
    per-dimension grid so quantized distances are comparable across
    vectors: grid = per-dim corpus min/max (one exploded aggregate,
    |dims| rows, broadcast back as two arrays); codes and the integer L2
    distance are then array-local (transform + zip_with/aggregate — the
    index-binding 2-arg transform lambda), so nothing vector-sized
    shuffles and the top-10 is a TakeOrdered heap over exact BIGINT
    distances with a vec_id tie-break. The query vector is quantized
    through the same in-plan expression, never driver-side, so both
    engines run the identical float op sequence."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = _sq8_code_table(emb)
    qcodes = (
        base.filter(F.col("vec_id") == 11)
        .select(F.col("codes").alias("qcodes"))
    )
    d2 = _sq8_dist2()
    sq_top = (
        base.crossJoin(F.broadcast(qcodes))
        .select("vec_id", d2.alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
        .select(F.col("vec_id").alias("sq_vec_id"))
    )
    exact_top = K.knn(emb, emb.filter(F.col("vec_id") == 11), k=10).select(
        "vec_id"
    )
    hit = exact_top.join(
        F.broadcast(sq_top),
        exact_top["vec_id"] == sq_top["sq_vec_id"],
        "left",
    )
    return hit.agg(
        F.count("*").alias("n_exact"),
        F.count("sq_vec_id").alias("n_hit"),
        F.round(
            F.count("sq_vec_id").cast("double") / F.count("*"), 6
        ).alias("recall_at_10"),
    )


# --- two-stage retrieval: quantized coarse scan + exact re-rank --------------

_RERANK_QID = 23
_RERANK_CAND = 100

_ANN_RERANK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, {dd("embedding")} AS v FROM embeddings
), dims AS (
  SELECT u.i AS dim, min(v.v[u.i]) AS lo, max(v.v[u.i]) AS hi
  FROM v, (SELECT unnest(range(1, 65)) AS i) u
  GROUP BY u.i
), qc AS (
  SELECT v.vec_id, d.dim,
         CASE WHEN d.hi = d.lo THEN 0
              ELSE CAST(floor((v.v[d.dim] - d.lo) / (d.hi - d.lo) * 255.0)
                        AS BIGINT) END AS c
  FROM v, dims d
), qq AS (
  SELECT dim, c FROM qc WHERE vec_id = {_RERANK_QID}
), cand AS (
  SELECT a.vec_id
  FROM qc a JOIN qq ON a.dim = qq.dim
  GROUP BY a.vec_id
  ORDER BY sum((a.c - qq.c) * (a.c - qq.c)) ASC, a.vec_id ASC
  LIMIT {_RERANK_CAND}
), q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = {_RERANK_QID}
), scored AS (
  SELECT e.vec_id, e.label,
         round({d_l2(dd("e.embedding"), "q.qv")}, 6) AS dist,
         (round({d_cosine(dd("e.embedding"), "q.qv")}, 6) + 0.0) AS cosine
  FROM embeddings e JOIN cand USING (vec_id), q
)
SELECT vec_id, label, dist, cosine,
       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER)
         AS rank
FROM scored
ORDER BY dist ASC, vec_id ASC
LIMIT 10
"""


@query("q_ann_rerank", oracle=_ANN_RERANK_ORACLE)
def q_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production serving pattern every vector
    store converges on: a cheap quantized scan (SQ8 integer distances,
    4x less data touched) narrows the corpus to 100 candidates, then
    exact float re-ranking runs only on those. Completes the family:
    q_sq_recall prices the coarse stage alone; this composes the stages
    so the final top-10 quality depends on the coarse stage only through
    its candidate RECALL, not its distance precision.

    Scale shape: stage 1 is a TakeOrdered heap over exact BIGINT
    distances (no vector shuffle — codes are array-local against the
    broadcast query codes); stage 2 joins the 100-id candidate list
    (broadcast) back to the corpus and re-ranks with another TakeOrdered.
    At 100 TB the coarse scan reads the int8 code column only — a quarter
    of the float32 bytes — and the exact stage touches 100 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = _sq8_code_table(emb)
    qcodes = (
        base.filter(F.col("vec_id") == _RERANK_QID)
        .select(F.col("codes").alias("qcodes"))
    )
    # No parallelism guard here: the coarse stage is codegen-cheap int8
    # math (~μs/row even interpreted), so a single split stays sub-second
    # at any SF this repo measures; the exact stage below is 100 rows
    # (knn ensure=False).
    cand = (
        base.crossJoin(F.broadcast(qcodes))
        .select("vec_id", _sq8_dist2().alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(_RERANK_CAND)
        .select("vec_id")
    )
    return K.knn(
        emb.join(F.broadcast(cand), "vec_id"),
        emb.filter(F.col("vec_id") == _RERANK_QID),
        k=10,
        ensure=False,
    )
