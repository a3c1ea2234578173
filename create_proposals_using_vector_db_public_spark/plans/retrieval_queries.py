"""Retrieval-serving declared queries, round 2 batch 8: hybrid
lexical+vector search via reciprocal-rank fusion, MMR result
diversification, and pseudo-relevance-feedback query expansion.

The reference IS a retrieval app (top-k vector search over proposal
chunks feeding an LLM, ``app.py:178-186``); this family is the standard
production retrieval layer on top of the flagship kNN: fuse BM25 with the
vector ranking, diversify the final hit list, expand the query from its
own best results. All algorithms are public textbook IR (Robertson BM25;
Cormack et al. 2009 RRF; Carbonell & Goldstein 1998 MMR; Rocchio-style
PRF). The vector side uses the deterministic stub embedder so every query
is oracle-exact end-to-end (same device as q_stub_knn).

Scale: candidate generation keeps the corpus-scale shapes (posting-list
BM25, heap top-k kNN); fusion/diversification run on top-k-bounded rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..functions import vectors as V
from ..operators import retrieval as R
from ..sources import load_table
from .curation_queries import (
    _GOPHER_STOPWORDS,
    _MAX_WORDS,
    _MIN_STOPWORDS,
    _MIN_WORDS,
    _MWL_HI_DEN,
    _MWL_HI_NUM,
    _MWL_LO_DEN,
    _MWL_LO_NUM,
)
from .duck import d_cosine, d_l2, d_words
from .registry import query

_WORDS = d_words()

# Shared stub-embedding + corpus-stat CTEs (mirrors q_stub_knn's device
# and the q_bm25 statistics exactly).
_STUB_E_CTES = f"""w AS (
  SELECT doc_id, {_WORDS} AS words FROM documents
), h AS (
  SELECT doc_id,
         list_transform(words,
           t -> instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) AS hashed
  FROM w
), e AS (
  SELECT doc_id,
         list_transform(range(0, 16),
           d -> CAST(len(list_filter(hashed, x -> x = d)) AS DOUBLE)) AS emb
  FROM h
)"""

_BM25_STAT_CTES = """wt AS (
  SELECT doc_id, unnest(words) AS term FROM w
), dl AS (
  SELECT doc_id, count(*) AS dl FROM wt GROUP BY doc_id
), stats AS (
  SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl
)"""


def _bm25_score_ctes(term_src: str, prefix: str) -> str:
    """CTE chain computing BM25 per doc for terms from ``term_src`` (a SQL
    set expression), named ``{prefix}score`` — mirrors
    operators.retrieval.bm25_scores (k1=1.2, b=0.75, Robertson idf)."""
    return f"""{prefix}tf AS (
  SELECT doc_id, term, count(*) AS tf FROM wt
  WHERE term IN {term_src} GROUP BY doc_id, term
), {prefix}df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM wt
  WHERE term IN {term_src} GROUP BY term
), {prefix}score AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
           (tf.tf * ({R.BM25_K1} + 1.0)) /
           (tf.tf + {R.BM25_K1} * (1.0 - {R.BM25_B} + {R.BM25_B} * dl.dl / stats.avgdl))
         ) AS score
  FROM {prefix}tf tf
  JOIN {prefix}df df USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id, stats
  GROUP BY tf.doc_id
)"""


# --- hybrid search: reciprocal-rank fusion -----------------------------------

_RRF_TERMS = ("spark", "join", "vector")
_RRF_TOPK = 20

_RRF_ORACLE = f"""
WITH {_STUB_E_CTES},
{_BM25_STAT_CTES},
{_bm25_score_ctes(repr(_RRF_TERMS), "lex")},
lex AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY round(score, 6) DESC, doc_id ASC
         ) AS INTEGER) AS rank_lex
  FROM lexscore
  ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {_RRF_TOPK}
), q AS (
  SELECT emb AS qv FROM e WHERE doc_id = 0
), vec AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY round({d_l2("e.emb", "q.qv")}, 6) ASC, doc_id ASC
         ) AS INTEGER) AS rank_vec
  FROM e, q
  ORDER BY round({d_l2("e.emb", "q.qv")}, 6) ASC, doc_id ASC
  LIMIT {_RRF_TOPK}
), fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.rank_lex, v.rank_vec,
         round(coalesce(1.0 / ({R.RRF_K} + l.rank_lex), 0.0)
               + coalesce(1.0 / ({R.RRF_K} + v.rank_vec), 0.0), 6) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
)
SELECT doc_id, rank_lex, rank_vec, rrf
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
"""


@query("q_rrf_fusion", oracle=_RRF_ORACLE)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 top-20 and stub-embedding L2 top-20 fused by
    reciprocal rank (1/(60+rank) summed over the lists containing the
    doc), final top-10. The production answer to "keyword OR vector?" —
    both, cheaply, at serving time.

    Scale: each arm keeps its native shape (posting-list BM25; TakeOrdered
    heap kNN); the fusion join touches <= 2k rows. Rank assignment happens
    AFTER the top-k truncation, so no global window ever sees the corpus."""
    d = load_table(spark, sf_dir, "documents")
    seeds = spark.createDataFrame([(t,) for t in _RRF_TERMS], "term: string")
    lex_top = (
        R.bm25_scores(d, seeds)
        .select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(_RRF_TOPK)
    )
    lex = lex_top.withColumn(
        "rank_lex",
        F.row_number().over(
            Window.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "rank_lex")
    emb = T.stub_embeddings_df(d, "doc_id", "text")
    qv = F.broadcast(
        emb.filter(F.col("doc_id") == 0).select(F.col("emb").alias("qv"))
    )
    vec_top = (
        emb.crossJoin(qv)
        .select(
            "doc_id",
            F.round(V.l2_dist("emb", "qv"), 6).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("doc_id").asc())
        .limit(_RRF_TOPK)
    )
    vec = vec_top.withColumn(
        "rank_vec",
        F.row_number().over(
            Window.orderBy(F.col("dist").asc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "rank_vec")
    return R.rrf_fuse(lex, vec).limit(10)


# --- MMR diversification ------------------------------------------------------

_MMR_CAND = 20
_MMR_K = 5
_MMR_LAM = 0.5


def _mmr_chain_sql(k: int, lam: float) -> str:
    """sel1..all{k} greedy-MMR CTE chain over an existing CTE named
    ``cand`` (doc_id, emb, rel) — THE single SQL mirror of
    operators.retrieval.mmr_select, shared by q_mmr_rerank and q_e2e_rag
    so the two oracles cannot drift."""
    parts = [
        """sel1 AS (
  SELECT doc_id, emb, rel, 1 AS mmr_rank FROM cand
  ORDER BY rel DESC NULLS LAST, doc_id ASC LIMIT 1
), all1 AS (SELECT * FROM sel1)"""
    ]
    for s in range(2, k + 1):
        p = s - 1
        parts.append(f"""rem{s} AS (
  SELECT c.* FROM cand c
  WHERE c.doc_id NOT IN (SELECT doc_id FROM all{p})
), ms{s} AS (
  SELECT r.doc_id, max(round({d_cosine("r.emb", "s.emb")}, 6)) AS ms
  FROM rem{s} r, all{p} s GROUP BY r.doc_id
), sel{s} AS (
  -- the WHERE mirrors mmr_select's NULL-score skip: a candidate whose
  -- similarity to every selected item is undefined (zero-norm vector)
  -- is unscoreable and must not be ranked by the NULLS-LAST tiebreak
  SELECT r.doc_id, r.emb, r.rel, {s} AS mmr_rank
  FROM rem{s} r JOIN ms{s} m ON r.doc_id = m.doc_id
  WHERE round({lam} * r.rel - {1.0 - lam} * m.ms, 6) IS NOT NULL
  ORDER BY round({lam} * r.rel - {1.0 - lam} * m.ms, 6)
           DESC, r.doc_id ASC
  LIMIT 1
), all{s} AS (SELECT * FROM all{p} UNION ALL SELECT * FROM sel{s})""")
    return ",\n".join(parts)


def _mmr_sql(k: int) -> str:
    """q_mmr_rerank's cand CTE (cosine-to-query top-20) + the shared
    greedy chain."""
    cand = f"""cand AS (
  SELECT e.doc_id, e.emb,
         (round({d_cosine("e.emb", "q.qv")}, 6) + 0.0) AS rel
  FROM e, q
  ORDER BY rel DESC NULLS LAST, doc_id ASC LIMIT {_MMR_CAND}
)"""
    return cand + ",\n" + _mmr_chain_sql(k, _MMR_LAM)


_MMR_ORACLE = f"""
WITH {_STUB_E_CTES},
q AS (
  SELECT emb AS qv FROM e WHERE doc_id = 0
),
{_mmr_sql(_MMR_K)}
SELECT doc_id, rel, mmr_rank FROM all{_MMR_K}
"""


@query("q_mmr_rerank", oracle=_MMR_ORACLE)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification: from the cosine top-20 to the query, greedily
    keep 5 results maximizing 0.5*relevance − 0.5*max-similarity-to-kept —
    the classic fix for near-duplicate hit lists (a corpus that passed
    near-dup ingest dedup can still return 5 copies of the same boilerplate
    for one query). The greedy loop runs as ONE fold expression
    over the gathered top-20 candidate array (see mmr_select) — one job,
    nothing collected to the driver."""
    d = load_table(spark, sf_dir, "documents")
    emb = T.stub_embeddings_df(d, "doc_id", "text")
    qv = F.broadcast(
        emb.filter(F.col("doc_id") == 0).select(F.col("emb").alias("qv"))
    )
    cand = (
        emb.crossJoin(qv)
        .select(
            "doc_id",
            "emb",
            (F.round(V.cosine_sim("emb", "qv"), 6) + 0.0)
            .alias("rel"),
        )
        .orderBy(F.col("rel").desc_nulls_last(), F.col("doc_id").asc())
        .limit(_MMR_CAND)
    )
    return R.mmr_select(cand, k=_MMR_K, lam=_MMR_LAM)


# --- pseudo-relevance-feedback query expansion -------------------------------

_PRF_SEEDS = ("spark", "join")
_PRF_DOCS = 3
_PRF_EXPAND = 2

_QE_ORACLE = f"""
WITH {_STUB_E_CTES},
{_BM25_STAT_CTES},
{_bm25_score_ctes(repr(_PRF_SEEDS), "seed")},
prf AS (
  SELECT doc_id FROM seedscore
  ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {_PRF_DOCS}
), prf_tf AS (
  SELECT wt.term, wt.doc_id, count(*) AS tf
  FROM wt JOIN prf USING (doc_id)
  WHERE wt.term NOT IN {_PRF_SEEDS!r}
  GROUP BY wt.term, wt.doc_id
), cand_df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM wt
  WHERE term IN (SELECT DISTINCT term FROM prf_tf)
  GROUP BY term
), expansion AS (
  SELECT term FROM (
    SELECT t.term,
           max(round(t.tf * (ln((stats.n_docs + 1.0) / (d.df + 1.0)) + 1.0),
                     6)) AS m
    FROM prf_tf t JOIN cand_df d USING (term), stats
    GROUP BY t.term
  ) ORDER BY m DESC, term ASC LIMIT {_PRF_EXPAND}
), q2 AS (
  SELECT unnest({list(_PRF_SEEDS)!r}) AS term
  UNION ALL SELECT term FROM expansion
),
{_bm25_score_ctes("(SELECT term FROM q2)", "fin")},
top AS (
  SELECT doc_id, round(score, 6) AS bm25 FROM finscore
  ORDER BY bm25 DESC, doc_id ASC LIMIT 10
)
SELECT doc_id, bm25,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INTEGER)
         AS rank
FROM top
"""


@query("q_query_expansion", oracle=_QE_ORACLE)
def q_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio-style): BM25 the seed terms, take
    the top-3 documents, mine their 2 strongest non-seed terms by smoothed
    TF-IDF (max across the feedback docs — max, not sum, so the choice is
    float-order independent), and re-run BM25 with the expanded term set.

    Scale: the expansion mining touches only |prf| documents' postings;
    the corpus-wide df lookup is filtered to the candidate terms before
    aggregating. Both BM25 passes are posting-list shaped.

    The four local checkpoints below are data-dependent stage boundaries,
    and each runs Spark jobs while the plan is built: calling
    ``localCheckpoint(eager=False)`` executes the stages upstream of it,
    so building this query runs the postings, the seed pass and the
    mining before the caller asks for a row."""
    d = load_table(spark, sf_dir, "documents")
    seeds = spark.createDataFrame([(t,) for t in _PRF_SEEDS], "term: string")
    # ONE tokenize/explode of the corpus, shared by both BM25 passes and
    # the expansion mining — three corpus scans otherwise. The plan
    # references this subtree ~8 times (seed-pass tf/df/dl/stats, the
    # mining tf/df, final-pass tf/df), and Spark re-executes a
    # non-exchanged subtree once per consumer; the lazy localCheckpoint
    # materializes the narrow (doc_id, term) rows once per invocation
    # (round-13 measurement: 4.30 s -> 3.73 s at sf0.1, hash-identical).
    # At scale this is the standard materialize-the-postings move — the
    # checkpoint holds two small columns, never the documents.
    # NOT repartitioned before the explode: an r14 experiment hashed the
    # documents by doc_id here (graph-family §2.4) so the checkpoint
    # materializes in parallel and the doc_id aggregates skip their
    # exchanges — measured WORSE (9.3 vs 5.3 s at sf0.1, task_time 28 →
    # 150 s): every broadcast-subquery below re-executes its subtree, and
    # a 32-partition checkpoint multiplies each re-execution's task count
    # by 32 while the per-task work is microseconds. The 1-3-split
    # materialization is the cheaper side of that trade at bench scale,
    # and at 100 TB the scan has more splits than cores anyway.
    terms = d.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    ).localCheckpoint(eager=False)
    # The mining step's n_docs comes from the same doc-length aggregate
    # both BM25 passes derive from ``terms``: all three consumers plan the
    # same subtree over the checkpointed postings, so exchange reuse runs
    # its shuffle once. dl is NOT checkpointed: a checkpoint here would
    # add a barrier job that AQE otherwise overlaps with the neighbouring
    # stages, and measured slower.
    dl = terms.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
    prf = (
        R.bm25_scores(d, seeds, postings=terms)
        .select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(_PRF_DOCS)
        .select("doc_id")
        # 3 rows. Un-checkpointed, the broadcast below re-runs the whole
        # seed BM25 pass once per prf_tf re-execution (round 14: prf_tf
        # itself is referenced twice, so the seed pass executed ~3x)
        .localCheckpoint(eager=False)
    )
    prf_tf = (
        terms.join(F.broadcast(prf), "doc_id")
        .filter(~F.col("term").isin(*_PRF_SEEDS))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
        # |terms in 3 docs| rows (hundreds); referenced by cand_terms'
        # broadcast AND the expansion join — one materialization, not two
        # postings re-scans (round 14, guide §5 reuse)
        .localCheckpoint(eager=False)
    )
    cand_terms = prf_tf.select("term").distinct()
    cand_df = (
        terms.join(F.broadcast(cand_terms), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    expansion = (
        prf_tf.join(F.broadcast(cand_df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
                    )
                    + 1.0
                ),
                6,
            ).alias("tfidf"),
        )
        .groupBy("term")
        .agg(F.max("tfidf").alias("m"))
        .orderBy(F.col("m").desc(), F.col("term").asc())
        .limit(_PRF_EXPAND)
        .select("term")
        # 2 rows: the final pass's term-set broadcast must not re-run the
        # whole mining chain (round 14, guide §5 reuse)
        .localCheckpoint(eager=False)
    )
    q2 = seeds.unionByName(expansion)
    top = (
        R.bm25_scores(d, q2, postings=terms)
        .select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        ),
    )


# --- prefix autocomplete ------------------------------------------------------

_COMPLETE_PREFIX_LEN = 2
_COMPLETE_TOPK = 3

_PREFIX_COMPLETE_ORACLE = f"""
WITH w AS (
  SELECT unnest({_WORDS}) AS term FROM documents
), tf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS freq FROM w
  WHERE length(term) >= {_COMPLETE_PREFIX_LEN}
  GROUP BY term
), ranked AS (
  SELECT substr(term, 1, {_COMPLETE_PREFIX_LEN}) AS prefix, term, freq,
         CAST(row_number() OVER (
           PARTITION BY substr(term, 1, {_COMPLETE_PREFIX_LEN})
           ORDER BY freq DESC, term ASC
         ) AS INTEGER) AS rnk
  FROM tf
)
SELECT prefix, term, freq, rnk FROM ranked WHERE rnk <= {_COMPLETE_TOPK}
"""


@query("q_prefix_complete", oracle=_PREFIX_COMPLETE_ORACLE)
def q_prefix_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete index: top-3 completions per 2-char prefix by corpus
    frequency — the precomputed table a search box reads on every
    keystroke. Scale shape: the corpus collapses to the vocabulary-sized
    term-frequency table first (Heaps' law); the per-prefix rank windows
    over that small table, partitioned by prefix. Ties break on the term,
    so the index is deterministic."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(T.tokens("text")).alias("term"))
        .filter(F.length("term") >= _COMPLETE_PREFIX_LEN)
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("prefix").orderBy(
        F.col("freq").desc(), F.col("term").asc()
    )
    return (
        tf.withColumn(
            "prefix", F.substring("term", 1, _COMPLETE_PREFIX_LEN)
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _COMPLETE_TOPK)
        .select("prefix", "term", "freq", "rnk")
    )


# --- end-to-end serving pipeline ---------------------------------------------
#
# The SERVING-side counterpart of q_e2e_corpus (which composes the
# training-data path scrub→quality→dedup→chunk→embed): gate the corpus
# with the Gopher quality rules, index the survivors, run hybrid search
# (BM25 + stub-vector kNN), fuse by reciprocal rank, diversify with MMR.
# One declared plan, oracle-exact end to end — the reference's whole
# search flow (app.py:178-186) upgraded with the round-2 retrieval layer.

_E2E_TERMS = ("spark", "join", "vector")
_E2E_TOPK = 20
_E2E_FUSED = 10
_E2E_FINAL = 5


_E2E_RAG_ORACLE = f"""
WITH gm AS (
  SELECT doc_id, {_WORDS} AS words FROM documents
), gstat AS (
  SELECT doc_id, words,
         len(words) AS n_words,
         coalesce(list_sum(list_transform(words, t -> length(t))), 0)
           AS n_wchars,
         len(list_filter(words, t -> t IN ({", ".join(f"{chr(39)}{w}{chr(39)}" for w in _GOPHER_STOPWORDS)}))) AS n_stop
  FROM gm
), kept AS MATERIALIZED (
  SELECT doc_id, words FROM gstat
  WHERE n_words >= {_MIN_WORDS} AND n_words <= {_MAX_WORDS}
    AND {_MWL_LO_DEN} * n_wchars >= {_MWL_LO_NUM} * n_words
    AND {_MWL_HI_DEN} * n_wchars <= {_MWL_HI_NUM} * n_words
    AND n_stop >= {_MIN_STOPWORDS}
), h AS (
  SELECT doc_id,
         list_transform(words,
           t -> instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) AS hashed
  FROM kept
), e AS MATERIALIZED (
  SELECT doc_id,
         list_transform(range(0, 16),
           d -> CAST(len(list_filter(hashed, x -> x = d)) AS DOUBLE)) AS emb
  FROM h
), hq AS (
  SELECT list_transform(words,
           t -> instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) AS hashed
  FROM gm WHERE doc_id = 0
), q AS (
  SELECT list_transform(range(0, 16),
           d -> CAST(len(list_filter(hashed, x -> x = d)) AS DOUBLE)) AS qv
  FROM hq
), wt AS (
  SELECT doc_id, unnest(words) AS term FROM kept
), dl AS (
  SELECT doc_id, count(*) AS dl FROM wt GROUP BY doc_id
), stats AS (
  SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl
),
{_bm25_score_ctes(repr(_E2E_TERMS), "lex")},
lex AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY round(score, 6) DESC, doc_id ASC
         ) AS INTEGER) AS rank_lex
  FROM lexscore
  ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {_E2E_TOPK}
), vec AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY round({d_l2("e.emb", "q.qv")}, 6) ASC, doc_id ASC
         ) AS INTEGER) AS rank_vec
  FROM e, q
  ORDER BY round({d_l2("e.emb", "q.qv")}, 6) ASC, doc_id ASC
  LIMIT {_E2E_TOPK}
), fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.rank_lex, v.rank_vec,
         round(coalesce(1.0 / ({R.RRF_K} + l.rank_lex), 0.0)
               + coalesce(1.0 / ({R.RRF_K} + v.rank_vec), 0.0), 6) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
), top AS (
  SELECT doc_id, rrf FROM fused
  ORDER BY rrf DESC, doc_id ASC LIMIT {_E2E_FUSED}
), cand AS MATERIALIZED (
  SELECT t.doc_id, e.emb, t.rrf AS rel
  FROM top t JOIN e ON t.doc_id = e.doc_id
),
{_mmr_chain_sql(_E2E_FINAL, 0.5)}
SELECT doc_id, rel AS rrf, mmr_rank FROM all{_E2E_FINAL}
"""


@query("q_e2e_rag", oracle=_E2E_RAG_ORACLE)
def q_e2e_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end serving pipeline, one declared plan: Gopher quality
    gate → BM25 and stub-vector arms over the surviving index → RRF
    fusion top-10 → greedy MMR down to 5 diverse results (relevance =
    fused score). The query embedding comes from the RAW corpus (a query
    needn't pass the index gate). Every stage is the already-verified
    operator; the composition itself is what this query pins.

    Scale: the gate is a zero-shuffle projection; both retrieval arms
    keep their corpus shapes (posting-list BM25, TakeOrdered kNN);
    fusion/MMR touch <= 20 rows."""
    d = load_table(spark, sf_dir, "documents")
    # ONE tokenize/explode feeds both the gate metrics and the BM25
    # postings (q_query_expansion's discipline; a doc with zero tokens
    # drops out of the aggregate and fails the min-words gate either
    # way). The stub-embedding arm is the only second tokenize pass —
    # its bucket-count aggregate needs its own shape.
    terms_all = d.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    )
    kept_ids = (
        terms_all.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("term").cast("long")).alias("n_wchars"),
            F.sum(
                F.col("term").isin(*_GOPHER_STOPWORDS).cast("long")
            ).alias("n_stop"),
        )
        .filter(
            (F.col("n_words") >= _MIN_WORDS)
            & (F.col("n_words") <= _MAX_WORDS)
            & (
                _MWL_LO_DEN * F.col("n_wchars")
                >= _MWL_LO_NUM * F.col("n_words")
            )
            & (
                _MWL_HI_DEN * F.col("n_wchars")
                <= _MWL_HI_NUM * F.col("n_words")
            )
            & (F.col("n_stop") >= _MIN_STOPWORDS)
        )
        .select("doc_id")
    )
    kept = d.join(kept_ids, "doc_id").select("doc_id", "text")
    postings = terms_all.join(kept_ids, "doc_id")
    seeds = spark.createDataFrame([(t,) for t in _E2E_TERMS], "term: string")
    lex_top = (
        R.bm25_scores(kept, seeds, postings=postings)
        .select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(_E2E_TOPK)
    )
    lex = lex_top.withColumn(
        "rank_lex",
        F.row_number().over(
            Window.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "rank_lex")
    emb = T.stub_embeddings_df(kept, "doc_id", "text")
    qv = F.broadcast(
        T.stub_embeddings_df(
            d.filter(F.col("doc_id") == 0), "doc_id", "text"
        ).select(F.col("emb").alias("qv"))
    )
    vec_top = (
        emb.crossJoin(qv)
        .select(
            "doc_id",
            F.round(V.l2_dist("emb", "qv"), 6).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("doc_id").asc())
        .limit(_E2E_TOPK)
    )
    vec = vec_top.withColumn(
        "rank_vec",
        F.row_number().over(
            Window.orderBy(F.col("dist").asc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "rank_vec")
    top = R.rrf_fuse(lex, vec).limit(_E2E_FUSED).select("doc_id", "rrf")
    cand = top.join(emb, "doc_id").select(
        "doc_id", "emb", F.col("rrf").alias("rel")
    )
    out = R.mmr_select(cand, k=_E2E_FINAL, lam=0.5)
    return out.select("doc_id", F.col("rel").alias("rrf"), "mmr_rank")
