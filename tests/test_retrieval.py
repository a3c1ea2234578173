"""Semantics pins for the retrieval-serving family: BM25 dynamic terms,
reciprocal-rank fusion, greedy MMR — literal corpora where the expected
behavior is hand-checkable, plus fixture non-vacuousness (MMR must
actually reorder; expansion must actually add terms)."""

import os

import pytest

from pyspark.sql import functions as F

from create_proposals_using_vector_db_public_spark.operators import retrieval as R
from create_proposals_using_vector_db_public_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"

needs_fixture = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata absent"
)


def test_bm25_rare_term_outscores_common(spark):
    """A doc matching a rare query term must outscore a doc matching a
    corpus-wide common term (idf dominance)."""
    docs = spark.createDataFrame(
        [
            (1, "rare common filler words here"),
            (2, "common filler words here today"),
            (3, "common stuff all over again"),
            (4, "common things everywhere as usual"),
        ],
        "doc_id: long, text: string",
    )
    terms = spark.createDataFrame([("rare",), ("common",)], "term: string")
    scores = {
        r["doc_id"]: r["score"]
        for r in R.bm25_scores(docs, terms).collect()
    }
    assert set(scores) == {1, 2, 3, 4}
    assert scores[1] > scores[2]  # rare+common beats common alone


def test_bm25_shared_postings_score_bit_for_bit_the_same(spark):
    """Passing the caller's exploded postings changes where the (id, term)
    rows come from, not the scores: doc lengths and corpus stats are
    derived from the postings either way."""
    from create_proposals_using_vector_db_public_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            (1, "spark join vector spark"),
            (2, "join the  tables\tagain"),
            (3, "vector search over vector data"),
            (4, ""),
        ],
        "doc_id: long, text: string",
    )
    terms = spark.createDataFrame([("spark",), ("vector",)], "term: string")
    p = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))

    def scores(df):
        return {r["doc_id"]: r["score"] for r in df.collect()}

    own = scores(R.bm25_scores(docs, terms))
    shared = scores(R.bm25_scores(docs, terms, postings=p))
    assert own == shared and set(own) == {1, 3}


def test_bm25_matches_the_formula_in_python(spark):
    """Robertson BM25 on a literal corpus, k1 = BM25_K1 and b = BM25_B:
    idf = ln(1 + (N - df + 0.5) / (df + 0.5)) and
    tf part = tf (k1 + 1) / (tf + k1 (1 - b + b dl / avgdl))."""
    import math

    texts = {
        1: "apple banana apple cherry",
        2: "banana banana date",
        3: "cherry date elder fig grape",
        4: "apple",
    }
    query = ("apple", "banana")
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id: long, text: string"
    )
    terms = spark.createDataFrame([(t,) for t in query], "term: string")
    words = {d: t.split() for d, t in texts.items()}
    avgdl = sum(len(w) for w in words.values()) / len(words)
    k1, b = R.BM25_K1, R.BM25_B
    want = {}
    for d, w in words.items():
        for term in query:
            tf = w.count(term)
            if tf:
                df = sum(term in ws for ws in words.values())
                idf = math.log(1.0 + (len(words) - df + 0.5) / (df + 0.5))
                want[d] = want.get(d, 0.0) + idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * len(w) / avgdl)
                )
    got = {r["doc_id"]: r["score"] for r in R.bm25_scores(docs, terms).collect()}
    assert set(got) == set(want) == {1, 2, 4}
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12), d


def test_rrf_doc_in_both_lists_wins(spark):
    left = spark.createDataFrame(
        [(10, 1), (20, 2)], "doc_id: long, rank_lex: int"
    )
    right = spark.createDataFrame(
        [(20, 1), (30, 2)], "doc_id: long, rank_vec: int"
    )
    rows = R.rrf_fuse(left, right).collect()
    assert [r["doc_id"] for r in rows] == [20, 10, 30]
    # doc 20: 1/62 + 1/61; doc 10: 1/61 only; doc 30: 1/62 only
    assert rows[0]["rrf"] == round(1 / 62 + 1 / 61, 6)
    assert rows[1]["rrf"] == round(1 / 61, 6)
    assert rows[1]["rank_vec"] is None and rows[2]["rank_lex"] is None


def test_mmr_prefers_diverse_over_near_duplicate(spark):
    """Candidates: id 1 most relevant; id 2 slightly less relevant but a
    near-copy of 1; id 3 less relevant but orthogonal. With lam=0.5 MMR
    must pick 3 before 2."""
    cand = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0.99),
            (2, [1.0, 0.01], 0.98),
            (3, [0.0, 1.0], 0.50),
        ],
        "doc_id: long, emb: array<double>, rel: double",
    )
    out = {
        r["mmr_rank"]: r["doc_id"]
        for r in R.mmr_select(cand, k=3, lam=0.5).collect()
    }
    assert out == {1: 1, 2: 3, 3: 2}


def test_mmr_lambda_one_is_pure_relevance(spark):
    cand = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0.9),
            (2, [1.0, 0.001], 0.8),
            (3, [0.0, 1.0], 0.1),
        ],
        "doc_id: long, emb: array<double>, rel: double",
    )
    out = {
        r["mmr_rank"]: r["doc_id"]
        for r in R.mmr_select(cand, k=3, lam=1.0).collect()
    }
    assert out == {1: 1, 2: 2, 3: 3}


@needs_fixture
def test_mmr_actually_reorders_on_fixture(spark):
    """If greedy MMR never deviated from relevance order on the fixture,
    the query would be a vacuous re-implementation of top-k."""
    mmr = {
        r["mmr_rank"]: r["doc_id"]
        for r in QUERIES["q_mmr_rerank"](spark, SF).collect()
    }
    assert len(mmr) == 5 and mmr[1] == 0  # query doc itself leads
    # relevance order of the same candidate pool
    rel_sorted = [
        r["doc_id"]
        for r in QUERIES["q_mmr_rerank"](spark, SF)
        .orderBy(F.col("rel").desc(), F.col("doc_id").asc())
        .collect()
    ]
    mmr_order = [mmr[k] for k in sorted(mmr)]
    assert mmr_order != rel_sorted, "MMR output is pure relevance order"


@needs_fixture
def test_query_expansion_changes_ranking(spark):
    """The expanded query must produce a different top-10 than the seed
    terms alone (otherwise PRF added nothing on the fixture)."""
    from create_proposals_using_vector_db_public_spark.plans.retrieval_queries import (
        _PRF_SEEDS,
    )
    from create_proposals_using_vector_db_public_spark.sources import load_table

    d = load_table(spark, SF, "documents")
    seeds = spark.createDataFrame([(t,) for t in _PRF_SEEDS], "term: string")
    seed_only = [
        r["doc_id"]
        for r in R.bm25_scores(d, seeds)
        .select("doc_id", F.round("score", 6).alias("b"))
        .orderBy(F.col("b").desc(), F.col("doc_id").asc())
        .limit(10)
        .collect()
    ]
    expanded = [
        r["doc_id"] for r in QUERIES["q_query_expansion"](spark, SF).collect()
    ]
    assert expanded != seed_only


@needs_fixture
def test_rrf_fuses_both_arms_on_fixture(spark):
    rows = QUERIES["q_rrf_fusion"](spark, SF).collect()
    assert len(rows) == 10
    # at least one doc must come from each arm or from both
    assert any(r["rank_lex"] is not None for r in rows)
    assert any(r["rank_vec"] is not None for r in rows)


# --- edge cases ---------------------------------------------------------------

def test_mmr_k_exceeding_candidates_returns_all(spark):
    cand = spark.createDataFrame(
        [(1, [1.0, 0.0], 0.9), (2, [0.0, 1.0], 0.5)],
        "doc_id: long, emb: array<double>, rel: double",
    )
    out = R.mmr_select(cand, k=5, lam=0.5).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2]
    assert sorted(r["mmr_rank"] for r in out) == [1, 2]


def test_rrf_one_empty_side_keeps_other(spark):
    left = spark.createDataFrame([(10, 1)], "doc_id: long, rank_lex: int")
    right = spark.createDataFrame([], "doc_id: long, rank_vec: int")
    rows = R.rrf_fuse(left, right).collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 10 and rows[0]["rank_vec"] is None
    assert rows[0]["rrf"] == round(1 / 61, 6)


def test_bm25_empty_term_set_scores_nothing(spark):
    docs = spark.createDataFrame(
        [(1, "some words here")], "doc_id: long, text: string"
    )
    terms = spark.createDataFrame([], "term: string")
    assert R.bm25_scores(docs, terms).count() == 0


def test_bm25_duplicate_terms_do_not_double_count(spark):
    docs = spark.createDataFrame(
        [(1, "spark spark other"), (2, "other words here")],
        "doc_id: long, text: string",
    )
    once = spark.createDataFrame([("spark",)], "term: string")
    twice = spark.createDataFrame([("spark",), ("spark",)], "term: string")
    s1 = {r["doc_id"]: r["score"] for r in R.bm25_scores(docs, once).collect()}
    s2 = {r["doc_id"]: r["score"] for r in R.bm25_scores(docs, twice).collect()}
    assert s1 == s2


def test_mmr_select_skips_unscoreable_zero_vector(spark):
    """A candidate whose cosine to every selected item is undefined
    (zero-norm vector) must be SKIPPED by the greedy argmax, not ranked
    by id through the desc-sort's NULLS-LAST (regression: hypothesis
    found [(rel 0, [0,0,0]), (rel 0, [0,0,1])] ranked the zero-vector
    doc first, then selected the unscoreable survivor anyway)."""
    from create_proposals_using_vector_db_public_spark.operators import retrieval as R

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0], 0.0), (1, [0.0, 0.0, 1.0], 0.0)],
        "doc_id long, emb array<double>, rel double",
    )
    got = sorted(
        (r.doc_id, r.mmr_rank)
        for r in R.mmr_select(df, k=2, lam=0.5).collect()
    )
    # doc 0 wins step 1 on the (rel desc, id asc) tie-break; doc 1's only
    # sim is vs the zero vector -> NULL -> unscoreable -> dropped
    assert got == [(0, 1)]


def test_mmr_oracle_chain_mirrors_null_score_skip(spark):
    """The DuckDB greedy chain (_mmr_chain_sql) must implement the SAME
    unscoreable-candidate skip as mmr_select — review r3 found the oracle
    still ranking a NULL-scored zero-vector candidate via NULLS LAST
    while Spark dropped it, a latent parity break on any corpus with an
    empty-text (zero-vector) doc in the MMR candidate set."""
    import duckdb

    from create_proposals_using_vector_db_public_spark.operators import retrieval as R
    from create_proposals_using_vector_db_public_spark.plans.retrieval_queries import _mmr_chain_sql

    sql = (
        "WITH cand AS (SELECT * FROM (VALUES "
        "(0, [0.0, 0.0, 0.0], 0.0), (1, [0.0, 0.0, 1.0], 0.0)"
        ") AS t(doc_id, emb, rel)),\n"
        + _mmr_chain_sql(2, 0.5)
        + "\nSELECT doc_id, mmr_rank FROM all2 ORDER BY mmr_rank"
    )
    duck = duckdb.sql(sql).fetchall()
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0], 0.0), (1, [0.0, 0.0, 1.0], 0.0)],
        "doc_id long, emb array<double>, rel double",
    )
    got = sorted(
        (r.doc_id, r.mmr_rank)
        for r in R.mmr_select(df, k=2, lam=0.5).collect()
    )
    assert sorted(duck) == got == [(0, 1)]
