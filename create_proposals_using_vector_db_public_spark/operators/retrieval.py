"""Retrieval-serving operators: BM25 scoring with a dynamic term set,
reciprocal-rank fusion, and maximal-marginal-relevance re-ranking.

The reference is a document-retrieval app (top-k vector search feeding an
LLM, ``app.py:178-186``); these are the standard IR compositions a
production retrieval layer adds on top of the flagship kNN: lexical+vector
hybrid search (RRF), result diversification (MMR), and pseudo-relevance-
feedback expansion (built from :func:`bm25_scores` in the plans layer).
All are public-textbook algorithms (Robertson BM25; Cormack et al. 2009
RRF; Carbonell & Goldstein 1998 MMR).

Scale shape: these run AFTER candidate generation, so their inputs are
top-k-bounded (tens of rows per query) — the expensive part is the
upstream scan/kNN, which keeps its heap-top-k / posting-list shapes. BM25
itself is posting-list shaped: the term filter collapses the corpus to
|query_terms| postings before any shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vectors as V

BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60


def bm25_weight() -> Column:
    """The Robertson BM25 weight of one (document, term) posting group —
    idf(df, n_docs) x saturated tf(tf, dl, avgdl), with k1 = ``BM25_K1``
    and b = ``BM25_B`` — over the columns ``tf``, ``df``, ``dl``,
    ``avgdl`` and ``n_docs``. A document's score is the sum of its
    weights over the query terms; every BM25 plan sums this one Column."""
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return idf * tf_part


def bm25_scores(
    docs: DataFrame,
    query_terms: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
) -> DataFrame:
    """BM25 score per document for a *dynamic* query-term set (a 1-column
    ``term`` DataFrame, always broadcast, deduplicated to IN-set
    semantics) — the data-dependent variant of the fixed-term q_bm25,
    needed by pseudo-relevance feedback where the expanded term set is
    computed, not literal.

    Returns (id_col, score) with the raw double score — callers round at
    their declared precision. Document lengths and the 1-row corpus
    stats (avgdl, n_docs) are derived from the same postings the term
    frequencies come from, so they cannot describe another corpus. Pass
    ``postings`` (an exploded (id, term) frame) when the caller runs
    several BM25 passes over the same corpus: the tokenize/explode scan
    then happens once, and every pass's doc-length aggregate is the same
    subtree, which exchange reuse shuffles once.
    """
    terms = (
        postings
        if postings is not None
        else docs.select(
            F.col(id_col), F.explode(T.tokens(text_col)).alias("term")
        )
    )
    dl = terms.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
    # distinct: the declared semantics are an IN-set (the oracles' WHERE
    # term IN ...); a duplicated input term must not double-count postings
    qterms = terms.join(
        F.broadcast(query_terms.select("term").distinct()), "term"
    )
    tf = qterms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # df per term == COUNT(DISTINCT id) over the filtered postings == the
    # number of (id, term) groups, i.e. tf's row count per term — deriving
    # it from tf shares the filtered-postings scan + (id, term) exchange
    # with the tf aggregate instead of re-scanning the postings for a
    # second, distinct-expanded aggregation (the integer is identical by
    # definition, so scores are bit-identical)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(bm25_weight()).alias("score"))
    )


def rrf_fuse(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    left_rank: str = "rank_lex",
    right_rank: str = "rank_vec",
    k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists (Cormack et
    al. 2009): full-outer join on the id, score = Σ 1/(k + rank) over the
    lists that contain the doc. Deterministic: the score is one or two
    exact double divisions added once (no order-dependent accumulation),
    rounded to 6dp; ties break on the id. Both inputs are top-k-bounded,
    so the join is trivially small at serving time."""
    fused = left.join(right, id_col, "full_outer").select(
        id_col,
        left_rank,
        right_rank,
        F.round(
            F.coalesce(1.0 / (k + F.col(left_rank)), F.lit(0.0))
            + F.coalesce(1.0 / (k + F.col(right_rank)), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col(id_col).asc())


def mmr_select(
    cand: DataFrame,
    k: int,
    lam: float = 0.5,
    id_col: str = "doc_id",
    vec_col: str = "emb",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    greedily pick ``k`` items maximizing lam*relevance − (1−lam)*max
    cosine-similarity to the already-selected set. Returns (id, rel,
    mmr_rank).

    The candidate set is top-k-bounded upstream (tens of rows), so the
    whole greedy loop fits in ONE expression: gather the candidates into
    a single array row, then fold ``sequence(2, k)`` with nested
    higher-order functions — each step scores the remaining candidates
    against the selected prefix (max of 6dp-rounded cosines, NULL sims
    skipped exactly like the aggregate MAX they replace) and appends the
    argmax (ties on the rounded score break by id; a candidate whose
    score is NULL — zero-norm vector against every selected item, or a
    NULL relevance — is skipped). The selection array's position IS the
    mmr_rank: a step that finds no scoreable candidate appends nothing,
    and later steps then cannot either (same remaining set, same scores),
    so ranks stay contiguous.

    The whole selection is one Spark job whatever k is (an unrolled
    k-step driver loop runs one argmax job and one localCheckpoint per
    step: q_mmr_rerank took 1.83 s that way against ~0.5 s for the fold). The fold computes the same scores and tie-breaks as a
    per-step greedy chain with one ``MAX(round(cosine, 6))`` per step,
    which is what the DuckDB oracle runs.

    Scale: the single gathered row holds the top-k candidates (k ≤ tens),
    bounded by construction — never corpus data."""
    if k < 1:
        raise ValueError(f"mmr_select needs k >= 1, got {k}")
    i, v, r = f"`{id_col}`", f"`{vec_col}`", f"`{rel_col}`"

    def sc(ref: str) -> str:
        """round(lam*rel − (1−lam)*maxsim, 6) for candidate ``ref``, where
        maxsim is the max over the selected prefix ``acc`` of the rounded
        cosine, skipping NULLs — MAX's NULL semantics (NULL only when
        every sim is NULL). NULL rel or NULL maxsim make the score NULL,
        so the candidate is skipped."""
        sim = f"round({V.s_cosine_sim(f'{ref}.{v}', f's.{v}')}, 6)"
        ms = (
            f"aggregate(acc, CAST(NULL AS DOUBLE), (m, s) -> "
            f"CASE WHEN {sim} IS NULL THEN m "
            f"WHEN m IS NULL OR {sim} > m THEN {sim} ELSE m END)"
        )
        return f"round({lam!r}D * {ref}.{r} - {(1.0 - lam)!r}D * {ms}, 6)"

    # one greedy step: argmax score over the not-yet-selected candidates,
    # as a 0-or-1-element array (empty when nothing is scoreable)
    best = (
        f"aggregate(cs, slice(cs, 1, 0), (b, c) -> CASE "
        f"WHEN exists(acc, s -> s.{i} = c.{i}) THEN b "
        f"WHEN {sc('c')} IS NULL THEN b "
        f"WHEN size(b) = 0 THEN array(c) "
        f"WHEN {sc('c')} > {sc('b[0]')} THEN array(c) "
        f"WHEN {sc('c')} = {sc('b[0]')} AND c.{i} < b[0].{i} THEN array(c) "
        f"ELSE b END)"
    )
    # first pick: pure relevance, DESC with NULLs last, ties by id —
    # the fold mirror of ORDER BY rel DESC NULLS LAST, id ASC LIMIT 1
    pick1 = (
        f"aggregate(cs, slice(cs, 1, 0), (b, c) -> CASE "
        f"WHEN size(b) = 0 THEN array(c) "
        f"WHEN c.{r} IS NULL AND b[0].{r} IS NULL THEN "
        f"IF(c.{i} < b[0].{i}, array(c), b) "
        f"WHEN c.{r} IS NULL THEN b "
        f"WHEN b[0].{r} IS NULL THEN array(c) "
        f"WHEN c.{r} > b[0].{r} THEN array(c) "
        f"WHEN c.{r} = b[0].{r} AND c.{i} < b[0].{i} THEN array(c) "
        f"ELSE b END)"
    )
    # k == 1 must NOT fold: sequence(2, 1) is Spark's DESCENDING sequence
    # [2, 1] — two spurious extra steps, not zero
    sel = (
        pick1
        if k == 1
        else f"aggregate(sequence(2, {int(k)}), {pick1}, "
        f"(acc, st) -> concat(acc, {best}))"
    )
    gathered = cand.select(id_col, vec_col, rel_col).agg(
        F.collect_list(F.struct(id_col, vec_col, rel_col)).alias("cs")
    )
    return gathered.select(
        F.posexplode(F.expr(sel)).alias("__pos", "__s")
    ).select(
        F.col(f"__s.{i}").alias(id_col),
        F.col(f"__s.{r}").alias(rel_col),
        (F.col("__pos") + 1).cast("int").alias("mmr_rank"),
    )
