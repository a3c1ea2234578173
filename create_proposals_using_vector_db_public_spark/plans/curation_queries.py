"""Corpus-curation declared queries, round 2 batch 8: Gopher-style rule
filtering, CCNet-style cross-document line dedup, SemDeDup
(embedding-cluster near-dup removal, Abbas et al. 2023), and n-gram
diversity profiling.

These are the document-quality / semantic-dedup steps a pre-training data
pipeline runs between raw ingest and tokenization — the north-star
cleaning family (BASELINE.json:6) at the *corpus policy* level, where
round 1's dedup family worked at the *pairwise signature* level.

Threshold discipline: every rule below is verified non-vacuous on the
driver fixture at sf0.001, sf0.01 AND sf0.1 (some rows pass, some fail),
with the production-default values recorded in the docstrings where the
fixture-discriminating value differs.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..operators import dedup as D
from ..operators import knn as K
from ..sources import load_table
from .duck import d_cosine, d_dot, d_l2, d_normalize, dd, d_words
from .registry import query

# --- Gopher-style quality rules ---------------------------------------------

# Rule constants. Gopher (Rae et al. 2021, table A1) uses word count in
# [50, 100k], mean word length in [3, 10], and >=2 of a small stopword set.
# The fixture's word-soup docs all have mean word length in [3.5, 5.8], so
# the production [3, 10] band would pass every row (a vacuous check); the
# band below is narrowed to (3.75, 5.0) — expressed as exact integer
# cross-multiplications — so the rule genuinely discriminates at every SF.
_MIN_WORDS = 50
_MAX_WORDS = 100_000
# mean word length bounds as integer ratios: 15/4 = 3.75, 5/1 = 5.0
_MWL_LO_NUM, _MWL_LO_DEN = 15, 4
_MWL_HI_NUM, _MWL_HI_DEN = 5, 1
_GOPHER_STOPWORDS = ("the", "a")
_MIN_STOPWORDS = 2

_GOPHER_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {d_words()} AS words FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(words, t -> length(t))), 0)
              AS BIGINT) AS n_wchars,
         CAST(len(list_filter(words,
           t -> t IN ({", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)})))
           AS BIGINT) AS n_stop
  FROM w
)
SELECT doc_id, n_words, n_wchars, n_stop,
       n_words >= {_MIN_WORDS} AND n_words <= {_MAX_WORDS} AS ok_count,
       {_MWL_LO_DEN} * n_wchars >= {_MWL_LO_NUM} * n_words
         AND {_MWL_HI_DEN} * n_wchars <= {_MWL_HI_NUM} * n_words
         AS ok_meanlen,
       n_stop >= {_MIN_STOPWORDS} AS ok_stop,
       (n_words >= {_MIN_WORDS} AND n_words <= {_MAX_WORDS})
         AND ({_MWL_LO_DEN} * n_wchars >= {_MWL_LO_NUM} * n_words
              AND {_MWL_HI_DEN} * n_wchars <= {_MWL_HI_NUM} * n_words)
         AND (n_stop >= {_MIN_STOPWORDS}) AS keep
FROM m
"""


@query("q_gopher_quality", oracle=_GOPHER_ORACLE)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality rules: word-count band, mean word
    length band, and minimum stopword presence, plus the conjunctive keep
    flag (Rae et al. 2021 §A1.1 — public paper, reimplemented).

    Everything is exact integer arithmetic — mean word length is never
    materialized as a float; the band test is a cross-multiplication — so
    the result is hash-exact under any partitioning. Scale shape: one
    narrow scan, per-row expressions only, zero shuffles; at 100 TB this
    is the cheapest possible full-corpus pass (plan: project over scan)."""
    d = load_table(spark, sf_dir, "documents")
    words = T.tokens("text")
    m = d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.coalesce(
            F.aggregate(
                F.transform(words, lambda t: F.length(t).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
            F.lit(0),
        ).cast("long").alias("n_wchars"),
        F.size(
            F.filter(words, lambda t: t.isin(*_GOPHER_STOPWORDS))
        ).cast("long").alias("n_stop"),
    )
    ok_count = (F.col("n_words") >= _MIN_WORDS) & (
        F.col("n_words") <= _MAX_WORDS
    )
    ok_meanlen = (
        F.lit(_MWL_LO_DEN) * F.col("n_wchars")
        >= F.lit(_MWL_LO_NUM) * F.col("n_words")
    ) & (
        F.lit(_MWL_HI_DEN) * F.col("n_wchars")
        <= F.lit(_MWL_HI_NUM) * F.col("n_words")
    )
    ok_stop = F.col("n_stop") >= _MIN_STOPWORDS
    return m.select(
        "doc_id",
        "n_words",
        "n_wchars",
        "n_stop",
        ok_count.alias("ok_count"),
        ok_meanlen.alias("ok_meanlen"),
        ok_stop.alias("ok_stop"),
        (ok_count & ok_meanlen & ok_stop).alias("keep"),
    )


# --- CCNet-style cross-document line dedup -----------------------------------

_LINE_WORDS = 3

_LINE_DEDUP_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {d_words()} AS words FROM documents
), l AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(ceil(len(words) / {_LINE_WORDS}.0) AS BIGINT)),
           i -> md5(array_to_string(
                  words[i*{_LINE_WORDS}+1:i*{_LINE_WORDS}+{_LINE_WORDS}],
                  ' '))) AS lhs
  FROM w WHERE len(words) > 0
), fl AS (
  SELECT doc_id, generate_subscripts(lhs, 1) - 1 AS line_idx,
         unnest(lhs) AS lh
  FROM l
), ranked AS (
  SELECT doc_id, lh,
         row_number() OVER (
           PARTITION BY lh ORDER BY doc_id ASC, line_idx ASC
         ) AS rn
  FROM fl
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS kept_ratio
FROM ranked
GROUP BY doc_id
"""


@query("q_line_dedup", oracle=_LINE_DEDUP_ORACLE)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document line dedup (Wenzek et al. 2019 §3.1):
    split every document into disjoint 3-word lines, keep only the first
    global occurrence of each line (ordered by doc_id, line position), and
    report per-document retention. The fixture corpus genuinely repeats
    short word sequences across documents (9476 lines / 7643 distinct at
    sf0.001), so retention < 1 at every SF.

    Scale shape: lines are hashed (md5) BEFORE the shuffle, so the
    keep-first window moves 16-byte keys, never text; the window per line
    hash is the same one shuffle a groupBy would need. At 100 TB this is
    the standard one-pass line dedup — CCNet shards exactly this way."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("w")
    lines = F.transform(
        F.sequence(
            F.lit(0),
            F.ceil(F.size(w) / F.lit(float(_LINE_WORDS))).cast("int") - 1,
        ),
        lambda i: F.md5(
            F.array_join(F.slice(w, i * _LINE_WORDS + 1, _LINE_WORDS), " ")
        ),
    )
    fl = (
        # rlike(\S) iff tokens(text) is non-empty — the cheap predicate must
        # match the tokenizer's SEPARATOR CLASS (Java \s+), not Spark trim's
        # ASCII-space-only strip: a tabs-only doc passes length(trim(..)) > 0
        # yet tokenizes to [], and ceil(0/3)-1 then fabricates a bogus
        # md5("") line the oracle (len(words) > 0) never sees. Still
        # split-free so the scan stage never re-runs the tokenize transform
        # (see operators/dedup.py ngram_jaccard_pairs for that failure mode)
        d.filter(F.col("text").rlike(r"\S"))
        .select("doc_id", T.tokens("text").alias("w"))
        .select("doc_id", F.posexplode(lines).alias("line_idx", "lh"))
    )
    w = Window.partitionBy("lh").orderBy(
        F.col("doc_id").asc(), F.col("line_idx").asc()
    )
    ranked = fl.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("kept_ratio"),
    )


# --- SemDeDup: embedding-cluster near-dup removal ----------------------------

# Cosine threshold: within-cluster pair similarity on the fixture tops out
# near 0.49 with ~1% of pairs above 0.3, so 0.3 discriminates at every SF.
# SemDeDup production values are 0.95+ on real (anisotropic) embedding
# spaces; the knob is the operator parameter, the semantics are identical.
# Centroid count scales with corpus size, exactly as the paper does (11k
# clusters for 5B embeddings): pair work is sum c_i^2, so with a fixed
# target cluster size the pair stage is linear in n. The floor of 32 is
# the measured sf0.1 optimum (18.7s -> ~2s vs the q_ann_ivf 8-cluster
# fixture); 625 = 20k/32, the sf1-verified cluster size, so every scale
# factor up to sf1 keeps the exact centroid set it was verified with.
# The sf1 -> sf10 proof forced this: at 200k vectors a fixed 32-key
# codebook makes within-cluster pairs grow 100x (the same defect class
# as the pre-fix q_dedup_embedding label blocks).
_SEMDEDUP_TAU = 0.3
_SEMDEDUP_NCENT = 32
_SEMDEDUP_CSIZE = 625
# Production cap on the centroid count (round 10). The paper-faithful
# proportional default ncent = max(32, n // 625) keeps the PAIR stage
# linear in n but makes the exact brute-force ASSIGNMENT stage
# n x ncent = n^2/625 — quadratic total compute, measured at the
# round-9 sf30 probe (assignment grew 8.66x for 3x data; SCALE.md
# "Round-9 sf30 spot-check"). Capping ncent at the largest verified
# codebook (320 = the sf10 operating point, 200_000 // 625) pins
# assignment work at <= n*320 — exactly linear in n from the knee at
# n = cap*625 onward — while pair work above that knee grows as
# n^2/cap instead of 625n. The cap is therefore the owner's
# compute-budget dial, not a free lunch: the round-10 pricing in
# SCALE.md measures both stages for both configs at sf1/sf10/sf30 in
# one host window, records the kept-set delta where the configs
# diverge, and derives the unbudgeted compute-optimal setting
# (ncent ~ sqrt(n), total ~ n^1.5 — the exact-semantics lower envelope
# of this one-level family; approximate routers and norm-bound pruning
# are forbidden by oracle exactness, see the round-9 adjudication).
_SEMDEDUP_NCENT_CAP = 320


def _semdedup_ncent(
    n: int, cap: int | None = None, sqrt_coef: float | None = None
) -> int:
    """Centroid count for a corpus of n vectors: the paper-proportional
    max(32, n // 625), optionally capped (the budget config), or —
    when sqrt_coef is given — max(32, floor(sqrt_coef * sqrt(n))), the
    unbudgeted compute-optimal setting of the same knob.

    ``cap`` and ``sqrt_coef`` are mutually exclusive: a cap has nothing
    to bound on the sqrt curve (sub-linear everywhere), so a caller
    passing both is confusing two configs — fail loudly rather than
    silently ignore the cap (round-11 ADVICE)."""
    if sqrt_coef is not None and cap is not None:
        raise ValueError(
            "cap and sqrt_coef are mutually exclusive SemDeDup configs; "
            f"got cap={cap!r} and sqrt_coef={sqrt_coef!r}"
        )
    if sqrt_coef is not None:
        return max(_SEMDEDUP_NCENT, math.floor(sqrt_coef * math.sqrt(n)))
    ncent = max(_SEMDEDUP_NCENT, n // _SEMDEDUP_CSIZE)
    return ncent if cap is None else min(ncent, cap)


_SEMDEDUP_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, {dd("embedding")} AS cv
  FROM embeddings
  WHERE vec_id < (SELECT greatest({_SEMDEDUP_NCENT},
                                  count(*) // {_SEMDEDUP_CSIZE})
                  FROM embeddings)
), assign_scored AS (
  -- narrow columns only: the n x ncent argmin window must not carry the
  -- embedding array through its sort (at sf10 that is a 64M-row x ~550B
  -- working set that OOMs a 50 GiB budget mid-sweep; vec_id+centroid_id+
  -- cdist is ~20B/row). The winner's embedding is re-joined by the
  -- unique vec_id afterward — result-identical, proven old-vs-new.
  SELECT e.vec_id, c.centroid_id,
         round({d_l2(dd("e.embedding"), "c.cv")}, 6) AS cdist
  FROM embeddings e, cents c
), assigned0 AS (
  SELECT vec_id, centroid_id
  FROM (
    SELECT vec_id, centroid_id, row_number() OVER (
      PARTITION BY vec_id ORDER BY cdist ASC, centroid_id ASC
    ) AS rn
    FROM assign_scored
  ) WHERE rn = 1
), assigned AS (
  SELECT b.vec_id, b.centroid_id,
         {d_normalize(dd("e.embedding"))} AS vh
  FROM assigned0 b JOIN embeddings e ON e.vec_id = b.vec_id
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round({d_dot("a.vh", "b.vh")}, 6) > {_SEMDEDUP_TAU}
)
SELECT s.vec_id, s.centroid_id
FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
WHERE d.vec_id IS NULL
"""


@query("q_semdedup", oracle=_SEMDEDUP_ORACLE)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper): coarse-cluster the
    embedding space, then inside each cluster drop every vector whose
    cosine similarity to a LOWER-id cluster member exceeds tau — the
    keep-one-representative semantic dedup step run on pre-training
    corpora after exact/MinHash dedup. Returns the kept (vec_id,
    centroid_id) rows.

    Scale shape: assignment is ivf_assign (broadcast centroids, map-side
    argmin — n rows cross the wire, not n x k); the pairwise stage joins
    only WITHIN a cluster, so with c = corpus/n_centroids the work is
    O(c^2) per cluster, bounded by choosing n_centroids PROPORTIONAL to
    corpus size exactly as the paper does (they use 11k clusters for 5B
    embeddings): ncent = max(32, n // 625), where 625 is the
    sf1-verified cluster size and 32 the measured sf0.1 optimum (18.7s
    with 8 clusters vs 4.3s with 32 + the normalized single-dot pair
    stage, see semdedup_keep). The n is one parquet row-count job
    (footer statistics, not a data scan) at plan-build time; the oracle
    derives the same ncent with a scalar subquery, so both engines pick
    identical centroid sets at every scale — and at every SF up to sf1
    the formula floors at the exact 32-vector codebook all prior gates
    verified. The codebook is the deterministic first-ncent vectors
    (the same stand-in device as q_ann_ivf's first-8; q_ann_ivf_kmeans
    shows the trained path). The cluster join key space widens with
    corpus size by construction; AQE skew-join handles the residual
    (session.py enables it)."""
    return _semdedup_plan(spark, sf_dir)


def _semdedup_plan(
    spark: SparkSession,
    sf_dir: str,
    cap: int | None = None,
    sqrt_coef: float | None = None,
) -> DataFrame:
    """The one SemDeDup plan body, shared verbatim by the proportional
    default (q_semdedup, cap=None), the budget-capped config
    (q_semdedup_capped), and the compute-optimal sqrt config
    (q_semdedup_sqrt) — the three queries differ ONLY in the ncent
    formula, so any plan improvement serves all of them."""
    emb = load_table(spark, sf_dir, "embeddings")
    ncent = _semdedup_ncent(emb.count(), cap, sqrt_coef)
    cents = emb.filter(F.col("vec_id") < ncent).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    assigned = K.ivf_assign(emb.select("vec_id", "embedding"), cents)
    return D.semdedup_keep(assigned, threshold=_SEMDEDUP_TAU)


# The capped oracle is the DEFAULT oracle text with exactly one surgical
# edit — the scalar-subquery ncent expression gains the least(..., cap)
# wrapper — so q_semdedup's round-9-verified text is untouched by
# construction and the two texts cannot drift apart anywhere else.
_SEMDEDUP_CAPPED_ORACLE, _n_sub = re.subn(
    r"greatest\({n},\s*count\(\*\) // {c}\)".format(
        n=_SEMDEDUP_NCENT, c=_SEMDEDUP_CSIZE
    ),
    "least(greatest({n}, count(*) // {c}), {cap})".format(
        n=_SEMDEDUP_NCENT, c=_SEMDEDUP_CSIZE, cap=_SEMDEDUP_NCENT_CAP
    ),
    _SEMDEDUP_ORACLE,
)
if _n_sub != 1:  # fail loudly at import: the anchor must match exactly once
    raise RuntimeError(
        f"semdedup capped-oracle substitution matched {_n_sub} times, want 1"
    )


@query("q_semdedup_capped", oracle=_SEMDEDUP_CAPPED_ORACLE)
def q_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup under the PRODUCTION bounded-centroid config:
    ncent = min(max(32, n // 625), 320) — identical semantics, plan, and
    oracle algebra to q_semdedup, with the centroid count capped at the
    largest verified codebook (320, the sf10 operating point).

    Why a second registered config: the proportional default is the
    paper's own shape (Abbas et al. 2023 — clusters proportional to
    corpus, 11k for 5B embeddings) and keeps the within-cluster pair
    stage linear, but its exact brute-force assignment stage is
    n x (n/625) — quadratic total compute, measured at the round-9 sf30
    probe (stage ratio 8.66x for 3x data, SCALE.md). A 100 TB owner
    bounds that by pinning ncent; this query IS that operating point,
    priced in SCALE.md (round-10 pricing: assignment back at alpha <= 1
    across sf10->sf30, pair-stage growth and kept-set delta vs the
    default recorded honestly, both stages for both configs in one host
    window). Below the knee (n <= 320*625 = 200k vectors, i.e. every
    driver SF and sf1..sf10) the cap is inactive and the two queries are
    result-identical by construction; above it the capped config trades
    bounded assignment compute for n^2/320 pair compute — the dial a
    fixed-budget owner sets, with ncent ~ sqrt(n) the unbudgeted
    compute-optimal point of the same knob. Hash-exactness where the cap
    BINDS is proven by a one-shot parity run on a generated corpus past
    the knee (n = 250k: ncent 400 -> 320; tools/bench_local/
    semdedup_capbind_r10.json), not just at driver SFs where the
    configs coincide.

    Operational caveat (round-10 measurement): above the knee the
    configs agree on dropped MASS to 0.1% but the kept IDENTITIES
    overlap only ~23% (Jaccard, sf30) — which single representative
    survives a near-duplicate group depends on the clustering — so the
    config is a provisioning-time choice, not a mid-corpus toggle:
    switching configs over a partially-deduped corpus re-selects
    representatives rather than extending the existing kept set."""
    return _semdedup_plan(spark, sf_dir, cap=_SEMDEDUP_NCENT_CAP)


# The sqrt-optimal centroid coefficient: c* = sqrt(n * p/a) where a and p
# are the measured per-unit assignment and pair costs (round-10 pricing,
# SCALE.md "Round-10 bounded-ncent pricing": a ~= 4.8e-7 s/vector*centroid,
# p ~= 4.3e-7 s/pair on this box) -> sqrt(p/a) ~= 0.95. Pinned rather than
# recomputed per run because T(c) = a*n*c + p*n^2/c is FLAT near c*: any
# coefficient in [0.90, 1.05] lands within ~0.2% of the true minimum, so a
# stable registered formula beats chasing the third digit of a drifting
# host's unit-cost ratio.
_SEMDEDUP_SQRT_COEF = 0.95

# Same construction discipline as the capped oracle: the sqrt oracle is
# the DEFAULT oracle text with exactly one surgical edit — the scalar-
# subquery ncent expression becomes the sqrt formula — so q_semdedup's
# verified text is untouched and the texts cannot drift anywhere else.
# Float determinism across engines: sqrt() is IEEE-754 correctly rounded
# in both DuckDB and CPython, 0.95 parses to the same double, and floor
# of the same double is the same integer — both engines pick the exact
# same ncent at every n.
_SEMDEDUP_SQRT_ORACLE, _n_sub_sqrt = re.subn(
    r"greatest\({n},\s*count\(\*\) // {c}\)".format(
        n=_SEMDEDUP_NCENT, c=_SEMDEDUP_CSIZE
    ),
    "greatest({n}, CAST(floor({coef} * sqrt(count(*))) AS BIGINT))".format(
        n=_SEMDEDUP_NCENT, coef=_SEMDEDUP_SQRT_COEF
    ),
    _SEMDEDUP_ORACLE,
)
if _n_sub_sqrt != 1:  # fail loudly at import: the anchor must match once
    raise RuntimeError(
        f"semdedup sqrt-oracle substitution matched {_n_sub_sqrt} times, want 1"
    )


@query("q_semdedup_sqrt", oracle=_SEMDEDUP_SQRT_ORACLE)
def q_semdedup_sqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the measured compute-optimal centroid count:
    ncent = max(32, floor(0.95 * sqrt(n))) — identical semantics, plan
    body, and oracle algebra to q_semdedup; only the ncent formula
    differs (the one-substitution oracle construction above).

    Why this third config exists: the round-10 pricing measured
    T(n, c) ~= a*n*c + p*n^2/c with a ~= p ~= 4.5e-7 s/unit on this box,
    which makes the proportional default (c = n/625) quadratic in total
    compute and the fixed cap (c = 320) quadratic in the PAIR stage —
    each optimal only under its own constraint (GPU-cheap assignment,
    fixed memory budget). The unconstrained minimum of the same knob is
    c* = sqrt(n * p/a) ~= 0.95*sqrt(n): total compute ~ 2*sqrt(a*p)*n^1.5,
    the exact-semantics lower envelope of this one-level family
    (unit-norm embeddings make Elkan-style norm pruning vacuous, and an
    approximate router changes near-tie assignments, breaking the DuckDB
    oracle — the round-9 adjudication). The round-11 sf30 measurement
    CONFIRMED the prediction: 406.9 s measured vs 431 predicted (0.944x),
    0.85x the default's and 0.67x the capped's totals in the same host
    window; isolated fresh-JVM re-run 400.9 s. See SCALE.md "Round-11
    sqrt-ncent validation" for the full dial: proportional = GPU-cluster
    shape, cap = fixed-budget shape, sqrt = CPU-cluster unbudgeted
    optimum.

    The same kept-set-identity caveat as q_semdedup_capped applies:
    configs agree on dropped mass, not on which representative survives
    — a provisioning-time choice, not a mid-corpus toggle. Measured at
    sf30, this config is the LEAST disruptive switch from the default
    (kept-identity Jaccard 0.74 vs the cap's 0.23; dropped recall
    0.99994 — it re-drops all but 38 of the default's 599k drops).

    Correctness where the formula DIVERGES from the default is proven
    TWICE (the q_semdedup_capped binding-point pattern): at sf0.1
    (n = 2000: ncent 42 vs the default's floor 32) and at 100x bench
    scale, sf10 (n = 200k: ncent 424 vs 320, 793 rows hash-exact); at
    the driver's sf0.01 (n = 200) both formulas floor at 32 and the
    rows are independent checks of the shared plan."""
    return _semdedup_plan(spark, sf_dir, sqrt_coef=_SEMDEDUP_SQRT_COEF)


# --- n-gram diversity profiling ----------------------------------------------

_DIVERSITY_N = 3

_DIVERSITY_ORACLE = f"""
WITH w AS (
  SELECT source, {d_words()} AS words FROM documents
), g AS (
  SELECT source,
         unnest(CASE WHEN len(words) >= {_DIVERSITY_N} THEN
           list_transform(range(1, len(words) - {_DIVERSITY_N - 2}),
             i -> md5(array_to_string(
                    words[i:i+{_DIVERSITY_N - 1}], ' ')))
         ELSE [] END) AS gh
  FROM w
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(count(DISTINCT gh) AS BIGINT) AS n_distinct,
       round(CAST(count(DISTINCT gh) AS DOUBLE) / count(*), 6)
         AS distinct_ratio
FROM g
GROUP BY source
"""


@query("q_ngram_diversity", oracle=_DIVERSITY_ORACLE)
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity: distinct-trigram / total-trigram ratio,
    the standard repetitiveness signal used to down-weight boilerplate-
    heavy sources when composing a pre-training mixture (complements
    q_repetition_ratio, which scores single documents).

    Scale shape: shingles are md5-hashed before the aggregate, so the
    distinct-count shuffle moves 16-byte keys instead of raw trigram text;
    count + count(distinct) over (source, hash) gets map-side partial
    aggregation. The one float divide happens once per source row, on two
    exact BIGINTs — hash-stable."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "source",
        F.explode(T.word_shingles("text", _DIVERSITY_N)).alias("gram"),
    ).select("source", F.md5("gram").alias("gh"))
    return sh.groupBy("source").agg(
        F.count("*").alias("n_ngrams"),
        F.countDistinct("gh").alias("n_distinct"),
        F.round(
            F.countDistinct("gh").cast("double") / F.count("*"), 6
        ).alias("distinct_ratio"),
    )


# --- URL canonicalization dedup ----------------------------------------------
#
# Crawl pipelines dedup by canonical URL before touching content. The
# fixture has no URL column, so deterministic URLs are planted from
# doc_id (same device as the PII/boilerplate plants): mixed-case host,
# explicit default port, tracking query params, trailing slash. Distinct
# raw URLs collapse 5:1 at sf0.01 (doc_id mod lcm(20,25)=100 canonical
# groups), so the dedup is non-vacuous at every SF.

_URL_CANON_ORACLE = """
WITH raw AS (
  SELECT doc_id,
         'https://WWW.Src' || (doc_id % 20) ||
         '.Example.com:443/docs/' || (doc_id % 25) ||
         '/?utm_source=feed&ref=' || doc_id AS url
  FROM documents
), canon AS (
  SELECT doc_id, url,
         rtrim(
           regexp_replace(
             regexp_replace(lower(url), ':443/', '/', 'g'),
             '[?].*$', '', 'g'),
           '/') AS curl
  FROM raw
)
SELECT curl,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM canon
GROUP BY curl
"""


@query("q_dedup_url", oracle=_URL_CANON_ORACLE)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the cheapest crawl dedup layer, run
    before any content hashing: lowercase, drop the default port, strip
    the query string (tracking params), strip the trailing slash, then
    group by canonical form keeping the first doc id.

    Scale shape: canonicalization is per-row string ops in the scan
    projection; the groupBy key is the canonical URL (hash it first when
    URLs are long). Zero joins; one shuffle."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("https://WWW.Src"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".Example.com:443/docs/"),
            (F.col("doc_id") % 25).cast("string"),
            F.lit("/?utm_source=feed&ref="), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    # Spark's 2-arg rtrim is (trimStr, str) — REVERSED from DuckDB's
    # rtrim(str, chars) — so the portable spelling is the SQL-standard
    # TRIM(TRAILING ... FROM ...) form
    curl = F.expr(
        "trim(TRAILING '/' FROM "
        "regexp_replace(regexp_replace(lower(url), ':443/', '/'),"
        " '[?].*$', ''))"
    )
    return (
        raw.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count("*").alias("n_urls"),
            F.min("doc_id").alias("first_doc"),
        )
    )
