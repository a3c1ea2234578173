"""Deduplication operators for large-scale training-data pipelines.

The reference deduplicates by exact key only (R9, ``app.py:98-99``). This
module adds the near-dup detectors of an LLM data pipeline:

- **exact**: keep the first row per key (:func:`keep_first`).
- **MinHash + LSH**: word-shingle MinHash signatures (the exploded
  word-hash form, see :func:`minhash_signatures`) banded into buckets;
  the score is the share of agreeing hashes.
- **SimHash**: a 64-bit shingle-set fingerprint in two 32-bit words,
  banded by four 16-bit slices; near-dups are pairs within a small
  Hamming distance (the Manku et al. WWW'07 layout).
- **embedding cosine**: hashed-hyperplane LSH buckets inside a label
  block; the score is one dot product of normalized vectors.
- **winnowing**: shared winnowed word k-gram fingerprints (MOSS).
- **n-gram Jaccard**: exact char n-gram Jaccard inside a prefix block.
- **SemDeDup**: the within-cluster keep step (:func:`semdedup_keep`).

Every pair detector forms its candidates in :func:`_bucket_pairs`, one
self-join of rows on a bucket key that yields each pair once as
``id_a < id_b``, so the O(n²) pair space never materializes. The banded
detectors (MinHash, SimHash, embedding) share one pipeline,
:func:`_banded_pairs`: one ``(band_idx, bucket)`` row per band, the
bucket self-join, score, threshold, one row per pair.

All hashing is md5-derived (functions.hashing), so signatures and
buckets are bit-identical in Spark and in the DuckDB oracles.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing as H
from ..functions import text as T
from ..functions import vectors as V
from . import selection as S

MINHASH_NUM_HASHES = 8
MINHASH_BANDS = 2  # rows per band = NUM_HASHES // BANDS


def keep_first(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Deterministic exact dedup: keep the first row per key by order_col
    (R9 semantics — re-ingestion keeps the already-indexed row).

    Determinism when rows tie on (keys, order_col): all remaining columns
    join the window ordering, giving a total order up to fully-identical
    rows — so the surviving row is the same *value* on every run and
    partitioning, not whichever copy a partition happened to list first.
    (Requires orderable column types; maps would need an explicit key.)"""
    rest = [c for c in df.columns if c not in keys and c != order_col]
    order = [F.col(order_col).asc(), *[F.col(c).asc_nulls_first() for c in rest]]
    return S.top_k_per(df, keys, order, 1, "__rn").drop("__rn")


# --- MinHash ---------------------------------------------------------------

# Affine MinHash family: ONE md5 base hash per shingle (28 bits — md5
# prefix), then h_j = (A_j*h + B_j) mod P per hash function. 8x less
# hashing than independent seeded md5s (measured 72s -> ~2s on the sf0.1
# corpus), products stay < 2^45 so integer math is exact and portable
# (Spark runs ANSI mode; DuckDB errors on BIGINT overflow).
MINHASH_BASE_HEX = 7  # 28-bit base hash
MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_A = (99991, 99989, 99971, 99961, 99929, 99923, 99907, 99901)
MINHASH_B = (10007, 10009, 10037, 10039, 10061, 10067, 10069, 10079)



def affine_params(j: int) -> tuple[int, int]:
    """(a, b) for hash function j. The first 8 are the published constants
    the DuckDB oracle mirrors; beyond that (production configs — 128 hashes
    / 16 bands for real recall at 100 TB) the family extends with a
    deterministic odd-stride sequence, disjoint from the published 8 and
    still < 2^17 so every product stays far below BIGINT overflow in ANSI
    mode and in DuckDB."""
    if j < len(MINHASH_A):
        return MINHASH_A[j], MINHASH_B[j]
    return 100003 + 2 * j, 10093 + 2 * j


def _affine(j: int):
    a, b = affine_params(j)
    # single-argument lambda on purpose — F.transform treats a two-parameter
    # callable as (element, index), so `lambda h, j=j` would silently bind
    # the constants to the ARRAY INDEX.
    return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)


def minhash_cols(hashed: Column, num_hashes: int = MINHASH_NUM_HASHES) -> list[Column]:
    """One min-hash per affine function over the pre-hashed shingle array,
    each row-local: array_min over a cheap integer transform. NULL (empty
    shingle set) propagates as NULL."""
    return [
        F.array_min(F.transform(hashed, _affine(j))).alias(f"mh{j}")
        for j in range(num_hashes)
    ]


# polynomial combination constant for word-hash n-grams; intermediates stay
# < 2^45 (ANSI-safe: Spark 4 errors on long overflow, DuckDB on BIGINT)
SHINGLE_COMBINE = 8191
SHINGLE_WORDS = 3  # words per MinHash / SimHash shingle


def shingle_hashes_exploded(df: DataFrame) -> DataFrame:
    """(doc_id, __s) rows over a ``(doc_id, text)`` frame — one integer
    hash per 3-word shingle, built from ONE md5 per WORD plus integer
    combination of consecutive word hashes (lead() over position). The
    n-gram *strings* never materialize: the naive form (slice +
    array_join per position, then md5 per shingle) spends most of its
    time constructing and hashing ~20-char strings. Words repeat heavily,
    shingles don't — hashing words is strictly less work, and everything
    downstream is integer math.
    """
    toks = df.select(
        F.col("doc_id"), F.posexplode(T.tokens("text")).alias("__pos", "__w")
    )
    wh = toks.select(
        "doc_id",
        "__pos",
        H.h64(F.col("__w"), nchars=MINHASH_BASE_HEX).alias("__h"),
    )
    w = Window.partitionBy("doc_id").orderBy("__pos")
    s = F.col("__h")
    for k in range(1, SHINGLE_WORDS):
        s = (s * SHINGLE_COMBINE + F.lead("__h", k).over(w)) % MINHASH_P
    return wh.select(F.col("doc_id"), s.alias("__s")).filter(
        F.col("__s").isNotNull()
    )


def minhash_signatures(
    df: DataFrame, num_hashes: int = MINHASH_NUM_HASHES
) -> DataFrame:
    """(doc_id, mh0..mh7) signatures of a ``(doc_id, text)`` frame via
    explode → hash words once → integer shingle hashes → min-aggregate.

    The row-local form (:func:`minhash_cols` over an array column) is
    algebraically identical, but Catalyst's project-collapsing re-inlines
    the shingle-construction expression into every signature column — 8x
    the work (measured 58s vs ~4s on the sf0.1 corpus). Exploding pays one
    narrow shuffle of (id, pos, word-hash) rows; the window and the final
    aggregation share the same hash partitioning, so there is exactly one
    shuffle — at 100 TB it carries three longs per token, nothing more.

    Documents with no shingles (< 3 words) produce no rows, matching the
    NULL-signature filter of the row-local form.
    """
    hashed = shingle_hashes_exploded(df)
    # one expr parse per signature column (the loop otherwise pays ~8 py4j
    # round-trips per hash function — functions.vectors discipline)
    mins = []
    for j in range(num_hashes):
        a, b = affine_params(j)
        mins.append(
            F.expr(f"min(({a} * __s + {b}) % {MINHASH_P}) AS mh{j}")
        )
    return hashed.groupBy("doc_id").agg(*mins)


def band_key(sig_cols: list[str], band: int, bands: int = MINHASH_BANDS) -> Column:
    """LSH band bucket id: md5 of the band's signature-column slice."""
    r = len(sig_cols) // bands
    parts = sig_cols[band * r : (band + 1) * r]
    return F.md5(F.concat_ws(":", *[F.col(c).cast("string") for c in parts]))


def _bucket_pairs(
    rows: DataFrame, id_col: str, keys: list[str], carry: list[str]
) -> DataFrame:
    """The self-join of ``rows`` on their bucket ``keys``: one row per
    pair of rows that share every key value, ``id_col`` renamed to
    ``id_a``/``id_b`` and each ``carry`` column to ``<c>_a``/``<c>_b``,
    kept once as ``id_a < id_b``. It is the only pair join of the dedup
    detectors; the pair space is bounded by the bucket sizes.

    The merge hint keeps both sides shuffle stages over one shared
    signature subtree. Without it AQE broadcasts one side, which
    re-runs the whole signature subtree as a broadcast (measured 2.5x
    slower at sf0.1), and a signature table is far too large to
    broadcast at 100 TB. Sort-merge join with AQE skew splitting spills
    a pathological bucket instead of running out of memory."""

    def side(s: str) -> DataFrame:
        return rows.select(
            F.col(id_col).alias(f"id_{s}"),
            *keys,
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    return (
        side("a")
        .join(side("b").hint("merge"), on=keys)
        .filter(F.col("id_a") < F.col("id_b"))
    )


def _pair_cosine() -> Column:
    """The vector pairs' one score: the cosine of a pair's L2-normalized
    ``__v_a`` and ``__v_b`` (``_bucket_pairs`` copies of ``__v``) as one
    dot product, built by ``V.s_score`` (6dp, ``-0.0`` folded, failing
    on a dimension mismatch)."""
    return F.expr(V.s_score(V.s_dot, "__v_a", "__v_b"))


def _banded_pairs(
    rows: DataFrame,
    id_col: str,
    block: list[str],
    bands: list[Column],
    carry: list[str],
    score: Column,
    keep: Column,
) -> DataFrame:
    """The banded detectors' pipeline: each row posexplodes into one
    ``(band_idx, bucket)`` row per band value in ``bands``; rows sharing
    ``block`` and a bucket pair up (:func:`_bucket_pairs`); each pair gets
    ``score`` (over the ``carry`` columns' ``_a``/``_b`` copies) and is
    kept when ``keep`` holds. A pair that collides in several bands comes
    out once.

    The threshold runs before the pair-dedup exchange: chance bucket
    collisions dominate the candidates, so filtering first shrinks that
    shuffle to the near pairs. The result is the same, since the score
    is a function of the pair."""
    banded = rows.select(
        id_col,
        *block,
        *carry,
        F.posexplode(F.array(*bands)).alias("band_idx", "bucket"),
    )
    return (
        _bucket_pairs(banded, id_col, [*block, "band_idx", "bucket"], carry)
        .select("id_a", "id_b", score)
        .filter(keep)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """MinHash-LSH near-dup pairs ``(id_a, id_b, est_jaccard)`` of a
    ``(doc_id, text)`` frame: signatures, one md5 bucket per band of
    ``num_hashes // bands`` signature values, and the estimated Jaccard
    (share of agreeing hashes, rounded to 6 places) of every pair sharing
    a bucket, kept at ``>= threshold``.

    The defaults (8 hashes / 2 bands) fit the oracle fixture. Production
    recall at 100 TB wants num_hashes=128, bands=16: the match
    probability is 1-(1-j^(n/b))^b, and 8/2 misses too many 0.5-Jaccard
    pairs for a real pipeline."""
    sig_names = [f"mh{j}" for j in range(num_hashes)]
    agree_sql = " + ".join(
        f"(CASE WHEN {c}_a = {c}_b THEN 1 ELSE 0 END)" for c in sig_names
    )
    est = F.round(F.expr(agree_sql) / F.lit(float(num_hashes)), 6)
    return _banded_pairs(
        minhash_signatures(df, num_hashes=num_hashes),
        "doc_id",
        [],
        [band_key(sig_names, b, bands) for b in range(bands)],
        sig_names,
        est.alias("est_jaccard"),
        F.col("est_jaccard") >= threshold,
    )


def winnow_fingerprints(df: DataFrame, k: int = 3, window: int = 4) -> DataFrame:
    """Winnowed k-gram fingerprints (the MOSS scheme) over WORD k-grams:
    hash every word, roll a k-word shingle hash along the token sequence,
    slide a `window` over the shingle hashes, keep each window's minimum —
    a deterministic ~1/window sample that guarantees any shared run of
    >= k+window-1 consecutive words yields a shared fingerprint.

    Word granularity, not characters: copied PASSAGES are word runs, and
    char k-grams degenerate on low-diversity text (a corpus with ~2k
    distinct 5-grams pushes every fingerprint's document frequency above
    any useful df-cap — measured here: the planted sf0.1 duplicates became
    invisible). Word-shingle diversity is vocab^k, so document frequencies
    stay discriminative at any corpus size.

    Returns exploded (doc_id, fp) rows of a ``(doc_id, text)`` frame,
    distinct per doc. Cost: one md5 per word (the MinHash discipline:
    hash words once, combine arithmetically); the k-word shingle hash is
    the Horner affine chain ``s = (s*A + w_j) mod P`` — products < 2^48,
    bit-exact on both engines.

    Docs with fewer than k words contribute nothing; docs with fewer than
    `window` shingles contribute their single overall min.
    """
    whash = F.transform(
        T.tokens(F.col("text")),
        lambda t: H.h64(t, nchars=MINHASH_BASE_HEX),
    )
    # materialize each intermediate array in its OWN projection, then window
    # over the column reference — windowing over the raw expression would
    # re-inline the hash work per window position (Catalyst project-collapse).
    # The >= k filter uses tokens() (split only), NOT size(__w): transform
    # preserves length so the predicates are identical, but a size(__w)
    # filter re-inlines the per-word md5 chain into the predicate and
    # pushdown then runs it serialized inside the scan stage (same failure
    # as in ngram_jaccard_pairs).
    coded = df.filter(F.size(T.tokens(F.col("text"))) >= k).select(
        F.col("doc_id"), whash.alias("__w")
    )

    def shingle_hash(i):  # position i (1-based Column) -> Horner chain
        s = F.element_at(F.col("__w"), i)
        for j in range(1, k):
            s = (s * MINHASH_A[0] + F.element_at(F.col("__w"), i + j)) % MINHASH_P
        return s

    hashed = F.transform(
        F.sequence(F.lit(1), F.size("__w") - (k - 1)), shingle_hash
    )
    base = coded.select(F.col("doc_id"), hashed.alias("__h"))
    mins_over_h = F.when(
        F.size("__h") >= window,
        F.transform(
            F.sequence(F.lit(1), F.size("__h") - (window - 1)),
            lambda i: F.array_min(F.slice(F.col("__h"), i, window)),
        ),
    ).otherwise(F.array(F.array_min(F.col("__h"))))
    return base.select(
        "doc_id", F.explode(F.array_distinct(mins_over_h)).alias("fp")
    )


def winnow_dup_pairs(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    max_df: int = 10,
    min_shared: int = 3,
) -> DataFrame:
    """Near-dup pairs by shared winnowed fingerprints: docs sharing >=
    `min_shared` fingerprints after dropping ubiquitous ones (document
    frequency > `max_df` — the stop-gram guard that keeps the fp self-join
    skew-free; identical to dropping stop-shingles in MinHash). The join
    key is the fingerprint itself — high cardinality, well distributed
    once capped."""
    fps = winnow_fingerprints(df, k, window)
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("fp")
    )
    return (
        _bucket_pairs(fps.join(rare, on="fp"), "doc_id", ["fp"], [])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def dup_clusters(pairs: DataFrame, rounds: int = 3) -> DataFrame:
    """Connected components over ``(id_a, id_b)`` near-dup pairs by
    min-label propagation:
    every node starts labeled with its own id; each round every node takes
    the minimum label among itself and its neighbors. After the clusters'
    diameter in rounds, the label IS the component id (min member id) — the
    "keep one per near-dup cluster" step that follows any pair-producing
    dedup family.

    Fixed ``rounds`` keeps the computation identical across engines (the
    DuckDB oracle runs the same rounds); near-dup clusters are shallow in
    practice (dup groups, not long chains), so a small constant suffices.
    Scale: each round is one join + one groupBy on (node) — shuffle keyed by
    node id only, labels are two longs per row. A local checkpoint
    truncates the pair lineage first (standard for iterative algorithms —
    without it every round re-inlines the full signature pipeline into the
    plan). The checkpoint runs the pair subtree's stages as Spark jobs when
    this function is called, not when its result is read.
    """
    pairs = pairs.localCheckpoint(eager=False)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(rounds):
        nb = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("__nb_min"))
        )
        labels = (
            labels.join(nb, labels["node"] == nb["src"], "left")
            .select(
                F.col("node"),
                F.least(
                    F.col("label"), F.coalesce(F.col("__nb_min"), F.col("label"))
                ).alias("label"),
            )
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# --- n-gram Jaccard (exact, blocked) -----------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 5,
    block_chars: int = 20,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact character-n-gram Jaccard between the ``(doc_id, text)``
    documents sharing a blocking key (first `block_chars` chars).
    Blocking bounds the pair space the way LSH bands do, but the verify
    step computes TRUE Jaccard on the distinct n-gram sets."""
    grams = F.array_distinct(T.char_ngrams("text", n))
    # Filter on the equivalent CHEAP predicate (grams is non-empty iff the
    # text has >= n chars) BEFORE projecting the grams. Filtering on
    # size(grams) AFTER the projection re-inlines the whole char-n-gram
    # transform into the predicate, and predicate pushdown then carries
    # that interpreted per-row transform below any upstream repartition
    # into the scan stage — where a single-row-group file serializes it
    # onto one core (measured at sf10: the scan stage ran 19 empty tasks
    # + 1 task doing every doc's n-grams twice).
    base = df.filter(F.length(F.col("text")) >= n).select(
        F.col("doc_id"),
        F.md5(F.substring("text", 1, block_chars)).alias("block"),
        grams.alias("grams"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return (
        _bucket_pairs(base, "doc_id", ["block"], ["grams"])
        .select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- SimHash -----------------------------------------------------------------

# 64-bit signatures, the Manku et al. (WWW'07) width: at n documents the
# random-pair collision P(hamming <= 3) must stay far below 1/C(n,2), and
# 32 bits stop clearing that bar near n ~ 10^5 (measured: precision 0.045
# at 500k docs with the old 32-bit family — SCALE.md "detector pricing").
# At 64 bits the same tail is ~2.4e-15, negligible even at 10^9 docs.
SIMHASH_BITS = 64
SIMHASH_WORDS = 2  # 32-bit words sh0, sh1 a signature packs into
# Each affine draw is mod 2^31-1, so it yields 31 honest bits; the 64 bits
# come from three INDEPENDENT draws (a "64-bit" signature built by reusing
# one draw's bits would collide exactly like a 31-bit one — perfectly
# correlated halves).
SIMHASH_BITS_PER_DRAW = 31
# One (a, b) mix per draw: small classic Lehmer/L'Ecuyer multipliers.
# 48271 (Park-Miller 1988 revision) and 69621 are verified primitive roots
# mod 2^31-1 (full period); 40692 is L'Ecuyer's full-period multiplier for
# the close prime 2147483399, kept unchanged so stored 64-bit signatures
# stay stable. All multipliers are < 2^17 and shingle hashes are < 2^31, so
# every product stays < 2^48 — exact under Spark's ANSI mode and DuckDB
# BIGINT alike. The DuckDB oracle mirrors this table
# (plans/dedup_queries.py generates its SQL from it).
SIMHASH_MIX = (
    (48271, 11939),
    (69621, 12345),
    (40692, 7777),
)


def simhash_signatures(df: DataFrame) -> DataFrame:
    """64-bit SimHash per document of a ``(doc_id, text)`` frame: integer
    shingle hashes (see :func:`shingle_hashes_exploded`) → distinct per
    doc → one affine mix per 31-bit draw → per-bit conditional counts in
    one partial+final aggregation. Each word is hashed exactly once.

    Output: ``(doc_id, sh0, sh1)`` — one non-negative 32-bit word per
    column (bit b lives in word b div 32). Packing into 32-bit words
    instead of one 64-bit value keeps every signature value positive, so
    band extraction (div/mod) and Hamming (xor + bit_count) never touch a
    sign bit on either engine. Global bit b draws local bit (b mod 31) of
    draw (b div 31) — each draw an independent affine mix mod 2^31-1
    (SIMHASH_MIX), which is what makes the 64-bit width honest."""
    hashed = shingle_hashes_exploded(df)
    distinct = hashed.dropDuplicates(["doc_id", "__s"])
    # whole-string expression construction: the per-bit loop otherwise
    # costs ~5 py4j round-trips per bit x 64 bits plus ~8 per packed-word
    # CASE arm — measured as the dominant build cost of q_dedup_simhash
    # (1.9 s of a 3.2 s query). One expr parse per generated column keeps
    # the identical analyzed tree (functions.vectors discipline).
    mixed = distinct.select(
        "doc_id",
        *[
            F.expr(f"({a} * __s + {b}) % {MINHASH_P} AS __v{k}")
            for k, (a, b) in enumerate(SIMHASH_MIX)
        ],
    )
    bit_counts = [
        F.expr(
            f"sum(CAST((__v{b // SIMHASH_BITS_PER_DRAW} div "
            f"{1 << (b % SIMHASH_BITS_PER_DRAW)}) % 2 AS INT)) AS __c{b}"
        )
        for b in range(SIMHASH_BITS)
    ]
    agged = mixed.groupBy("doc_id").agg(F.count("*").alias("__n"), *bit_counts)
    words = []
    for w in range(SIMHASH_WORDS):
        word_sql = " + ".join(
            f"(CASE WHEN __c{b} * 2 > __n THEN {1 << (b - 32 * w)} "
            f"ELSE 0 END)"
            for b in range(32 * w, 32 * (w + 1))
        )
        words.append(F.expr(f"CAST({word_sql} AS BIGINT) AS sh{w}"))
    return agged.select(F.col("doc_id"), *words)


def simhash_dedup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs of a ``(doc_id, text)`` frame by SimHash Hamming
    distance, blocked on 4 16-bit bands: Hamming(a,b) <= 3 ⇒ at least one
    of the 4 bands is untouched (pigeonhole), so the band join loses no
    true pair at the default threshold while avoiding the n² compare.
    64 bits / 4 bands / hamming 3 is exactly the Manku et al. (WWW'07)
    web-scale configuration; above hamming 3 the blocking becomes
    approximate (documented, not silent)."""
    sig_cols = [f"sh{w}" for w in range(SIMHASH_WORDS)]
    hamming = F.expr(
        " + ".join(f"bit_count({c}_a ^ {c}_b)" for c in sig_cols)
    ).cast("int")
    # band i is the 16-bit half (i mod 2) of word i div 2
    bands = [
        F.expr(
            f"CAST({sig_cols[i // 2]} / {1 << (16 * (i % 2))} AS BIGINT) "
            f"% {1 << 16}"
        )
        for i in range(4)
    ]
    return _banded_pairs(
        simhash_signatures(df),
        "doc_id",
        [],
        bands,
        sig_cols,
        hamming.alias("hamming"),
        F.col("hamming") <= max_hamming,
    )


# --- embedding cosine near-dup ------------------------------------------------

EMBED_LSH_BANDS = 2
EMBED_LSH_PLANES = 6  # sign bits per band: 64 buckets per label block


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Near-dup pairs of a ``(vec_id, label, embedding)`` frame by cosine
    similarity (``(id_a, id_b, cosine)``, cosine rounded to 6 places and
    kept at ``>= threshold``), banded-LSH-blocked so the pair space stays
    bounded as the corpus grows.

    The coarse ``label`` block alone does NOT scale: fixed-cardinality
    blocks grow linearly with the corpus, so within-block pairs grow
    QUADRATICALLY (measured 13s → 132s for x10 data at sf1 with 10 label
    blocks). Each block is therefore sub-divided by EMBED_LSH_BANDS
    hashed-hyperplane sign buckets of EMBED_LSH_PLANES bits
    (hashed_hyperplane_bucket); candidates are the pairs sharing a label
    and a bucket in ANY band, and one join covers all bands. This is MinHash-LSH banding transplanted to the embedding space:
    identical vectors collide in every band (recall 1.0 on exact copies),
    genuinely-near pairs collide with the standard banded probability
    1-(1-s^r)^b, and the bucket count 2^EMBED_LSH_PLANES is what keeps
    per-bucket pair work flat as n grows.

    Cost per candidate is ONE dot product: both sides are L2-normalized
    once before the join (the measured q_semdedup optimization; an
    oracle must mirror dot(normalize(a), normalize(b)) exactly)."""
    base = df.select(
        "vec_id",
        "label",
        V.normalize(V.s_as_double_array("embedding")).alias("__v"),
    )
    return _banded_pairs(
        base,
        "vec_id",
        ["label"],
        [hashed_hyperplane_bucket("__v", b) for b in range(EMBED_LSH_BANDS)],
        ["__v"],
        _pair_cosine().alias("cosine"),
        F.col("cosine") >= threshold,
    )


def _sign_bits(vec: str, predicates: Iterable[str]) -> Column:
    """One sign character per plane, concatenated: '1' when the plane's
    projection of ``vec`` is >= 0, else '0'. A plane's projection is the
    left-to-right double sum of the elements, each taken as +x when the
    plane's predicate on the element index ``i`` holds and -x otherwise.
    ``vec`` is a column name or SQL fragment; the whole block is one
    expression parse."""
    signs = []
    for pred in predicates:
        proj = (
            f"aggregate(zip_with({vec}, "
            f"sequence(0, size({vec}) - 1), "
            f"(x, i) -> CASE WHEN {pred} "
            f"THEN CAST(x AS DOUBLE) ELSE -CAST(x AS DOUBLE) END), "
            f"0D, (acc, x) -> acc + x)"
        )
        signs.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return F.expr("concat(" + ", ".join(signs) + ")")


def hashed_hyperplane_bucket(vec_col: str, band: int) -> Column:
    """Pseudo-random-hyperplane LSH bucket for one band: sign bits of
    EMBED_LSH_PLANES (n) projections whose ±1 pattern per (global plane p,
    element i) is the LCG bit ``(i*1103515245 + p*12345) // 65536 % 2``
    (+1 when it is 0), for p = band*n .. band*n+n-1.

    Unlike random_hyperplane_block's parity patterns (degenerate for
    plane p when 2^p >= dim — every element gets the same sign), the
    hashed pattern is effective at ANY plane index, so bands can stack
    arbitrarily many informative bits. Deterministic and seed-free;
    mirrored in SQL by plans.duck.d_hashed_bucket (sequential reduction,
    int64 arithmetic — bit-identical across engines). ``vec_col`` is a
    column name or SQL fragment."""
    return _sign_bits(
        vec_col,
        (
            f"CAST((CAST(i AS BIGINT) * 1103515245 + {p * 12345}) / 65536 "
            f"AS BIGINT) % 2 = 0"
            for p in range(
                band * EMBED_LSH_PLANES, (band + 1) * EMBED_LSH_PLANES
            )
        ),
    )


def random_hyperplane_block(vec_col: str, n_planes: int = 8) -> Column:
    """Sign-of-projection LSH block: concatenated signs of the vector's
    first ``n_planes`` alternating-sum projections — plane p weighs
    element i by +1 when ``(i // 2^p) % 2 == 0`` and by -1 otherwise
    (deterministic, portable). ``vec_col`` is a column name or SQL
    fragment."""
    return _sign_bits(
        vec_col,
        (f"CAST(i / {2 ** p} AS BIGINT) % 2 = 0" for p in range(n_planes)),
    )


# --- SemDeDup: within-cluster semantic dedup ---------------------------------

def semdedup_keep(assigned: DataFrame, threshold: float = 0.3) -> DataFrame:
    """SemDeDup's keep step (Abbas et al. 2023, public paper): given
    vectors already coarse-clustered (``knn.ivf_assign`` output or any
    (vec_id, centroid_id, embedding) frame), drop every vector whose
    rounded cosine similarity to a LOWER-id member of the SAME cluster
    exceeds ``threshold``; return the kept (vec_id, centroid_id) rows.

    Determinism: the "first" representative of a duplicate set is the
    minimum id (a total order), and cosine is rounded to 6dp before the
    comparison, so the kept set is identical under any partitioning.
    Cosine is computed as dot(normalize(a), normalize(b)) — vectors are
    L2-normalized ONCE per side before the pair join, so each candidate
    pair costs a single 1-pass dot product instead of three (measured 2x
    on the sf0.1 pair stage; an oracle must mirror this exact algebra).

    Scale: the pairs are :func:`_bucket_pairs` on the cluster key, so
    pair work is O(sum c_i^2) over cluster sizes — bounded by choosing
    n_clusters proportional to corpus size (the paper's 11k clusters for
    5B rows).
    Vectors cross the shuffle once per side; ids are the only distinct-ed
    column. The sides are repartitioned on the cluster key with an
    EXPLICIT partition count (user repartitions are exempt from AQE
    coalescing): the pair stage's shuffle input is small in BYTES
    (n rows of vectors) but quadratic in COMPUTE, and AQE's byte-based
    coalescing collapsed it to 1-2 partitions — measured at the sf10
    proof as a 10-minute single-task straggler doing ~60M interpreted
    array dots that spread back to seconds once pinned at the session's
    shuffle parallelism.
    """
    shuffle_n = int(
        assigned.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    base = assigned.select(
        "vec_id",
        "centroid_id",
        V.normalize(V.s_as_double_array("embedding")).alias("__v"),
    ).repartition(shuffle_n, "centroid_id")
    # No checkpoint: the three references to ``base`` below (both
    # pair-join sides and the anti-join's kept side) sit on one explicit
    # repartition exchange, which exchange reuse runs once, so the n x k
    # assignment is computed once. A checkpoint would add a job per call,
    # write n vectors to block storage and hide the assignment subtree's
    # statistics from the planner (measured at sf1, 20k vectors: about
    # 2x slower with a lazy localCheckpoint, results hash-identical).
    dropped = (
        _bucket_pairs(base, "vec_id", ["centroid_id"], ["__v"])
        .filter(_pair_cosine() > threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return base.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "centroid_id"
    )
