"""Deduplication operators for large-scale training-data pipelines.

Four families (north-star mandate, beyond the reference's exact key dedup
R9 at ``app.py:98-99``):

- **exact**: hash group-by / keep-first-by-key,
- **MinHash + LSH**: word-shingle MinHash signatures, banded into buckets;
  candidate pairs only form inside a bucket — the O(n²) pair space never
  materializes. Signatures use the exploded word-hash form (one narrow
  shuffle of (id, pos, word-hash) longs — see
  :func:`minhash_signatures` for why it beats the row-local array form);
  the other shuffle is the band-bucket self-join.
- **SimHash**: 64-bit shingle-set fingerprint (two 32-bit words, three
  independent 31-bit affine draws — width is what keeps precision usable
  past ~10^5 docs); near-dups = small Hamming distance. Banded by 4
  16-bit slices (pigeonhole: Hamming ≤ 3 ⇒ at least one equal band), so
  again no full cross join — the Manku et al. WWW'07 layout.
- **embedding cosine**: near-dup by vector similarity, blocked on a
  partition key (label / LSH bucket) to bound the pair space.

All hashing is md5-derived (functions.hashing) so results are reproducible
in any engine — and deterministically checkable against the DuckDB oracle.

Scale: every family is (narrow per-row signature) → (self-join on a
low-cardinality bucket key) → (verify inside bucket). At 100 TB the bucket
join is the only shuffle; skewed buckets (stop-shingle buckets) are handled
by AQE skew-join splitting, and the signature pass is one narrow map.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing as H
from ..functions import text as T
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


def shingle_hashes_exploded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
) -> DataFrame:
    """(id, __s) rows — one integer hash per word n-gram, built from ONE
    md5 per WORD plus integer combination of consecutive word hashes
    (lead() over position). The n-gram *strings* never materialize: the
    naive form (slice + array_join per position, then md5 per shingle)
    spends most of its time constructing and hashing ~20-char strings.
    Words repeat heavily, shingles don't — hashing words is strictly less
    work, and everything downstream is integer math.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(T.tokens(text_col)).alias("__pos", "__w")
    )
    wh = toks.select(
        id_col,
        "__pos",
        H.h64(F.col("__w"), nchars=MINHASH_BASE_HEX).alias("__h"),
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    s = F.col("__h")
    for k in range(1, shingle_words):
        s = (s * SHINGLE_COMBINE + F.lead("__h", k).over(w)) % MINHASH_P
    return wh.select(F.col(id_col), s.alias("__s")).filter(
        F.col("__s").isNotNull()
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    num_hashes: int = MINHASH_NUM_HASHES,
) -> DataFrame:
    """(id, mh0..mh7) signatures via explode → hash words once → integer
    shingle hashes → min-aggregate.

    The row-local form (:func:`minhash_cols` over an array column) is
    algebraically identical, but Catalyst's project-collapsing re-inlines
    the shingle-construction expression into every signature column — 8x
    the work (measured 58s vs ~4s on the sf0.1 corpus). Exploding pays one
    narrow shuffle of (id, pos, word-hash) rows; the window and the final
    aggregation share the same hash partitioning, so there is exactly one
    shuffle — at 100 TB it carries three longs per token, nothing more.

    Documents with no shingles (< shingle_words words) produce no rows,
    matching the NULL-signature filter of the row-local form.
    """
    hashed = shingle_hashes_exploded(df, id_col, text_col, shingle_words)
    # one expr parse per signature column (the loop otherwise pays ~8 py4j
    # round-trips per hash function — functions.vectors discipline)
    mins = []
    for j in range(num_hashes):
        a, b = affine_params(j)
        mins.append(
            F.expr(f"min(({a} * __s + {b}) % {MINHASH_P}) AS mh{j}")
        )
    return hashed.groupBy(id_col).agg(*mins)


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    shingle_words: int = 3,
    num_hashes: int = MINHASH_NUM_HASHES,
    id_col: str = "doc_id",
) -> DataFrame:
    """df columns + mh0..mh7 (joined back on id_col; see
    :func:`minhash_signatures` for why the signature pass is exploded).
    LEFT join: documents too short to shingle keep their row with NULL
    signature columns — the same contract as the row-local
    :func:`minhash_cols` form, and no silent row loss for enrich-style
    callers."""
    sigs = minhash_signatures(df, id_col, text_col, shingle_words, num_hashes)
    return df.join(sigs, on=id_col, how="left")


def band_key(sig_cols: list[str], band: int, bands: int = MINHASH_BANDS) -> Column:
    """LSH band bucket id: md5 of the band's signature-column slice."""
    r = len(sig_cols) // bands
    parts = sig_cols[band * r : (band + 1) * r]
    return F.md5(F.concat_ws(":", *[F.col(c).cast("string") for c in parts]))


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Self-join within band buckets → distinct (id_a < id_b) candidate
    pairs with the signature-agreement estimate of Jaccard similarity.

    The band explode multiplies rows by `bands` (small constant); the join
    key (band_idx, band_hash) has ~n*bands/bucket_size cardinality, so the
    shuffle is on a high-cardinality key — well-distributed at scale.
    """
    sig_names = [f"mh{j}" for j in range(num_hashes)]
    banded = sigs.select(
        id_col,
        *sig_names,
        F.posexplode(
            F.array(*[band_key(sig_names, b, bands) for b in range(bands)])
        ).alias("band_idx", "band_hash"),
    ).filter(F.col(sig_names[0]).isNotNull())

    a = banded.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in sig_names],
        "band_idx",
        "band_hash",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in sig_names],
        "band_idx",
        "band_hash",
    )
    agree_sql = " + ".join(
        f"(CASE WHEN {c}_a = {c}_b THEN 1 ELSE 0 END)" for c in sig_names
    )
    # merge hint: AQE otherwise broadcasts one side, which re-materializes
    # the ENTIRE signature pipeline as a broadcast subtree (measured 2.5x
    # slower at sf0.1) — and broadcasting a banded signature table is
    # impossible at 100 TB anyway. With both sides as shuffle stages the
    # signature computation is shared, and SMJ + AQE skew-split handles
    # pathological buckets by spilling, not OOM.
    return (
        a.join(b.hint("merge"), on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(F.expr(agree_sql) / F.lit(float(len(sig_names))), 6)
            .alias("est_jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_words: int = 3,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature → banded candidates →
    threshold on estimated Jaccard. Defaults (8 hashes / 2 bands) fit the
    oracle fixture; production recall at 100 TB wants num_hashes=128,
    bands=16 — the match probability is 1-(1-j^(n/b))^b, and 8/2 misses too
    many 0.5-Jaccard pairs for a real pipeline."""
    sigs = minhash_signatures(df, id_col=id_col, text_col=text_col,
                              shingle_words=shingle_words,
                              num_hashes=num_hashes)
    pairs = lsh_candidate_pairs(sigs, id_col, num_hashes=num_hashes,
                                bands=bands)
    return pairs.filter(F.col("est_jaccard") >= threshold)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
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

    Returns exploded (id, fp) rows, distinct per doc. Cost: one md5 per
    word (the MinHash discipline: hash words once, combine arithmetically);
    the k-word shingle hash is the Horner affine chain
    ``s = (s*A + w_j) mod P`` — products < 2^48, bit-exact on both engines.

    Docs with fewer than k words contribute nothing; docs with fewer than
    `window` shingles contribute their single overall min.
    """
    whash = F.transform(
        T.tokens(F.col(text_col)),
        lambda t: H.h64(t, nchars=MINHASH_BASE_HEX),
    )
    # materialize each intermediate array in its OWN projection, then window
    # over the column reference — windowing over the raw expression would
    # re-inline the hash work per window position (Catalyst project-collapse).
    # The >= k filter uses tokens() (split only), NOT size(__w): transform
    # preserves length so the predicates are identical, but a size(__w)
    # filter re-inlines the per-word md5 chain into the predicate and
    # pushdown then runs it serialized inside the scan stage (same failure
    # as ngram_jaccard_pairs above).
    coded = df.filter(F.size(T.tokens(F.col(text_col))) >= k).select(
        F.col(id_col), whash.alias("__w")
    )

    def shingle_hash(i):  # position i (1-based Column) -> Horner chain
        s = F.element_at(F.col("__w"), i)
        for j in range(1, k):
            s = (s * MINHASH_A[0] + F.element_at(F.col("__w"), i + j)) % MINHASH_P
        return s

    hashed = F.transform(
        F.sequence(F.lit(1), F.size("__w") - (k - 1)), shingle_hash
    )
    base = coded.select(F.col(id_col), hashed.alias("__h"))
    mins_over_h = F.when(
        F.size("__h") >= window,
        F.transform(
            F.sequence(F.lit(1), F.size("__h") - (window - 1)),
            lambda i: F.array_min(F.slice(F.col("__h"), i, window)),
        ),
    ).otherwise(F.array(F.array_min(F.col("__h"))))
    return base.select(
        id_col, F.explode(F.array_distinct(mins_over_h)).alias("fp")
    )


def winnow_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
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
    fps = winnow_fingerprints(df, id_col, text_col, k, window)
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("fp")
    )
    capped = fps.join(rare, on="fp")
    a = capped.select(F.col(id_col).alias("id_a"), "fp")
    b = capped.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b.hint("merge"), on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    rounds: int = 3,
) -> DataFrame:
    """Connected components over near-dup pairs by min-label propagation:
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
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
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
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    block_chars: int = 20,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact character-n-gram Jaccard between documents sharing a blocking
    key (first `block_chars` chars). Blocking bounds the pair space the way
    LSH bands do, but the verify step computes TRUE Jaccard on the distinct
    n-gram sets."""
    grams = F.array_distinct(T.char_ngrams(text_col, n))
    # Filter on the equivalent CHEAP predicate (grams is non-empty iff the
    # text has >= n chars) BEFORE projecting the grams. Filtering on
    # size(grams) AFTER the projection re-inlines the whole char-n-gram
    # transform into the predicate, and predicate pushdown then carries
    # that interpreted per-row transform below any upstream repartition
    # into the scan stage — where a single-row-group file serializes it
    # onto one core (measured at sf10: the scan stage ran 19 empty tasks
    # + 1 task doing every doc's n-grams twice).
    base = df.filter(F.length(F.col(text_col)) >= n).select(
        F.col(id_col),
        F.md5(F.substring(text_col, 1, block_chars)).alias("block"),
        grams.alias("grams"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"), "block", F.col("grams").alias("grams_a")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), "block", F.col("grams").alias("grams_b")
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    # merge hint: see lsh_candidate_pairs — never broadcast the gram table
    return (
        a.join(b.hint("merge"), on="block")
        .filter(F.col("id_a") < F.col("id_b"))
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
# Each affine draw is mod 2^31-1, so it yields 31 honest bits; wider
# signatures take bits from INDEPENDENT draws (a "64-bit" signature built
# by reusing one draw's bits would collide exactly like a 31-bit one —
# perfectly correlated halves).
SIMHASH_BITS_PER_DRAW = 31
# One (a, b) mix per draw: small classic Lehmer/L'Ecuyer multipliers.
# 48271 (Park-Miller 1988 revision), 69621, 16807 (MINSTD), and 39373 are
# verified primitive roots mod 2^31-1 (full period); 40692 is L'Ecuyer's
# full-period multiplier for the close prime 2147483399, kept unchanged so
# stored 64-bit signatures stay stable. All multipliers are < 2^17 and
# shingle hashes are < 2^31, so every product stays < 2^48 — exact under
# Spark's ANSI mode and DuckDB BIGINT alike. Five draws x 31 bits cap the
# signature width at 155 bits, which covers the 128-bit config.
# EXTENSION RULE (if anything ever needs >155 bits): append another
# primitive root mod 2^31-1 that is < 2^17 — verify with
# all(pow(a, (p-1)//q, p) != 1 for q in (2,3,7,11,31,151,331)), p=2^31-1.
# The DuckDB oracle mirrors whatever is here (plans/dedup_queries.py
# generates its SQL from this table), so no second edit is needed.
SIMHASH_MIX = (
    (48271, 11939),
    (69621, 12345),
    (40692, 7777),
    (16807, 5551),
    (39373, 9999),
)


def simhash_words(bits: int = SIMHASH_BITS) -> int:
    """Number of 32-bit words (sh0, sh1, ...) a signature packs into."""
    return (bits + 31) // 32


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    shingle_words: int = 3,
) -> DataFrame:
    """SimHash per document: integer shingle hashes (see
    :func:`shingle_hashes_exploded`) → distinct per doc → one affine mix
    per 31-bit draw → per-bit conditional counts in one partial+final
    aggregation. Each word is hashed exactly once at any supported
    width. Width is capped at 31 x len(SIMHASH_MIX) bits (155 with the
    published 5-draw family — covering the 128-bit config); past the cap
    the function fails loudly rather than silently correlating bits. To
    extend, follow the EXTENSION RULE documented at SIMHASH_MIX.

    Output: ``(id_col, sh0[, sh1, ...])`` — one non-negative 32-bit word
    per column (bit b lives in word b div 32). Packing into 32-bit words
    instead of one 64-bit value keeps every signature value positive, so
    band extraction (div/mod) and Hamming (xor + bit_count) never touch a
    sign bit on either engine. Global bit b draws local bit (b mod 31) of
    draw (b div 31) — each draw an independent affine mix mod 2^31-1
    (SIMHASH_MIX), which is what makes the advertised width honest."""
    ndraws = (bits + SIMHASH_BITS_PER_DRAW - 1) // SIMHASH_BITS_PER_DRAW
    if ndraws > len(SIMHASH_MIX):
        raise ValueError(
            f"{bits} bits needs {ndraws} draws; SIMHASH_MIX has "
            f"{len(SIMHASH_MIX)} — extend the published family (the oracle "
            f"mirrors these constants)"
        )
    hashed = shingle_hashes_exploded(df, id_col, text_col, shingle_words or 3)
    distinct = hashed.dropDuplicates([id_col, "__s"])
    # whole-string expression construction: the per-bit loop otherwise
    # costs ~5 py4j round-trips per bit x 64 bits plus ~8 per packed-word
    # CASE arm — measured as the dominant build cost of q_dedup_simhash
    # (1.9 s of a 3.2 s query). One expr parse per generated column keeps
    # the identical analyzed tree (functions.vectors discipline).
    mixed = distinct.select(
        id_col,
        *[
            F.expr(f"({a} * __s + {b}) % {MINHASH_P} AS __v{k}")
            for k, (a, b) in enumerate(SIMHASH_MIX[:ndraws])
        ],
    )
    bit_counts = [
        F.expr(
            f"sum(CAST((__v{b // SIMHASH_BITS_PER_DRAW} div "
            f"{1 << (b % SIMHASH_BITS_PER_DRAW)}) % 2 AS INT)) AS __c{b}"
        )
        for b in range(bits)
    ]
    agged = mixed.groupBy(id_col).agg(F.count("*").alias("__n"), *bit_counts)
    words = []
    for w in range(simhash_words(bits)):
        word_sql = " + ".join(
            f"(CASE WHEN __c{b} * 2 > __n THEN {1 << (b - 32 * w)} "
            f"ELSE 0 END)"
            for b in range(32 * w, min(32 * (w + 1), bits))
        )
        words.append(F.expr(f"CAST({word_sql} AS BIGINT) AS sh{w}"))
    return agged.select(F.col(id_col), *words)


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 4 equal-width
    bands: Hamming(a,b) <= 3 ⇒ at least one of the 4 bands is untouched
    (pigeonhole), so the band join loses no true pair at the default
    threshold while avoiding the n² compare. 64 bits / 4 bands / hamming 3
    is exactly the Manku et al. (WWW'07) web-scale configuration; above
    hamming 3 the blocking becomes approximate (documented, not silent).

    Width guard: the 4 bands must TILE the 32-bit signature words — i.e.
    band_bits (= bits/4) must divide 32, so bits is a power of two in
    [4, 128]. A non-tiling width like 40 would leave bits 30-31 outside
    every band: recall would survive (an untouched bit perturbs no band,
    so the pigeonhole bound holds a fortiori) but the exact Manku band
    layout this docstring promises would not. Widths ABOVE 128 are also
    rejected: their bands span multiple 32-bit words, and the extraction
    below reads exactly one word per band — accepting them would silently
    block on that same weaker truncated-band layout (today they are
    doubly unreachable, since SIMHASH_MIX caps the family at 155 bits and
    the next tiling width is 256; if the mix family is ever extended past
    256 bits, band extraction must learn to concatenate band_bits/32
    whole words per band before this guard is relaxed)."""
    if bits % 4:
        raise ValueError("band blocking needs bits divisible by 4")
    band_bits = bits // 4
    if 32 % band_bits != 0:
        raise ValueError(
            f"bits={bits} gives band_bits={band_bits}, which does not tile "
            f"the 32-bit signature words (need band_bits | 32, i.e. a "
            f"power-of-two width in [4, 128]); widths > 128 need "
            f"multi-word band extraction, which this blocker does not do"
        )
    per_word = max(1, 32 // band_bits)  # bands carved per 32-bit word
    base = simhash_signatures(df, id_col=id_col, text_col=text_col, bits=bits)
    sig_cols = [f"sh{w}" for w in range(simhash_words(bits))]
    band_vals = [
        F.expr(
            f"CAST({sig_cols[i // per_word]} / "
            f"{1 << (band_bits * (i % per_word))} AS BIGINT) "
            f"% {1 << band_bits}"
        )
        for i in range(4)
    ]
    banded = base.select(
        id_col,
        *sig_cols,
        F.posexplode(F.array(*band_vals)).alias("band_idx", "band_val"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in sig_cols],
        "band_idx",
        "band_val",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in sig_cols],
        "band_idx",
        "band_val",
    )
    hamming = F.expr(
        " + ".join(f"bit_count({c}_a ^ {c}_b)" for c in sig_cols)
    )
    # merge hint: see lsh_candidate_pairs — lets the signature shuffle be
    # shared between the two sides instead of re-computed for a broadcast
    return (
        a.join(b.hint("merge"), on=["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        # Hamming BEFORE the pair-dedup shuffle: bands collide by chance
        # at ~1/2^band_bits per band, so the candidate set is dominated by
        # far pairs — filtering first shrinks the dropDuplicates exchange
        # from every chance collision down to the true near-dups. Result
        # is identical (hamming is a function of the dedup key).
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# --- embedding cosine near-dup ------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
    bands: int = 2,
    planes_per_band: int = 6,
) -> DataFrame:
    """Near-dup pairs by cosine similarity, banded-LSH-blocked so the pair
    space stays bounded as the corpus grows.

    A coarse block (``block_col``; pass None for LSH-only) alone does NOT
    scale: fixed-cardinality blocks grow linearly with the corpus, so
    within-block pairs grow QUADRATICALLY (measured 13s → 132s for x10
    data at sf1 with 10 label blocks). Each block is therefore sub-divided
    by ``bands`` hashed-hyperplane sign buckets of ``planes_per_band``
    bits (hashed_hyperplane_bucket); candidates = pairs sharing a bucket
    in ANY band. This is MinHash-LSH banding transplanted to the
    embedding space: identical vectors collide in every band (recall 1.0
    on exact copies), genuinely-near pairs collide with the standard
    banded probability 1-(1-s^r)^b, and bucket count 2^planes_per_band
    is the knob that keeps per-bucket pair work flat as n grows.

    Cost per candidate is ONE dot product: both sides are L2-normalized
    once before the joins (the measured q_semdedup optimization; an
    oracle must mirror dot(normalize(a), normalize(b)) exactly)."""
    from ..functions import vectors as V

    blk = F.lit(0) if block_col is None else F.col(block_col)
    base = df.select(
        F.col(id_col),
        blk.alias("__blk"),
        V.normalize(V.s_as_double_array(vec_col)).alias("__v"),
    )
    parts = []
    for band in range(bands):
        banded = base.select(
            id_col,
            "__blk",
            "__v",
            hashed_hyperplane_bucket(
                "__v", band, planes_per_band
            ).alias("__bkt"),
        )
        a = banded.select(
            F.col(id_col).alias("id_a"),
            F.col("__v").alias("va"),
            "__blk",
            "__bkt",
        )
        b = banded.select(
            F.col(id_col).alias("id_b"),
            F.col("__v").alias("vb"),
            "__blk",
            "__bkt",
        )
        # merge hint: see lsh_candidate_pairs — never broadcast the
        # vector table
        parts.append(
            a.join(b.hint("merge"), on=["__blk", "__bkt"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(V.dot("va", "vb"), 6).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # a pair colliding in several bands appears once per band with the
    # SAME deterministic rounded cosine — distinct collapses it
    return out.distinct()


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


def hashed_hyperplane_bucket(
    vec_col: str, band: int, n_planes: int = 6
) -> Column:
    """Pseudo-random-hyperplane LSH bucket for one band: sign bits of
    ``n_planes`` projections whose ±1 pattern per (global plane p,
    element i) is the LCG bit ``(i*1103515245 + p*12345) // 65536 % 2``
    (+1 when it is 0), for p = band*n_planes .. band*n_planes+n_planes-1.

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
            for p in range(band * n_planes, (band + 1) * n_planes)
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

def semdedup_keep(
    assigned: DataFrame,
    id_col: str = "vec_id",
    cluster_col: str = "centroid_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup's keep step (Abbas et al. 2023, public paper): given
    vectors already coarse-clustered (``knn.ivf_assign`` output or any
    (id, cluster, vector) frame), drop every vector whose rounded cosine
    similarity to a LOWER-id member of the SAME cluster exceeds
    ``threshold``; return the kept (id, cluster) rows.

    Determinism: the "first" representative of a duplicate set is the
    minimum id (a total order), and cosine is rounded to 6dp before the
    comparison, so the kept set is identical under any partitioning.
    Cosine is computed as dot(normalize(a), normalize(b)) — vectors are
    L2-normalized ONCE per side before the pair join, so each candidate
    pair costs a single 1-pass dot product instead of three (measured 2x
    on the sf0.1 pair stage; an oracle must mirror this exact algebra).

    Scale: the self-join is ON the cluster key, so pair work is
    O(sum c_i^2) over cluster sizes — bounded by choosing n_clusters
    proportional to corpus size (the paper's 11k clusters for 5B rows).
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
    from ..functions import vectors as V

    shuffle_n = int(
        assigned.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    base = assigned.select(
        F.col(id_col).alias("__id"),
        F.col(cluster_col).alias("__cl"),
        V.normalize(V.s_as_double_array(vec_col)).alias("__v"),
    ).repartition(shuffle_n, "__cl")
    # No checkpoint here (round 13): the three references to ``base``
    # below (both pair-join sides + the anti-join's kept side) all sit
    # on top of the SAME explicit repartition exchange, and Spark's
    # exchange reuse collapses them to ONE shuffle at runtime — the
    # n x k assignment is computed once, not three times (proven by
    # timing at sf1: the whole keep step runs in ~2x the isolated
    # assignment cost, where a triple recompute alone would exceed it).
    # The old lazy localCheckpoint that used to guard the recompute was
    # measured as pure overhead once the explicit repartition landed:
    # fresh-process A/B at sf1 (20k vectors), order-reversed, read
    # 33.0/30.2/42.8 s checkpointed vs 17.1/14.9/18.7-23.0 s without —
    # the checkpoint serializes plan-build (AQE materializes every
    # upstream stage before the first action), writes n vectors to
    # block storage, and hides the assignment subtree's statistics from
    # the planner. At sf0.1 the same A/B reads 2.9 -> 2.2 s. Results
    # hash-identical at sf0.01/sf0.1/sf1.
    right = base.select(
        F.col("__id").alias("__id_b"),
        F.col("__cl").alias("__cl_b"),
        F.col("__v").alias("__vb"),
    )
    dropped = (
        base.join(
            right,
            (F.col("__cl") == F.col("__cl_b"))
            & (F.col("__id") < F.col("__id_b")),
        )
        .filter(
            F.round(V.dot("__v", "__vb"), 6) > threshold
        )
        .select(F.col("__id_b").alias("__id"))
        .distinct()
    )
    return (
        base.join(dropped, "__id", "left_anti")
        .select(F.col("__id").alias(id_col), F.col("__cl").alias(cluster_col))
    )
