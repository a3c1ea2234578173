"""Near-duplicate-detection declared queries (north-star dedup family).

Each query runs over a *planted corpus*: the documents (or embeddings)
table unioned with deterministic copies/near-copies, so every dedup
operator provably finds the planted duplicates and the oracle reproduces the
construction exactly:

- exact copies: doc_id + PLANT_COPY_OFFSET, same text         (doc_id % 50 == 0)
- near copies:  doc_id + PLANT_NEAR_OFFSET, text + fixed tail (doc_id % 70 == 0)

The offsets (plans/plant.py) sit at 1e12/2e12 — far above any fixture id —
because an id collision silently MERGES a planted copy with an unrelated
real document inside the grouped-by-id signature aggregates while the
per-row oracles keep them separate (the round-4 sf10 scale proof caught
exactly that with the old 1e5 offsets at 500k docs). assert_plantable
backstops the constant from the parquet footer at plan-build time.

All hashing is md5-derived (functions.hashing), so MinHash / SimHash / LSH
buckets are bit-identical across engines — the checks are value-exact, not
statistical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import dedup as D
from ..sources import load_table
from .duck import d_dot, d_hashed_bucket, d_normalize, dd, d_words
from .plant import PLANT_COPY_OFFSET, PLANT_NEAR_OFFSET, assert_plantable
from .registry import query

NEAR_SUFFIX = " extra appended tail"
# aliased to the operator module's values — the Spark side calls
# D.minhash_dedup_pairs with ITS defaults, so a second copy here could
# silently diverge when the production-recall config (128/16) lands
NUM_HASHES = D.MINHASH_NUM_HASHES
BANDS = D.MINHASH_BANDS


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The fixture is one small parquet file (1-3 input splits), but the
    # dedup passes are CPU-bound string/hash work — spread rows across all
    # cores. On a real cluster the many input files of a 100 TB table give
    # this parallelism for free and the repartition would be dropped.
    assert_plantable(sf_dir)
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    copies = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + PLANT_COPY_OFFSET).alias("doc_id"), "text"
    )
    nears = d.filter(F.col("doc_id") % 70 == 0).select(
        (F.col("doc_id") + PLANT_NEAR_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEAR_SUFFIX)).alias("text"),
    )
    return d.unionByName(copies).unionByName(nears)


_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_COPY_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + {PLANT_NEAR_OFFSET} AS doc_id, text || '{NEAR_SUFFIX}' AS text
  FROM documents WHERE doc_id % 70 = 0
)
"""

# DuckDB fragments mirroring functions.text exactly
_WORDS = d_words()
_SHINGLES = (
    "CASE WHEN len(words) >= 3 THEN "
    "list_transform(range(1, len(words) - 1), "
    "i -> array_to_string(words[i:i+2], ' ')) "
    "ELSE [] END"
)


# integer word-hash + polynomial n-gram combination, mirroring
# operators.dedup.shingle_hashes_exploded
_WORD_HASHES = (
    f"list_transform({_WORDS}, w -> "
    f"CAST(concat('0x', substr(md5(w), 1, {D.MINHASH_BASE_HEX})) AS BIGINT))"
)
_SHINGLE_HASHES = (
    "CASE WHEN len(wh) >= 3 THEN "
    "list_transform(range(1, len(wh) - 1), i -> "
    f"(((wh[i] * {D.SHINGLE_COMBINE} + wh[i+1]) % {D.MINHASH_P}) "
    f"* {D.SHINGLE_COMBINE} + wh[i+2]) % {D.MINHASH_P}) "
    "ELSE [] END"
)


def _minhash_sql(num_hashes: int = NUM_HASHES) -> str:
    # D.affine_params keeps the published 8 constants and extends the
    # family deterministically past them — the SQL mirrors whichever
    # constants the requested width draws
    mh = ",\n         ".join(
        f"list_min(list_transform(shingles, "
        f"h -> ({D.affine_params(j)[0]} * h + {D.affine_params(j)[1]}) "
        f"% {D.MINHASH_P})) AS mh{j}"
        for j in range(num_hashes)
    )
    return f"""
wh_t AS (
  SELECT doc_id, {_WORD_HASHES} AS wh FROM corpus
), shingles_t AS (
  SELECT doc_id, {_SHINGLE_HASHES} AS shingles FROM wh_t
), sigs AS (
  SELECT doc_id,
         {mh}
  FROM shingles_t
  WHERE len(shingles) > 0
)"""


def _band_hash_sql(band: int, num_hashes: int = NUM_HASHES,
                   bands: int = BANDS) -> str:
    r = num_hashes // bands
    cols = ", ".join(f"mh{j}::VARCHAR" for j in range(band * r, (band + 1) * r))
    return f"md5(concat_ws(':', {cols}))"


def _minhash_pairs_sql(num_hashes: int = NUM_HASHES,
                       bands: int = BANDS) -> str:
    """Full MinHash-LSH pairs oracle at any (num_hashes, bands) — mirrors
    operators.dedup.minhash_dedup_pairs at the same parameters."""
    return f"""
WITH {_CORPUS_SQL.strip()},
{_minhash_sql(num_hashes).strip()},
banded AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {', '.join(f'mh{j}' for j in range(num_hashes))}, "
    f"{b} AS band_idx, {_band_hash_sql(b, num_hashes, bands)} AS band_hash "
    f"FROM sigs WHERE mh0 IS NOT NULL"
    for b in range(bands)
  )}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         round(({" + ".join(
           f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END"
           for j in range(num_hashes)
         )}) / {float(num_hashes)}, 6) AS est_jaccard
  FROM banded a
  JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, est_jaccard FROM pairs WHERE est_jaccard >= 0.5
"""


_MINHASH_ORACLE = _minhash_pairs_sql()


@query("q_dedup_minhash", oracle=_MINHASH_ORACLE)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(2 bands) near-dup pairs over the planted corpus.
    Signatures come from the exploded word-hash form — one narrow shuffle
    of (id, pos, word-hash) longs (operators.dedup.minhash_signatures
    explains why it beats the row-local array form); the band-bucket
    self-join is the only other shuffle, which is what makes this
    O(n·bucket) instead of O(n²) at 100 TB. Defaults 8 hashes / 2 bands fit
    the oracle; production recall wants 128/16 — both are parameters
    (tested at a non-default setting in tests/test_dedup.py)."""
    return D.minhash_dedup_pairs(_corpus(spark, sf_dir), threshold=0.5)


def _simhash_sql() -> str:
    # integer shingle hashes + one independent affine mix per 31-bit draw,
    # mirroring operators.dedup.simhash_signatures (64-bit, two 32-bit
    # words sh0/sh1 so no value ever touches a sign bit in either engine)
    bpd = D.SIMHASH_BITS_PER_DRAW
    mixes = ",\n         ".join(
        f"({a} * s + {b}) % {D.MINHASH_P} AS v{k}"
        for k, (a, b) in enumerate(D.SIMHASH_MIX)
    )
    bit_cnts = ",\n         ".join(
        f"sum((v{b // bpd} // {1 << (b % bpd)}) % 2) AS c{b}"
        for b in range(D.SIMHASH_BITS)
    )
    words = ",\n         ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN c{b} * 2 > n THEN {1 << (b - 32 * w)} ELSE 0 END)"
            for b in range(32 * w, 32 * (w + 1))
        )
        + f" AS BIGINT) AS sh{w}"
        for w in range(D.SIMHASH_WORDS)
    )
    return f"""
wh_t AS (
  SELECT doc_id, {_WORD_HASHES} AS wh FROM corpus
), feats AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLE_HASHES})) AS s FROM wh_t
), hashed AS (
  SELECT doc_id,
         {mixes}
  FROM feats
), cnts AS (
  SELECT doc_id, count(*) AS n,
         {bit_cnts}
  FROM hashed GROUP BY doc_id
), sh_t AS (
  SELECT doc_id, {words} FROM cnts
)"""


def _simhash_band_sql(i: int) -> str:
    """Band i of 4: the 16-bit half (i mod 2) of word i div 2."""
    return f"(sh{i // 2} // {1 << (16 * (i % 2))}) % {1 << 16}"


_SIMHASH_WORD_COLS = ", ".join(f"sh{w}" for w in range(D.SIMHASH_WORDS))
_SIMHASH_HAMMING = " + ".join(
    f"bit_count(xor(a.sh{w}, b.sh{w}))" for w in range(D.SIMHASH_WORDS)
)

_SIMHASH_ORACLE = f"""
WITH {_CORPUS_SQL.strip()},
{_simhash_sql().strip()},
banded AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {_SIMHASH_WORD_COLS}, {i} AS band_idx, "
    f"{_simhash_band_sql(i)} AS band_val FROM sh_t"
    for i in range(4)
  )}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST({_SIMHASH_HAMMING} AS INTEGER) AS hamming
  FROM banded a
  JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""


@query("q_dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit) near-dup pairs, blocked on 4 16-bit bands (Hamming
    ≤ 3 over 64 bits ⇒ ≥1 of 4 bands equal, so the blocking loses no true
    pair) — the Manku et al. WWW'07 web-scale configuration. 64-bit width
    is what keeps precision usable past ~10^5 docs: the 32-bit family
    measured precision 0.045 at 500k docs (SCALE.md detector pricing)."""
    return D.simhash_dedup_pairs(_corpus(spark, sf_dir), max_hamming=3)


_NGRAM_ORACLE = f"""
WITH {_CORPUS_SQL.strip()},
base AS (
  SELECT doc_id,
         md5(substr(text, 1, 20)) AS block,
         list_distinct(
           CASE WHEN length(text) >= 5 THEN
             list_transform(range(1, length(text) - 3), i -> substr(text, i, 5))
           ELSE [] END
         ) AS grams
  FROM corpus
  WHERE length(text) >= 5
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
             6) AS jaccard
FROM base a
JOIN base b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
            6) >= 0.6
"""


@query("q_dedup_ngram", oracle=_NGRAM_ORACLE)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-5-gram Jaccard ≥ 0.6 between docs sharing a 20-char-prefix
    block — LSH-free verify-style dedup with a cheap blocking key."""
    return D.ngram_jaccard_pairs(
        _corpus(spark, sf_dir),
        n=5,
        block_chars=20,
        threshold=0.6,
    )


_EMB_CORPUS_SQL = f"""
vcorpus AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_COPY_OFFSET} AS vec_id, label, embedding
  FROM embeddings WHERE vec_id % 50 = 0
)
"""

# mirrors operators.dedup.embedding_near_dup_pairs: L2-normalize once,
# bucket per band by hashed-hyperplane sign bits, one dot per candidate
# pair. Spark explodes the bands into (band_idx, bucket) rows, joins them
# once and keeps one row per pair; this oracle joins each band on its own
# and UNIONs them, which yields the same set, since a pair's rounded
# cosine is the same in every band it collides in. That docstring says
# why banding, not the label block alone, bounds pair growth.
_EMB_DEDUP_ORACLE = f"""
WITH {_EMB_CORPUS_SQL.strip()},
base AS (
  SELECT vec_id, label, {d_normalize(dd("embedding"))} AS v FROM vcorpus
),
b0 AS (
  SELECT vec_id, label, v, {d_hashed_bucket("v", 0)} AS bkt FROM base
),
b1 AS (
  SELECT vec_id, label, v, {d_hashed_bucket("v", 1)} AS bkt FROM base
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({d_dot("a.v", "b.v")}, 6) AS cosine
  FROM b0 a JOIN b0 b
    ON a.label = b.label AND a.bkt = b.bkt AND a.vec_id < b.vec_id
  UNION
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({d_dot("a.v", "b.v")}, 6) AS cosine
  FROM b1 a JOIN b1 b
    ON a.label = b.label AND a.bkt = b.bkt AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM cand WHERE cosine >= 0.9
"""


@query("q_dedup_embedding", oracle=_EMB_DEDUP_ORACLE)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.9): label-blocked AND
    banded-LSH-bucketed (2 bands x 6 hashed hyperplane bits), cosine as a
    single dot over pre-normalized vectors. Finds exactly the planted
    duplicate vectors (cosine 1.0 — identical vectors collide in every
    band); the banding keeps per-bucket pair work flat as the corpus
    grows, where the 10-key label block alone was quadratic (132s at sf1,
    ~4s banded)."""
    assert_plantable(sf_dir, table="embeddings", col="vec_id")
    e = load_table(spark, sf_dir, "embeddings")
    copies = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + PLANT_COPY_OFFSET).alias("vec_id"), "label", "embedding"
    )
    corpus = e.select("vec_id", "label", "embedding").unionByName(copies)
    return D.embedding_near_dup_pairs(corpus, threshold=0.9)


# single-pass normalize mirroring functions.text.fingerprint exactly —
# note DuckDB regexp_replace needs the 'g' flag (Spark replaces all
# occurrences by default, DuckDB only the first)
_FINGERPRINT_ORACLE = f"""
WITH {_CORPUS_SQL.strip()},
fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'), ' '))
           AS fingerprint
  FROM corpus
)
SELECT fingerprint,
       CAST(count(*) AS BIGINT) AS dup_cnt,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM fp
GROUP BY fingerprint
HAVING count(*) > 1
"""


@query("q_dedup_fingerprint", oracle=_FINGERPRINT_ORACLE)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize-then-hash exact dedup: md5 of lowercased whitespace-
    normalized text; groups with count > 1 are duplicate clusters (keeper =
    min doc_id). Only the 16-byte fingerprint shuffles, never the text."""
    from ..functions import text as T

    c = _corpus(spark, sf_dir)
    return (
        c.select("doc_id", T.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("dup_cnt"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("dup_cnt") > 1)
    )


# --- incremental dedup: new batch vs existing index --------------------------
#
# The production shape of dedup is INCREMENTAL: yesterday's corpus is
# already indexed; today's crawl must be checked against it AND against
# itself (the corpus-scale generalization of the reference's per-file
# skip logic, R9/R11). The planted corpus provides the split naturally:
# original documents (doc_id < PLANT_COPY_OFFSET) are the existing index,
# the planted exact copies and near-duplicates (>= it) are the new batch.

_BATCH_START = PLANT_COPY_OFFSET

_DEDUP_INCR_ORACLE = f"""
WITH pairs AS ({{minhash}})
SELECT id_b AS doc_id,
       CAST(min(id_a) AS BIGINT) AS first_dup,
       CAST(sum(CASE WHEN id_a < {_BATCH_START} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_base_dups,
       CAST(sum(CASE WHEN id_a >= {_BATCH_START} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_batch_dups
FROM pairs
WHERE id_b >= {_BATCH_START}
GROUP BY id_b
"""


@query(
    "q_dedup_incremental",
    oracle=_DEDUP_INCR_ORACLE.format(minhash=_MINHASH_ORACLE),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup: for every new-batch document with a
    near-duplicate, report its first (lowest-id) duplicate and the
    partner counts per class — existing-index partners (n_base_dups > 0:
    the ingest skips the doc, it's already represented) vs earlier-in-
    batch partners (intra-crawl dups; non-vacuous on the fixture because
    a source doc with both an exact copy and a near variant makes the
    two plants mutual near-dups). A matches-batch-ONLY doc cannot exist
    on the planted corpus — every plant matches its source — so the
    decision stays in count form, not a classifier column that could
    never fire here.

    Scale shape: identical to q_dedup_minhash (banded LSH, no all-pairs)
    plus one partial+final aggregate keyed by the batch doc id; the
    existing index contributes signatures only, never text."""
    pairs = D.minhash_dedup_pairs(_corpus(spark, sf_dir), threshold=0.5)
    batch = pairs.filter(F.col("id_b") >= _BATCH_START)
    return batch.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.min("id_a").alias("first_dup"),
        F.sum(
            F.when(F.col("id_a") < _BATCH_START, 1).otherwise(0)
        ).alias("n_base_dups"),
        F.sum(
            F.when(F.col("id_a") >= _BATCH_START, 1).otherwise(0)
        ).alias("n_batch_dups"),
    )


# --- MinHash quality evaluation (precision / recall) -------------------------
#
# q_ann_recall / q_pq_recall / q_sq_recall price the ANN approximations;
# this prices the DEDUP approximation the same way: every emitted MinHash
# pair is verified against exact 3-word-shingle Jaccard (the verify stage
# a production near-dup pipeline runs anyway), and recall is measured
# against the planted ground-truth relations whose exact Jaccard clears
# the threshold. All counts are exact integers; the two ratios are single
# divides.

# single source: the module's _SHINGLES builder (mirrors T.word_shingles)
_EVAL_SHINGLES_SQL = f"list_distinct({_SHINGLES})"

def _pair_eval_oracle(pairs_sql: str) -> str:
    """Precision/recall oracle over any emitted-pairs SQL — shared by
    q_minhash_eval, q_simhash_eval and q_winnow_eval so the verification
    algebra (exact-Jaccard cross-multiply, planted truth set) stays
    single-source. Mirrors _pair_eval's canonicalize-and-distinct of the
    emitted pairs so the harness is robust to any detector's output
    convention."""
    return f"""
WITH pairs0 AS ({pairs_sql}),
pairs AS (
  SELECT DISTINCT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
  FROM pairs0
),
{_CORPUS_SQL.strip()},
wsh AS (
  SELECT doc_id, {_EVAL_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_WORDS} AS words FROM corpus)
), jac AS (
  SELECT p.id_a, p.id_b,
         len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS ni,
         len(a.sh) + len(b.sh)
           - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS nu
  FROM pairs p
  JOIN wsh a ON p.id_a = a.doc_id
  JOIN wsh b ON p.id_b = b.doc_id
), em AS (
  SELECT CAST(count(*) AS BIGINT) AS n_emitted,
         CAST(sum(CASE WHEN nu > 0 AND 2 * ni >= nu THEN 1 ELSE 0 END)
              AS BIGINT) AS n_true_emitted
  FROM jac
), truth0 AS (
  SELECT doc_id AS id_a, doc_id + {PLANT_COPY_OFFSET} AS id_b
  FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id, doc_id + {PLANT_NEAR_OFFSET} FROM documents
  WHERE doc_id % 70 = 0
  UNION ALL
  SELECT doc_id + {PLANT_COPY_OFFSET}, doc_id + {PLANT_NEAR_OFFSET}
  FROM documents WHERE doc_id % 350 = 0
), truth AS (
  SELECT t.id_a, t.id_b
  FROM truth0 t
  JOIN wsh a ON t.id_a = a.doc_id
  JOIN wsh b ON t.id_b = b.doc_id
  WHERE len(a.sh) + len(b.sh)
          - len(list_filter(a.sh, x -> list_contains(b.sh, x))) > 0
    AND 2 * len(list_filter(a.sh, x -> list_contains(b.sh, x)))
        >= len(a.sh) + len(b.sh)
          - len(list_filter(a.sh, x -> list_contains(b.sh, x)))
), tr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_truth,
         CAST(count(p.id_a) AS BIGINT) AS n_found
  FROM truth t
  LEFT JOIN pairs p ON t.id_a = p.id_a AND t.id_b = p.id_b
)
SELECT em.n_emitted, em.n_true_emitted,
       round(CAST(em.n_true_emitted AS DOUBLE) / em.n_emitted, 6)
         AS precision,
       tr.n_truth, tr.n_found,
       round(CAST(tr.n_found AS DOUBLE) / tr.n_truth, 6) AS recall
FROM em, tr
"""


def _pair_eval(
    spark: SparkSession, sf_dir: str, corpus: DataFrame, emitted: DataFrame
) -> DataFrame:
    """Shared precision/recall harness for the dedup approximations:
    exact-Jaccard verify every emitted pair (array-local intersect over
    distinct 3-word shingles — the verify stage runs on the
    signature-bounded pair list, never all-pairs) and measure recall
    against the planted ground-truth relations whose true Jaccard clears
    0.5. The is-true test is an integer cross-multiply
    (2*|intersect| >= |union|), so every count is exact.

    The harness does not trust the detector's output convention: emitted
    pairs are canonicalized (least/greatest) and deduplicated here, so a
    detector emitting reversed or repeated pairs prices the same as one
    emitting ordered-distinct pairs (mirrored in _pair_eval_oracle)."""
    emitted = emitted.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    ).dropDuplicates(["id_a", "id_b"])
    # the plan references the shingle table FOUR times (each with_true
    # joins it on both pair sides), and Spark re-executes an un-exchanged
    # subtree per consumer — the lazy localCheckpoint materializes the
    # (doc_id, shingles) rows once per invocation (round-13 measurement:
    # q_minhash_eval 2.90 s -> 2.24 s at sf0.1, hash-identical; removing
    # it took q_minhash_wide_eval from 6.3 to 14.3 exec task-s at sf0.1
    # on 4 vCPUs). It runs that materialization as Spark jobs while the
    # plan is built.
    sh = corpus.select(
        "doc_id",
        F.array_distinct(T.word_shingles("text", 3)).alias("sh"),
    ).localCheckpoint(eager=False)
    def with_true(pairs: DataFrame) -> DataFrame:
        ni = F.size(F.array_intersect("sha", "shb"))
        nu = F.size("sha") + F.size("shb") - ni
        return (
            pairs.join(
                sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sha")),
                "id_a",
            )
            .join(
                sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("shb")),
                "id_b",
            )
            .withColumn("is_true", (nu > 0) & (2 * ni >= nu))
        )

    em = with_true(emitted).agg(
        F.count("*").alias("n_emitted"),
        F.sum(F.col("is_true").cast("long")).alias("n_true_emitted"),
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    truth0 = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + PLANT_COPY_OFFSET).alias("id_b"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 70 == 0).select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + PLANT_NEAR_OFFSET).alias("id_b"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 350 == 0).select(
                (F.col("doc_id") + PLANT_COPY_OFFSET).alias("id_a"),
                (F.col("doc_id") + PLANT_NEAR_OFFSET).alias("id_b"),
            )
        )
    )
    truth = with_true(truth0).filter("is_true").select("id_a", "id_b")
    found = truth.join(
        emitted.select(
            F.col("id_a").alias("e_a"), F.col("id_b").alias("e_b")
        ),
        (F.col("id_a") == F.col("e_a")) & (F.col("id_b") == F.col("e_b")),
        "left",
    )
    tr = found.agg(
        F.count("*").alias("n_truth"), F.count("e_a").alias("n_found")
    )
    return em.crossJoin(F.broadcast(tr)).select(
        "n_emitted",
        "n_true_emitted",
        F.round(
            F.col("n_true_emitted").cast("double") / F.col("n_emitted"), 6
        ).alias("precision"),
        "n_truth",
        "n_found",
        F.round(
            F.col("n_found").cast("double") / F.col("n_truth"), 6
        ).alias("recall"),
    )


@query("q_minhash_eval", oracle=_pair_eval_oracle(_MINHASH_ORACLE))
def q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision and recall of the banded MinHash dedup (8 hashes /
    2 bands) against exact-Jaccard-verified planted truth — the number
    that motivates the production 128/16 parameterization the operator
    already exposes (1.0 precision, 0.90/0.95/0.98 recall at
    sf0.001/0.01/0.1)."""
    corpus = _corpus(spark, sf_dir)
    emitted = D.minhash_dedup_pairs(corpus, threshold=0.5).select(
        "id_a", "id_b"
    )
    return _pair_eval(spark, sf_dir, corpus, emitted)


# Production-leaning LSH shape: same 4 rows per band as the default, twice
# the bands. Match probability goes 1-(1-j^4)^2 -> 1-(1-j^4)^4 (at j=0.5:
# 0.121 -> 0.229 per the S-curve), which is the knob a 100 TB pipeline
# turns for recall — the full 128/16 production config is the same move
# continued. 16 hashes stay well inside the deterministic affine family
# and the oracle mirrors the extended constants exactly.
_WIDE_HASHES, _WIDE_BANDS = 16, 4


@query(
    "q_minhash_wide_eval",
    oracle=_pair_eval_oracle(_minhash_pairs_sql(_WIDE_HASHES, _WIDE_BANDS)),
)
def q_minhash_wide_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the PRODUCTION-SHAPED MinHash config (16 hashes
    / 4 bands — double the default's band count at the same rows-per-band)
    on the same planted truth as q_minhash_eval. This prices the recall
    the 8/2 default leaves behind and proves the affine family extension
    past the 8 published constants is oracle-exact end-to-end, so scaling
    the real knob (128/16 at 100 TB) changes only two integers."""
    corpus = _corpus(spark, sf_dir)
    emitted = D.minhash_dedup_pairs(
        corpus, threshold=0.5, num_hashes=_WIDE_HASHES, bands=_WIDE_BANDS
    ).select("id_a", "id_b")
    return _pair_eval(spark, sf_dir, corpus, emitted)


@query("q_simhash_eval", oracle=_pair_eval_oracle(_SIMHASH_ORACLE))
def q_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same pricing for the SimHash(64-bit, Hamming <= 3) detector:
    SimHash targets angular similarity rather than set Jaccard, so its
    precision/recall against the Jaccard-0.5 planted truth quantifies
    the detector-family trade-off on identical ground truth — the
    comparison a pipeline owner makes when choosing between the two."""
    corpus = _corpus(spark, sf_dir)
    emitted = D.simhash_dedup_pairs(corpus, max_hamming=3).select(
        "id_a", "id_b"
    )
    return _pair_eval(spark, sf_dir, corpus, emitted)
