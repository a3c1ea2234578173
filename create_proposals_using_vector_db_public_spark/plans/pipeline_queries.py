"""Training-data-pipeline declared queries, round 2 additions: PII scrub,
repetition ratio, boilerplate detection, near-dup clustering, and a
k-means-trained IVF codebook.

These extend the north-star cleaning/dedup families (BASELINE.json:6)
beyond round 1's inventory. plans/__init__.py promotes them into the
registry's priority prefix so the driver's bounded correctness window
covers them on their first round.

Like the dedup family, queries that need phenomena the synthetic word-soup
corpus lacks (PII strings, boilerplate lines) plant deterministic rows so
both engines reproduce the construction exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import dedup as D
from ..operators import knn as K
from ..sources import load_table
from .dedup_queries import _CORPUS_SQL, _corpus
from .plant import PLANT_PII_OFFSET, assert_plantable
from .duck import d_cosine, d_l2, dd, d_words
from .registry import query

# --- PII scrub ---------------------------------------------------------------

_PII_TAIL = " Contact jane.doe@example.com or +1-555-0142 today"

_PII_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_PII_OFFSET} AS doc_id, text || '{_PII_TAIL}' AS text
  FROM documents WHERE doc_id % 40 = 0
), scrubbed AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{T.EMAIL_RE}')) AS BIGINT)
           AS n_emails,
         CAST(len(regexp_extract_all(text, '{T.PHONE_RE}')) AS BIGINT)
           AS n_phones,
         md5(regexp_replace(regexp_replace(text, '{T.EMAIL_RE}', '[EMAIL]', 'g'),
                            '{T.PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_md5
  FROM corpus
)
SELECT doc_id, n_emails, n_phones, scrubbed_md5
FROM scrubbed
WHERE n_emails + n_phones > 0
"""


@query("q_pii_scrub", oracle=_PII_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, phone numbers) with per-doc accounting — the
    cleaning pass every training-data pipeline runs before anything else.
    Pure regexp Column expressions (whole-stage codegen over all 100 TB);
    output is the redaction counts plus the md5 of the scrubbed text, so
    the value check covers the exact replacement semantics without
    shipping full texts through the compare."""
    assert_plantable(sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + PLANT_PII_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_PII_TAIL)).alias("text"),
    )
    corpus = d.unionByName(planted)
    scrubbed = corpus.select(
        "doc_id",
        T.pii_match_count("text", T.EMAIL_RE).cast("bigint").alias("n_emails"),
        T.pii_match_count("text", T.PHONE_RE).cast("bigint").alias("n_phones"),
        F.md5(
            T.redact(T.redact("text", T.EMAIL_RE, "[EMAIL]"),
                     T.PHONE_RE, "[PHONE]")
        ).alias("scrubbed_md5"),
    )
    return scrubbed.filter(F.col("n_emails") + F.col("n_phones") > 0)


# --- repetition ratio (Gopher-style quality rule) ----------------------------

_WORDS_SQL = d_words()

_REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_WORDS_SQL} AS words FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 3 THEN
           list_transform(range(1, len(words) - 1),
                          i -> array_to_string(words[i:i+2], ' '))
         ELSE [] END AS s
  FROM toks
)
SELECT doc_id,
       CAST(len(s) AS BIGINT) AS n_shingles,
       round(1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s), 6)
         AS dup_ratio
FROM sh WHERE len(s) > 0
"""


@query("q_repetition_ratio", oracle=_REPETITION_ORACLE)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate word-3-gram fraction per document — the Gopher-style
    repetition quality rule (docs that repeat themselves are low-quality
    training data). Entirely array-local: the shingle array, its
    distinct count, and the ratio are per-row Column math, so the plan is
    a ZERO-shuffle scan (the first cut exploded shingles and aggregated
    them back by doc_id — a corpus-sized shuffle to recompute what each
    row already knows; per-doc metrics should never leave the row)."""
    d = load_table(spark, sf_dir, "documents")
    # pre-filter on the cheap equivalent (>= 1 shingle iff >= 3 tokens):
    # a size(sh) > 0 filter AFTER the projection re-inlines the whole
    # shingle transform into the pushed-down predicate — twice the
    # per-row work, all inside the scan stage
    sized = d.filter(F.size(T.tokens("text")) >= 3).select(
        "doc_id", T.word_shingles("text", 3).alias("sh")
    )
    n = F.size("sh")
    return sized.select(
        "doc_id",
        n.cast("long").alias("n_shingles"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("sh")).cast("double")
            / n.cast("double"),
            6,
        ).alias("dup_ratio"),
    )


# --- boilerplate line detection ----------------------------------------------

_HEADER = "PROPOSAL BOILERPLATE HEADER"
_FOOTER = "CONFIDENTIAL FOOTER DO NOT DISTRIBUTE"

_BOILERPLATE_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN '{_HEADER}' || chr(10) || text ELSE text END AS text
  FROM documents
), corpus2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || chr(10) || '{_FOOTER}' ELSE text END AS text
  FROM corpus
), lines AS (
  SELECT doc_id, trim(l, ' ') AS line
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM corpus2)
  WHERE length(trim(l, ' ')) > 0
)
SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM lines
GROUP BY line
HAVING count(DISTINCT doc_id) >= 5
"""


@query("q_boilerplate_lines", oracle=_BOILERPLATE_ORACLE)
def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: lines shared by >= 5 distinct
    docs (headers/footers/licenses that must be stripped before training).
    At 100 TB the groupBy key is the line text — hash the line first if
    lines are long; here they are short and the planted header/footer are
    the expected survivors."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    withhdr = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit(_HEADER), F.lit("\n"), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    withftr = withhdr.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit("\n"), F.lit(_FOOTER)),
        ).otherwise(F.col("text")).alias("text"),
    )
    lines = (
        withftr.select("doc_id", F.explode(F.split("text", "\n")).alias("l"))
        .select("doc_id", F.trim("l").alias("line"))
        .filter(F.length("line") > 0)
    )
    return (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 5)
    )


# --- near-dup clustering (connected components) ------------------------------

def _label_prop_sql(rounds: int) -> str:
    """The oracle's min-label propagation rounds, mirroring
    operators.dedup.dup_clusters exactly."""
    ctes = [
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"
    ]
    for k in range(1, rounds + 1):
        prev = f"l{k - 1}"
        ctes.append(
            f"l{k} AS (SELECT p.node, "
            f"least(p.label, coalesce(m.nbmin, p.label)) AS label "
            f"FROM {prev} p LEFT JOIN ("
            f"SELECT e.src AS node, min(q.label) AS nbmin "
            f"FROM edges e JOIN {prev} q ON e.dst = q.node GROUP BY e.src"
            f") m ON p.node = m.node)"
        )
    return ",\n".join(ctes)


from .dedup_queries import _MINHASH_ORACLE  # noqa: E402

_DUP_CLUSTERS_ORACLE = f"""
WITH pairs AS ({_MINHASH_ORACLE}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
{_label_prop_sql(3)}
SELECT node AS doc_id, label AS cluster_id FROM l3
"""


@query("q_dup_clusters", oracle=_DUP_CLUSTERS_ORACLE)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pairs via 3 rounds of
    min-label propagation — the step that turns pairwise dedup output into
    'keep one doc per duplicate cluster'. Each round is one join + one
    aggregate shuffling only (node, label) longs; the pair lineage is
    checkpointed once so the plan does not re-inline the signature pipeline
    per round (operators.dedup.dup_clusters)."""
    pairs = D.minhash_dedup_pairs(_corpus(spark, sf_dir), threshold=0.5)
    return D.dup_clusters(pairs, rounds=3)


# --- winnowed (rolling-hash) fingerprint dedup -------------------------------

_WINNOW_K = 3
_WINNOW_W = 4


def _winnow_shingle_sql(k: int) -> str:
    """Horner affine chain over k word hashes — mirrors
    operators.dedup.winnow_fingerprints.shingle_hash exactly."""
    s = "wh[i]"
    for j in range(1, k):
        s = f"(({s}) * {D.MINHASH_A[0]} + wh[i+{j}]) % {D.MINHASH_P}"
    return s


_WINNOW_ORACLE = f"""
WITH {_CORPUS_SQL.strip()},
coded AS (
  SELECT doc_id,
         list_transform({_WORDS_SQL},
           t -> CAST(concat('0x', substr(md5(t), 1, {D.MINHASH_BASE_HEX}))
                     AS BIGINT)) AS wh
  FROM corpus
), hashed AS (
  SELECT doc_id,
         list_transform(range(1, len(wh) - {_WINNOW_K - 2}),
                        i -> {_winnow_shingle_sql(_WINNOW_K)}) AS h
  FROM coded
  WHERE len(wh) >= {_WINNOW_K}
), fps AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(h) >= {_WINNOW_W} THEN
             list_transform(range(1, len(h) - {_WINNOW_W - 2}),
                            i -> list_min(h[i:i+{_WINNOW_W - 1}]))
           ELSE [list_min(h)] END)) AS fp
  FROM hashed
  WHERE len(h) > 0
), rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 10
), capped AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN rare r USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 3
"""


@query("q_winnow_dups", oracle=_WINNOW_ORACLE)
def q_winnow_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed k-word-gram (rolling-hash) fingerprint near-dups — the MOSS
    scheme at word granularity: any shared run of >= k+w-1 consecutive
    words guarantees a shared fingerprint, so this catches COPIED PASSAGES,
    not just whole-document similarity (the north-star 'document
    fingerprinting (rolling hash)' family). Ubiquitous fingerprints are
    dropped by document-frequency cap before the pair join — the skew
    guard (operators.dedup.winnow_dup_pairs, which also explains why word
    grams, not char grams, are the right unit on low-diversity text)."""
    return D.winnow_dup_pairs(
        _corpus(spark, sf_dir),
        k=_WINNOW_K,
        window=_WINNOW_W,
        max_df=10,
        min_shared=3,
    )


# --- correlated scalar subquery ----------------------------------------------

# {tbl} parameterizes the identifier only; the algebra text is shared.
# The per-brand average is derived from an exact DECIMAL(14,2) sum so the
# boundary predicate cannot flip on float summation order (same discipline
# as q_corr_stats).
_SCALAR_SUBQ_SQL = """
SELECT p.p_partkey, p.p_brand,
       round(p.p_retailprice, 6) AS retail
FROM {tbl} p
WHERE p.p_retailprice > 1.01 * (
  SELECT (CAST(floor(sum(CAST(p2.p_retailprice AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(p2.p_retailprice AS DECIMAL(14,2))) - floor(sum(CAST(p2.p_retailprice AS DECIMAL(14,2)))) AS DOUBLE))
         / count(*)
  FROM {tbl} p2
  WHERE p2.p_brand = p.p_brand
)
"""


@query("q_scalar_subquery", oracle=_SCALAR_SUBQ_SQL.format(tbl="part"))
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregated scalar subquery: parts priced >1% above their
    brand's average (the fixture's prices are near-uniform per brand —
    max observed ratio ~1.06, so a 10% threshold would select ZERO rows
    and the oracle would only ever verify emptiness; 1% selects rows at
    every SF, making the check non-vacuous). Catalyst decorrelates this into an aggregate + join —
    the rewrite that makes per-group-threshold predicates scale (the naive
    reading is one subquery per row). .explain shows a single brand-keyed
    aggregation joined back, not N subqueries."""
    p = load_table(spark, sf_dir, "part")
    p.createOrReplaceTempView("__subq_part")
    return spark.sql(_SCALAR_SUBQ_SQL.format(tbl="__subq_part"))


# --- hyperplane-LSH ANN search -----------------------------------------------

def _d_hyperplane_block(v: str, n_planes: int) -> str:
    """DuckDB text for operators.dedup.random_hyperplane_block: sign
    pattern of alternating-sum projections, sequential reduction so the
    float result is bit-identical to Spark's F.aggregate."""
    signs = []
    for p in range(n_planes):
        term = (
            f"list_reduce(list_prepend(0.0, "
            f"list_transform(list_zip({v}, range(0, len({v}))), "
            f"z -> CASE WHEN (z[2] // {2 ** p}) % 2 = 0 "
            f"THEN z[1] ELSE -z[1] END)), (acc, x) -> acc + x)"
        )
        signs.append(f"CASE WHEN {term} >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(signs) + ")"


_ANN_LSH_ORACLE = f"""
WITH q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 11
), blocked AS (
  SELECT vec_id, label, embedding,
         {_d_hyperplane_block(dd("embedding"), 4)} AS blk
  FROM embeddings
), qb AS (
  SELECT {_d_hyperplane_block("q.qv", 4)} AS qblk FROM q
), cell AS (
  SELECT b.vec_id, b.label, b.embedding FROM blocked b, qb
  WHERE b.blk = qb.qblk
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


@query("q_ann_lsh", oracle=_ANN_LSH_ORACLE)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (operators.knn.lsh_search): bucket by 4
    deterministic projection signs, exact-search the query's bucket only —
    the codebook-free scale path next to IVF. With the corpus partitioned
    by block, partition pruning scans ~1/16 of 100 TB; ranking semantics
    inside the bucket are identical to the exact kNN path."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "label", "embedding")
    out = K.lsh_search(
        corpus, emb.filter(F.col("vec_id") == 11), k=10, n_planes=4
    )
    return out.select("vec_id", "label", "dist", "cosine", "rank")


# --- sequence analytics: lag/lead deltas -------------------------------------

_LAG_LEAD_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
         lag(epoch_us(ts)) OVER w AS prev_us,
         lead(epoch_us(ts)) OVER w AS next_us,
         first_value(value) OVER w AS first_val
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(ts_us - prev_us AS BIGINT) AS us_since_prev,
       CAST(next_us - ts_us AS BIGINT) AS us_to_next,
       round(value - first_val, 6) + 0.0 AS delta_from_first
FROM seq
WHERE prev_us IS NOT NULL
"""


@query("q_lag_lead", oracle=_LAG_LEAD_ORACLE)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value sequence deltas per user — inter-event gaps and
    drift from session start, the standard event-sequence featurization.
    One shuffle on user_id; all three window functions share the same
    (partition, order) so Spark evaluates them in a single Window node.
    Ordering/arithmetic uses integer microseconds (sources.load_events
    exposes ts_us; DuckDB reads TIMESTAMP_NS at µs precision too)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        "value",
        F.lag("ts_us").over(w).alias("prev_us"),
        F.lead("ts_us").over(w).alias("next_us"),
        F.first("value").over(w).alias("first_val"),
    )
    return seq.filter(F.col("prev_us").isNotNull()).select(
        "user_id",
        "event_id",
        (F.col("ts_us") - F.col("prev_us")).alias("us_since_prev"),
        (F.col("next_us") - F.col("ts_us")).alias("us_to_next"),
        (F.round(F.col("value") - F.col("first_val"), 6) + F.lit(0.0)).alias(
            "delta_from_first"
        ),  # + 0.0 normalizes IEEE -0.0 (same guard as q_corr_stats)
    )


# --- custom stateful streaming operator --------------------------------------

_STATEFUL_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_ts
FROM events
GROUP BY event_type
"""


@query("q_stream_stateful", oracle=_STATEFUL_ORACLE)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state streaming operator (applyInPandasWithState): per-key
    running totals in the checkpointed state store. With AvailableNow the
    whole table is one logical run, so the cumulative totals equal the
    batch aggregation exactly — which is what the oracle checks. Cross-run
    state continuation is proven by tests/test_streaming.py.

    The update-mode memory sink keeps one row per key PER MICRO-BATCH; a
    run split into several batches (a second staged file) would otherwise
    surface stale intermediate totals next to the final ones, so the query
    reduces to the final row per key (max of the monotone running count /
    event-time max)."""
    from pyspark.sql.types import LongType

    from ..streaming import available_now_to_memory, running_counts_stateful
    from .streaming_queries import _events_stream

    ev = _events_stream(spark, sf_dir)
    counts = running_counts_stateful(ev, ts_col="ts_us", ts_type=LongType())
    out = available_now_to_memory(counts, output_mode="update")
    return out.groupBy("event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max("last_ts").cast("bigint").alias("last_ts"),
    )


# --- IVF with a k-means-trained codebook -------------------------------------

_IVF_KMEANS_ORACLE = f"""
WITH cents0 AS (
  SELECT vec_id AS centroid_id, {dd("embedding")} AS cv
  FROM embeddings WHERE vec_id < 8
), q AS (
  SELECT {dd("embedding")} AS qv FROM embeddings WHERE vec_id = 11
), assign0_scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         round({d_l2(dd("e.embedding"), "c.cv")}, 6) AS cdist
  FROM embeddings e, cents0 c
), assign0 AS (
  SELECT vec_id, embedding, centroid_id
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cdist ASC, centroid_id ASC
    ) AS rn
    FROM assign0_scored
  ) WHERE rn = 1
), parts AS (
  SELECT centroid_id,
         unnest(range(0, len(embedding))) AS pos,
         unnest({dd("embedding")}) AS val
  FROM assign0
), comp AS (
  SELECT centroid_id, pos,
         round((CAST(floor(sum(CAST(val AS DECIMAL(27,10)))) AS DOUBLE) + CAST(sum(CAST(val AS DECIMAL(27,10))) - floor(sum(CAST(val AS DECIMAL(27,10)))) AS DOUBLE)) / count(*), 6)
           AS mean
  FROM parts GROUP BY centroid_id, pos
), cents1 AS (
  SELECT centroid_id, list(mean ORDER BY pos) AS cv
  FROM comp GROUP BY centroid_id
), probe AS (
  SELECT c.centroid_id
  FROM cents1 c, q
  ORDER BY {d_l2("c.cv", "q.qv")} ASC, c.centroid_id ASC
  LIMIT 2
), assign1_scored AS (
  SELECT e.vec_id, e.label, e.embedding, c.centroid_id,
         round({d_l2(dd("e.embedding"), "c.cv")}, 6) AS cdist
  FROM embeddings e, cents1 c
), assign1 AS (
  SELECT vec_id, label, embedding, centroid_id
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cdist ASC, centroid_id ASC
    ) AS rn
    FROM assign1_scored
  ) WHERE rn = 1
), cell AS (
  SELECT a.* FROM assign1 a JOIN probe p USING (centroid_id)
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


@query("q_ann_ivf_kmeans", oracle=_IVF_KMEANS_ORACLE)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED codebook: deterministic seeds (first 8
    vectors) → one Lloyd update (assign + component-wise decimal-exact
    means, operators.knn.kmeans_update) → probe the 2 nearest trained
    centroids → exact search inside the cells. Upgrades q_ann_ivf's
    fixture centroids to the real sampled-k-means shape; more Lloyd rounds
    are the same two operators repeated. At 100 TB: assignment is a
    broadcast cross join (centroids are tiny), the update shuffles
    (centroid, pos, component) triples — never whole vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    corpus = emb.select("vec_id", "label", "embedding")
    assign0 = K.ivf_assign(corpus.select("vec_id", "embedding"), seeds)
    cents1 = K.kmeans_update(assign0)
    out = K.ivf_search(
        corpus, cents1, emb.filter(F.col("vec_id") == 11), k=10, n_probe=2
    )
    return out.select("vec_id", "label", "dist", "cosine", "rank")


# --- fuzzy (edit-distance) matching ------------------------------------------

_FUZZY_ORACLE = """
WITH names AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_records
  FROM part GROUP BY p_name
), corpus AS (
  SELECT name, n_records FROM names
  UNION ALL
  SELECT 'x' || substr(name, 2), n_records FROM names
), blocked AS (
  SELECT name, n_records,
         length(name) AS blk_len,
         substr(name, length(name) - 3, 4) AS blk_sfx
  FROM corpus
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS edit_dist,
       a.n_records AS n_a, b.n_records AS n_b
FROM blocked a JOIN blocked b
  ON a.blk_len = b.blk_len AND a.blk_sfx = b.blk_sfx AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 1
"""


@query("q_fuzzy_match", oracle=_FUZZY_ORACLE)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance ≤ 1) entity resolution with blocking — the
    matching pass for names/titles where exact and shingle dedup both
    miss single-character corruptions. Planted rows corrupt the first
    character of every distinct name, so true matches exist and the
    oracle reproduces them exactly.

    Scale shape, two layers. (1) Resolve DISTINCT NAME STRINGS, not
    records: records collapse to the name vocabulary first (one
    partial+final aggregate carrying record counts as weights). The
    earlier record-pair form of this query was a latent scale bug — with
    64 distinct names over 20k fixture records, exact-duplicate names
    pair quadratically and the RESULT was 3.3M rows at sf0.1, growing
    O(SF²); the name-level result is vocabulary-bounded (~80 rows at
    every SF), and record-level linkage is an equi-join back through the
    name column. (2) NEVER all-pairs within the vocabulary either:
    candidates come from an equality block (length, 4-char suffix), which
    a 1-substitution corruption provably preserves; levenshtein runs only
    inside blocks. At 100 TB you widen recall with multiple redundant
    block keys (prefix, suffix, deletion-neighborhood q-grams), each an
    equality join the engine shuffles hash-partitioned — same shape as
    the MinHash band join."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").alias("n_records"))
    )
    planted = names.select(
        F.concat(F.lit("x"), F.expr("substr(name, 2)")).alias("name"),
        "n_records",
    )
    corpus = names.unionByName(planted)
    blocked = corpus.select(
        "name", "n_records",
        F.length("name").alias("blk_len"),
        F.expr("substr(name, length(name) - 3, 4)").alias("blk_sfx"),
    )
    a = blocked.select(
        F.col("name").alias("name_a"), F.col("n_records").alias("n_a"),
        "blk_len", "blk_sfx",
    )
    b = blocked.select(
        F.col("name").alias("name_b"), F.col("n_records").alias("n_b"),
        "blk_len", "blk_sfx",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, ["blk_len", "blk_sfx"])
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist <= 1)
        .select(
            "name_a", "name_b", dist.cast("int").alias("edit_dist"),
            "n_a", "n_b",
        )
    )


# --- winnowing detector pricing ----------------------------------------------

from .dedup_queries import _pair_eval, _pair_eval_oracle  # noqa: E402


@query("q_winnow_eval", oracle=_pair_eval_oracle(_WINNOW_ORACLE))
def q_winnow_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared precision/recall harness applied to the winnowed
    passage-fingerprint detector — completing the dedup-pricing trio
    (q_minhash_eval, q_simhash_eval). Winnowing targets COPIED PASSAGES
    rather than whole-document similarity, so its numbers against the
    whole-document Jaccard-0.5 truth quantify exactly that mismatch: the
    trade a pipeline owner weighs when picking the detector mix."""
    corpus = _corpus(spark, sf_dir)
    emitted = D.winnow_dup_pairs(
        corpus,
        k=_WINNOW_K,
        window=_WINNOW_W,
        max_df=10,
        min_shared=3,
    ).select("id_a", "id_b")
    return _pair_eval(spark, sf_dir, corpus, emitted)
