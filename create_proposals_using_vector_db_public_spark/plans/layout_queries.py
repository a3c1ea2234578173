"""Data-layout + corpus-statistics declared queries, round 2 batch 2.

Six operators a 100 TB training-data pipeline runs between cleaning and
training, each with an exact DuckDB oracle:

- q_chunk_fixed      fixed-width token-window chunking with stride (the
                     LLM context-window prep step; generalizes the
                     reference's paragraph chunking, app.py:24,33)
- q_heavy_hitters    corpus-wide top-k terms (stopword/boilerplate
                     discovery before quality filtering)
- q_centroid_label   per-label mean embedding via exact integer sums
                     (the codebook/centroid building block behind IVF)
- q_rare_terms       per-doc rarity profile from corpus term frequencies
                     (rare/OOV-token quality signal)
- q_salted_join      skew-salted star join whose result equals the plain
                     join (the mitigation for hot keys at scale)
- q_zorder_layout    Morton (z-order) interleave + range buckets — the
                     multi-dimension clustering that makes file-level
                     min/max pruning work on two columns at once

Float-determinism discipline (SURVEY §7 trap 5 + round-2 lessons): every
aggregate here is an exact sum of integers or money units; doubles appear
only in a final deterministic division + round(+0.0) applied identically
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vectors as V
from ..sources import load_table
from .duck import d_words
from ..functions.money import money_sum, s_units
from .registry import query

_WORDS = d_words()

# --- fixed token-window chunking --------------------------------------------

_CHUNK_WIDTH = 32
_CHUNK_STRIDE = 24  # 8-token overlap between consecutive windows

_CHUNK_FIXED_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_WORDS} AS toks FROM documents
), s AS (
  SELECT doc_id, len(toks) AS n, toks FROM t WHERE len(toks) > 0
), u AS (
  SELECT doc_id, n, toks,
         unnest(range(0, CAST(n AS BIGINT), {_CHUNK_STRIDE})) AS start
  FROM s
)
SELECT doc_id,
       CAST(start // {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       CAST(len(list_slice(toks, start + 1, least(start + {_CHUNK_WIDTH}, n)))
            AS INTEGER) AS n_chunk_tokens,
       md5(array_to_string(
             list_slice(toks, start + 1, least(start + {_CHUNK_WIDTH}, n)),
             ' ')) AS chunk_md5
FROM u
"""


@query("q_chunk_fixed", oracle=_CHUNK_FIXED_ORACLE)
def q_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width token-window chunking with stride/overlap — the
    context-window prep every LLM pipeline runs (width 32, stride 24
    here; 2048/1920 in production). Generalizes the reference's
    paragraph split (app.py:24,33) to length-bounded windows.

    Scale shape: tokens stay inside one narrow projection per row —
    split → sequence → explode, no shuffle at all; 100 TB chunks at scan
    speed. The value check hashes each chunk (md5) so exact window
    boundaries are verified without shipping text through the compare."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = d.select("doc_id", T.tokens("text").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    starts = F.sequence(
        F.lit(0), F.col("n") - 1, F.lit(_CHUNK_STRIDE)
    )
    ex = toked.filter(F.col("n") > 0).select(
        "doc_id", "n", "toks", F.explode(starts).alias("start")
    )
    chunk = F.slice("toks", F.col("start") + 1, F.lit(_CHUNK_WIDTH))
    return ex.select(
        "doc_id",
        (F.col("start") / _CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# --- corpus heavy hitters ----------------------------------------------------

_HEAVY_HITTERS_ORACLE = f"""
SELECT term, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest({_WORDS}) AS term FROM documents)
GROUP BY term
ORDER BY cnt DESC, term
LIMIT 50
"""


@query("q_heavy_hitters", oracle=_HEAVY_HITTERS_ORACLE)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 terms — the profile pass that discovers
    stopwords/boilerplate before quality filtering.

    Scale shape: partial (map-side) count per partition, one narrow
    shuffle of (term, partial_count), then TakeOrderedAndProject — the
    global top-k never materializes the full vocabulary on one node.
    LIMIT is made deterministic by the (cnt DESC, term) total order."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(50)
    )


# --- per-label embedding centroid -------------------------------------------

_CENTROID_ORACLE = """
WITH ex AS (
  SELECT label,
         CAST(unnest(range(0, len(embedding))) AS INTEGER) AS dim,
         unnest(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS sx
  FROM embeddings
), m AS (
  SELECT label, dim,
         CAST(sum(sx) AS BIGINT) AS s, count(*) AS n
  FROM ex GROUP BY label, dim
)
SELECT label, dim,
       (CASE WHEN s >= 0 THEN (2*s + n) // (2*n)
             ELSE -((2*(-s) + n) // (2*n)) END) / 1000000.0 + 0.0 AS c
FROM m
"""


@query("q_centroid_label", oracle=_CENTROID_ORACLE)
def q_centroid_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding — the centroid computation under every
    IVF codebook / k-means step (operators/knn.py kmeans_update takes the
    same per-centroid means over an assignment).

    Float determinism: each float32 element is floored to a scaled
    integer (exact, per-element), summed as BIGINT (order-independent).
    The mean is rounded half-away-from-zero IN INTEGER ARITHMETIC
    ((2s+n) div 2n on non-negative operands, where truncating and floor
    division agree) because sum/(1e6*n) frequently lands on exact
    half-way decimals and engine round(double) disagrees there; the one
    final IEEE division by 1e6 is exactly rounded, hence identical in
    both engines. Scale shape: posexplode → partial agg on (label, dim);
    |labels|x|dims| rows shuffle, never the vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        F.posexplode(V.as_double_array("embedding")).alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("x") * 1000000).cast("long").alias("sx"),
    )
    m = ex.groupBy("label", "dim").agg(
        F.sum("sx").alias("s"), F.count("*").alias("n")
    )
    c_micro = F.expr(
        "CASE WHEN s >= 0 THEN (2*s + n) div (2*n)"
        " ELSE -((2*(-s) + n) div (2*n)) END"
    )
    return m.select(
        "label", "dim", (c_micro / 1000000.0 + 0.0).alias("c")
    )


# --- per-doc term-rarity profile --------------------------------------------

# rare = corpus share below 0.05% (integer cross-multiply, sf-independent)
# tf * MULT < total defines "rare". The fixture vocabulary is 31
# near-uniform terms plus ONE genuinely low-frequency term (~1/960 of
# the stream); 60 classifies exactly that term as rare at every SF —
# 2000 (the first draft) classified nothing and made the check vacuous
_RARE_MULT = 60

_RARE_TERMS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_WORDS}) AS term FROM documents
), tf AS (
  SELECT term, count(*) AS tf FROM tok GROUP BY term
), tot AS (
  SELECT sum(tf) AS total FROM tf
)
SELECT tok.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round((CAST(floor(sum(CASE WHEN tf * {_RARE_MULT} < total THEN 1 ELSE 0 END)) AS DOUBLE) + CAST(sum(CASE WHEN tf * {_RARE_MULT} < total THEN 1 ELSE 0 END) - floor(sum(CASE WHEN tf * {_RARE_MULT} < total THEN 1 ELSE 0 END)) AS DOUBLE)) / count(*), 6) + 0.0 AS rare_frac,
       round(sum(total * 1000000 // tf) / (1000000.0 * count(*)), 6) + 0.0
         AS mean_itf
FROM tok JOIN tf USING (term) CROSS JOIN tot
GROUP BY tok.doc_id
"""


@query("q_rare_terms", oracle=_RARE_TERMS_ORACLE)
def q_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rarity profile against corpus term frequencies: the
    rare/OOV-token share plus a mean inverse-term-frequency score (the
    log-free cousin of unigram surprisal — production would swap in
    log-probs through the identical plan shape).

    Scale shape: the vocabulary (term, tf) is tiny relative to the token
    stream — broadcast it; the token stream then aggregates per doc_id
    with map-side partials and one narrow shuffle. Exact integer
    arithmetic end-to-end (integer cross-multiply for the rarity test,
    scaled integer division for ITF) keeps the hash stable."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = tok.groupBy("term").agg(F.count("*").alias("tf"))
    tot = tf.agg(F.sum("tf").alias("total"))
    j = tok.join(F.broadcast(tf), "term").crossJoin(F.broadcast(tot))
    itf = F.expr("total * 1000000 div tf")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        (
            F.round(
                F.sum(
                    F.when(F.col("tf") * _RARE_MULT < F.col("total"), 1)
                    .otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            )
            + 0.0
        ).alias("rare_frac"),
        (
            F.round(F.sum(itf) / (1000000.0 * F.count("*")), 6) + 0.0
        ).alias("mean_itf"),
    )


# --- skew-salted join --------------------------------------------------------

_SALT = 8

_SALTED_JOIN_ORACLE = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       (CAST(floor(sum(CAST(o_totalprice AS DECIMAL(14,2)))) AS DOUBLE) + CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) - floor(sum(CAST(o_totalprice AS DECIMAL(14,2)))) AS DOUBLE))
         AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


@query("q_salted_join", oracle=_SALTED_JOIN_ORACLE)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: the dimension side is replicated SALT ways and
    the fact side picks a deterministic salt from xxhash64 of its unique
    key, so one hot customer key spreads over SALT reducers instead of
    one straggler task. The result is provably identical to the plain
    join (the oracle IS the plain join) — only the shuffle layout
    changes. This is the manual form of what AQE skew-join does
    adaptively; at 100 TB you pre-salt keys you *know* are hot (null
    keys, default accounts) rather than waiting for runtime detection.

    The money sum is exact (``money_sum``), so the result is
    order-independent across the salted (re-ordered) reduce."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    c_rep = c.select(
        "c_custkey",
        "c_nationkey",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))).alias("salt"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.pmod(F.xxhash64("o_orderkey"), F.lit(_SALT)).cast("int").alias("salt"),
    )
    joined = o.join(
        c_rep,
        (o.o_custkey == c_rep.c_custkey) & (o.salt == c_rep.salt),
    )
    return joined.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"),
        money_sum(s_units("o_totalprice", 14, 2), 2).alias("total_price"),
    )


# --- z-order layout ----------------------------------------------------------

_Z_BITS = 8


def _z_terms(x: str, y: str) -> str:
    """Morton-interleave SQL: identical text runs on Spark and DuckDB
    (both support >> & and integer arithmetic)."""
    parts = []
    for i in range(_Z_BITS):
        parts.append(f"(({x} >> {i}) & 1) * {1 << (2 * i)}")
        parts.append(f"(({y} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(parts)


_ZEXPR = _z_terms(f"(l_partkey % {1 << _Z_BITS})", f"(l_suppkey % {1 << _Z_BITS})")

_Z_BUCKETS = 32
_Z_RANGE = (1 << (2 * _Z_BITS)) // _Z_BUCKETS  # z-values per bucket

_ZORDER_ORACLE = f"""
WITH z AS (
  SELECT l_partkey % {1 << _Z_BITS} AS x,
         l_suppkey % {1 << _Z_BITS} AS y,
         {_ZEXPR} AS zkey
  FROM lineitem
)
SELECT CAST(zkey // {_Z_RANGE} AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
       CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
FROM z
GROUP BY bucket
"""


@query("q_zorder_layout", oracle=_ZORDER_ORACLE)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering: interleave the bits of two columns
    into one sort key, range-partition by it, and every output file gets
    a *tight min/max box on BOTH dimensions* — so file-level statistics
    prune scans filtered on either column. This is the layout step
    behind Delta/Iceberg OPTIMIZE ZORDER; at 100 TB it is the difference
    between reading 1/32nd of the files and reading all of them for a
    two-column predicate.

    The query computes the per-bucket bounding boxes (the pruning
    metadata itself) so the oracle verifies the interleave math and the
    range assignment exactly; q_partitioned_sink already demonstrates
    the physical pruned write/read. Buckets are fixed-width z-ranges
    (zkey div range) — pure columnar math with NO global sort: at 100 TB
    you'd feed the same zkey to repartitionByRange for equal-size files,
    but the pruning-box verification needs no window at all."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % (1 << _Z_BITS)).alias("x"),
        (F.col("l_suppkey") % (1 << _Z_BITS)).alias("y"),
        F.expr(_ZEXPR).alias("zkey"),
    )
    b = li.select(
        "x", "y", F.expr(f"zkey div {_Z_RANGE}").cast("int").alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.min("x").cast("long").alias("min_x"),
        F.max("x").cast("long").alias("max_x"),
        F.min("y").cast("long").alias("min_y"),
        F.max("y").cast("long").alias("max_y"),
    )
