"""Declared queries for the Python-UDF surfaces: the pandas_udf embedder
(R7/R8), keyword extraction (R15), multimodal feature extraction, a
GROUPED_AGG pandas UDF (UDAF), and a Python UDTF.

The embed/keyword/multimodal paths are not SQL-expressible (model-or-
fallback execution), so the driver records rows-only checks for them —
value-level coverage of the same semantics lives in the oracle-checked
q_stub_* queries. The UDAF and UDTF entries ARE oracle-checked: their
Python bodies compute integer-exact results a SQL mirror can reproduce."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..operators import ml, multimodal as MM
from ..sources import load_table
from .registry import query


def _checked(cond, msg: str):
    """Self-asserting invariant column for the rows-only queries: True
    when the invariant holds, raises (fails the whole query loudly)
    otherwise — so a rows-only driver check can no longer pass on silent
    garbage (VERDICT r2 item 2). The column sits in the output
    projection, so Catalyst cannot prune the assertion away."""
    return F.when(cond, F.lit(True)).otherwise(
        F.raise_error(F.lit(f"invariant violated: {msg}"))
    )


@query("q_udf_embed")  # rows-only: pandas_udf path
def q_udf_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7/R8 through the real Arrow-batched pandas_udf plumbing (hash
    fallback embedder in this container): embeds a slice of documents and
    reports per-row norm + dim, plus SELF-ASSERTING invariants the
    fallback and real-model paths share — emitted dim == requested dim,
    zero-vector iff empty text, and (fallback-only env) unit L2 norm. A
    violation raises instead of returning plausible rows.

    When torch+transformers are importable the request uses the model's
    native width (LaBSE 768 — a 64-dim request would trip the embedder's
    dim-mismatch guard) and only the path-shared invariants apply,
    because executors, not the driver, decide per-batch whether the
    model actually loads. When the stack is absent the fallback is the
    only possible path, so the strict unit-norm invariant is safe."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    # HOMOGENEOUS-ENV REQUIREMENT: this probes the DRIVER's Python env,
    # but the invariants it gates are enforced on EXECUTOR output. On a
    # cluster where the driver lacks torch/transformers while executors
    # have them, the fallback-only strict invariants would false-fail —
    # deploy driver and executors from the same image (the standard
    # spark-submit layout), or swap this for an executor-side
    # mapInPandas importability probe before heterogeneous deployment.
    model_possible = ml.model_path_possible()
    dim = ml.EMBED_DIM if model_possible else 64
    emb = ml.with_embeddings(d.select("doc_id", "text"), dim=dim)
    norm = V.l2_norm(V.s_as_double_array("embedding"))
    empty = F.col("text").isNull() | (F.length("text") == 0)
    # float32 storage: unit norm holds to ~1e-5 after the cast back up
    unit = F.abs(norm - 1.0) < 1e-4
    norm_ok = (
        _checked(empty | (norm > 0), "nonempty text embedded to zero")
        if model_possible
        else _checked(empty | unit, "nonempty text must embed to a unit vector")
    )
    return emb.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(norm, 4).alias("norm"),
        _checked(
            F.size("embedding") == dim, f"dim != requested {dim}"
        ).alias("dim_ok"),
        _checked(
            empty == (norm == 0.0), "zero-vector iff empty text (R8)"
        ).alias("zero_iff_empty"),
        norm_ok.alias("norm_ok"),
    )


@query("q_udf_embed_knn")  # rows-only: nondeterministic across impls
def q_udf_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full search pipeline (R7→R17→R18→R19) over UDF
    embeddings: embed, take doc 0 as the query, exact L2 top-5 — with
    self-asserting invariants any correct impl must satisfy: ranks are
    consecutive from 1, distance is non-decreasing in rank, the rank-1
    hit is the query doc itself at (near-)zero distance, and cosine
    stays in [-1, 1]. Like q_udf_embed, the requested dim follows the
    env: the model's native width when torch+transformers are
    importable (a 64-dim request would trip the embedder's dim-mismatch
    guard), 64 on the fallback-only path."""
    from pyspark.sql import Window

    from ..operators import knn as K

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # HOMOGENEOUS-ENV REQUIREMENT: this probes the DRIVER's Python env,
    # but the invariants it gates are enforced on EXECUTOR output. On a
    # cluster where the driver lacks torch/transformers while executors
    # have them, the fallback-only strict invariants would false-fail —
    # deploy driver and executors from the same image (the standard
    # spark-submit layout), or swap this for an executor-side
    # mapInPandas importability probe before heterogeneous deployment.
    model_possible = ml.model_path_possible()
    dim = ml.EMBED_DIM if model_possible else 64
    # the query embeds ONLY its own row: it is a second, one-row UDF
    # input that knn broadcasts, and an absent doc_id=0 fails the query
    query = ml.with_embeddings(
        d.filter(F.col("doc_id") == 0).select("doc_id", "text"), dim=dim
    )
    emb = ml.with_embeddings(d.select("doc_id", "text"), dim=dim)
    res = K.knn(emb.drop("text"), query, k=5, id_col="doc_id")
    w = Window.orderBy("rank")  # 5 rows — single partition is fine
    return (
        res.withColumn("_prev", F.lag("dist").over(w))
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id",
            "dist",
            "cosine",
            "rank",
            _checked(F.col("rank") == F.col("_rn"), "ranks not 1..k").alias(
                "rank_ok"
            ),
            _checked(
                F.col("_prev").isNull() | (F.col("dist") >= F.col("_prev")),
                "distance not monotone in rank",
            ).alias("dist_monotone_ok"),
            # fallback-only env: the query vector IS the stored vector, so
            # the self-distance is EXACTLY 0. Model-possible env:
            # embeddings are recomputed in a different Arrow batch, and
            # transformer forwards are not bitwise batch-composition-
            # invariant — allow float32 re-embedding jitter there, but
            # still require the query doc itself on top.
            _checked(
                (F.col("rank") != 1)
                | (
                    (
                        F.col("dist") < 1e-3
                        if model_possible
                        else F.col("dist") == 0.0
                    )
                    & (F.col("doc_id") == 0)
                ),
                "rank-1 must be the query doc at (near-)zero distance",
            ).alias("self_match_ok"),
            # NULL cosine is CORRECT for a zero-norm vector (R8 empty-text
            # embedding) — only a non-NULL value outside [-1,1] violates
            _checked(
                F.col("cosine").isNull()
                | (F.abs(F.col("cosine")) <= 1.000001),
                "non-null cosine out of [-1,1]",
            ).alias("cosine_ok"),
        )
    )


@query("q_udf_keywords")  # rows-only: KeyBERT-or-fallback path
def q_udf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15 through the pandas_udf (falls back to first-8 tokens here),
    with self-asserting invariants the KeyBERT and fallback paths share:
    at most top_n keywords, every keyword non-empty, and a text with no
    non-space content yields zero keywords."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    kw = d.select(
        "doc_id", "text", ml.keyword_udf(8)(F.col("text")).alias("keywords")
    )
    blank = F.col("text").isNull() | ~F.col("text").rlike("\\S")
    return kw.select(
        "doc_id",
        F.size("keywords").alias("n_keywords"),
        F.array_join("keywords", " ").alias("joined"),
        _checked(F.size("keywords") <= 8, "more than top_n keywords").alias(
            "kw_count_ok"
        ),
        _checked(
            F.forall("keywords", lambda x: F.length(x) > 0),
            "empty keyword emitted",
        ).alias("kw_nonempty_ok"),
        _checked(
            ~blank | (F.size("keywords") == 0),
            "blank text must yield no keywords",
        ).alias("kw_blank_ok"),
    )


@query("q_multimodal_features")  # rows-only: mapInPandas over binary blobs
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column multimodal plumbing: text bytes → blob table →
    mapInPandas feature extraction (stub decode, real Arrow batching) —
    with self-asserting invariants pinned to the stub's contract: the
    media type matches the blob_id%3 derivation, stub dimensions stay in
    their documented ranges (width 1..640, height 1..480; 0,0 for empty
    payloads), and the 16-bin byte histogram is a probability vector
    (sums to 1 for non-empty content, all bins >= 0)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    blobs = MM.make_blob_table(d)
    feats = MM.extract_features(blobs)
    hist_sum = F.aggregate("histogram", F.lit(0.0), lambda a, x: a + x)
    media_expected = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("blob_id") % 3 + 1).cast("int"),
    )
    return feats.select(
        "blob_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        F.round(hist_sum, 4).alias("hist_sum"),
        _checked(
            F.col("media_type") == media_expected, "media_type mapping"
        ).alias("media_ok"),
        _checked(
            F.when(
                F.col("n_bytes") == 0,
                (F.col("width") == 0) & (F.col("height") == 0),
            ).otherwise(
                F.col("width").between(1, 640)
                & F.col("height").between(1, 480)
            ),
            "stub dimensions out of contract",
        ).alias("dims_ok"),
        _checked(
            (F.size("histogram") == 16)
            & F.forall("histogram", lambda x: x >= 0.0)
            & F.when(F.col("n_bytes") == 0, hist_sum == 0.0).otherwise(
                F.abs(hist_sum - 1.0) < 1e-6
            ),
            "histogram not a probability vector",
        ).alias("hist_ok"),
    )


# media_type == 'video' ⟺ doc_id % 3 == 2 (see make_blob_table); the
# frame grid is integer arithmetic (floor-divided frame length, idx*len
# offsets), so the whole sampling plan is value-hash-checkable.
_MULTIMODAL_FRAMES_ORACLE = """
WITH blobs AS (
  SELECT doc_id AS blob_id, octet_length(encode(text)) AS n_bytes
  FROM documents
  WHERE doc_id < 300 AND doc_id % 3 = 2
)
SELECT blob_id,
       CAST(f.i AS INTEGER) AS frame_idx,
       CAST(f.i AS BIGINT) * (n_bytes // 4) AS offset,
       n_bytes // 4 AS frame_len
FROM blobs CROSS JOIN (SELECT unnest(range(0, 4)) AS i) f
"""


@query("q_multimodal_frames", oracle=_MULTIMODAL_FRAMES_ORACLE)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for 'video' blobs: one row per sampled frame
    with byte offsets. The grid is pure Column arithmetic (explode over the
    frame index sequence), so unlike the decode UDFs this one carries a
    full value oracle — the sampling schedule a real ffmpeg UDF would
    receive is pinned exactly."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    blobs = MM.make_blob_table(d)
    return MM.frame_sample(blobs, n_frames=4)


# The stub decode and byte histogram are deterministic functions of the
# blob bytes (operators/multimodal.py:_decode_stub/_byte_histogram), and
# the fixture blobs are UTF-8 of pure-ASCII document text — so char
# positions ARE byte positions and DuckDB can replay the whole feature
# extraction in SQL: width = 1 + n_bytes % 640, height = 1 + first_byte
# % 480, bin = byte // 16, frac = bin_count / n_bytes (both sides divide
# the same exact integers, so doubles agree bit-for-bit before rounding).
_MULTIMODAL_HIST_ORACLE = """
WITH b AS (
  SELECT doc_id AS blob_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         text,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents WHERE doc_id < 200
),
bytes AS (
  SELECT blob_id, ascii(substr(text, CAST(i AS INT), 1)) AS bv
  FROM b, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) r
),
binned AS (
  SELECT blob_id, CAST(bv // 16 AS INT) AS bin, count(*) AS c
  FROM bytes GROUP BY 1, 2
),
grid AS (
  SELECT blob_id, media_type, n_bytes,
         CASE WHEN n_bytes = 0 THEN 0
              ELSE CAST(1 + n_bytes % 640 AS INT) END AS width,
         CASE WHEN n_bytes = 0 THEN 0
              ELSE CAST(1 + ascii(substr(text, 1, 1)) % 480 AS INT)
              END AS height,
         CAST(g.i AS INT) AS bin
  FROM b CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g
)
SELECT grid.blob_id, media_type, n_bytes, width, height, grid.bin,
       round(CASE WHEN n_bytes = 0 THEN 0.0
                  ELSE CAST(COALESCE(c, 0) AS DOUBLE) / n_bytes END,
             6) AS frac
FROM grid LEFT JOIN binned
  ON grid.blob_id = binned.blob_id AND grid.bin = binned.bin
"""


@query("q_multimodal_hist", oracle=_MULTIMODAL_HIST_ORACLE)
def q_multimodal_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-exact arm of the multimodal feature extraction: the SAME
    mapInPandas stub-decode path as q_multimodal_features (real Arrow
    batching, real binary column, no shuffle), with the histogram
    posexploded to (blob_id, bin, frac) rows so DuckDB can replay it
    byte-for-byte from the source text. This pins the full feature
    contract by value — q_multimodal_features keeps the invariant form
    for the parts a future real decoder would make content-dependent."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = MM.extract_features(MM.make_blob_table(d))
    return feats.select(
        "blob_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        F.posexplode("histogram").alias("bin", "frac"),
    ).select(
        "blob_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        "bin",
        F.round("frac", 6).alias("frac"),
    )


# --- grouped-agg pandas UDF (UDAF surface), oracle-checked exactly -----------

# Exactness trick: events.value is a 2dp money-like double, so round(v*100)
# is an exact int64 — the UDF sums INTEGER cents (order-independent), and
# the oracle trims by rank and sums the same integers. No float summation
# anywhere, so the grouped-agg UDF result is hash-exact.
_TRIMMED_MEAN_ORACLE = """
WITH ranked AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(cents) AS BIGINT) AS trimmed_sum_cents,
       round(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0, 6)
         AS trimmed_mean
FROM ranked
WHERE rn > CAST(floor(n * 0.1) AS BIGINT)
  AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
GROUP BY event_type
"""


@query("q_udf_trimmed_mean", oracle=_TRIMMED_MEAN_ORACLE)
def q_udf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per group via a GROUPED_AGG pandas UDF — the UDAF
    surface: a custom aggregate Spark's built-ins don't have, Arrow-batched,
    with map-side nothing (grouped-agg UDFs see the whole group; at 100 TB
    pre-filter or pre-aggregate before handing a group to Python). Sums
    integer cents so the result is exact — see the oracle comment. Ties at
    the trim boundary hold equal values, so which duplicate is dropped
    cannot change the sum."""

    @F.pandas_udf("long")
    def trimmed_sum_cents(v: pd.Series) -> int:
        cents = (v * 100).round().astype("int64").sort_values()
        k = int(len(cents) * 0.1)
        kept = cents.iloc[k : len(cents) - k] if k > 0 else cents
        return int(kept.sum())

    # grouped-agg UDFs cannot share an agg() with built-in aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count is a pandas UDF too
    @F.pandas_udf("long")
    def group_n(v: pd.Series) -> int:
        return len(v)

    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        trimmed_sum_cents(F.col("value")).alias("trimmed_sum_cents"),
        group_n(F.col("value")).alias("__n"),
    )
    n_kept = F.col("__n") - 2 * F.floor(F.col("__n") * 0.1).cast("long")
    return agg.select(
        "event_type",
        n_kept.alias("n_kept"),
        "trimmed_sum_cents",
        F.round(
            F.col("trimmed_sum_cents").cast("double") / n_kept / 100.0, 6
        ).alias("trimmed_mean"),
    )


# --- Python UDTF (table-function surface), oracle-checked --------------------

_UDTF_TOKENS_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         CAST(unnest(range(len(string_split(text, ' ')))) AS INTEGER)
           AS word_idx
  FROM documents
  WHERE doc_id < 50
)
SELECT doc_id, word_idx, trim(word, ' ') AS word,
       CAST(length(trim(word, ' ')) AS INTEGER) AS n_chars
FROM toks
WHERE length(trim(word, ' ')) > 0
"""


@query("q_udtf_tokens", oracle=_UDTF_TOKENS_ORACLE)
def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (one row in, many rows out) through a LATERAL join — the
    table-function surface. Tokenization itself is q_chunk_split's
    semantics, so the oracle is unchanged; what this query proves is the
    UDTF execution path: per-partition Python workers streaming rows out,
    no collect, parallel over the scan like any other operator."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word_idx: int, word: string, n_chars: int")
    class TokenEmit:
        def eval(self, text: str):
            if text is None:
                return
            for i, w in enumerate(text.split(" ")):
                # strip SPACES only, mirroring the oracle's pinned
                # trim(word, ' '): bare str.strip() (like DuckDB's bare
                # trim()) removes \t\n\r and unicode whitespace and would
                # diverge on tab/newline/NBSP-edged tokens
                t = w.strip(" ")
                if t:
                    yield i, t, len(t)

    spark.udtf.register("token_emit", TokenEmit)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.select("doc_id", "text").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.word_idx, t.word, t.n_chars "
        "FROM __udtf_docs d, LATERAL token_emit(d.text) t"
    )


_GROUPNORM_ORACLE = """
WITH e AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v100
  FROM events
), g AS (
  SELECT event_type, min(v100) AS lo, max(v100) AS hi FROM e GROUP BY 1
)
SELECT e.event_id, e.event_type,
       round(CASE WHEN g.hi = g.lo THEN 0.0
                  ELSE (e.v100 - g.lo) / (g.hi - g.lo) END, 6) AS norm
FROM e JOIN g USING (event_type)
"""


@query("q_udf_groupnorm", oracle=_GROUPNORM_ORACLE)
def q_udf_groupnorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas — the remaining piece of the pandas UDF
    surface (scalar pandas_udf: q_udf_embed; grouped-agg UDAF:
    q_udf_trimmed_mean; mapInPandas: q_multimodal_features; stateful:
    q_stream_stateful). Per-group min-max normalization: each event_type
    group arrives as ONE pandas DataFrame in a Python worker, is
    normalized vectorized, and streams back out.

    The arithmetic is (int - int) / (int - int): identical IEEE division
    on both engines, so even through the Arrow transfer the result is
    value-hash exact. Scale note: applyInPandas materializes each group
    in one worker's memory — correct here because |event_type| groups are
    few and bounded; for unbounded groups the broadcast-join form of this
    query (q_anomaly's shape) is the scalable variant."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v100"),
    )

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = pdf["v100"].min(), pdf["v100"].max()
        span = hi - lo
        norm = (pdf["v100"] - lo) / span if span else pdf["v100"] * 0.0
        # round half AWAY from zero (values are >= 0) to match SQL round();
        # pandas .round() is half-to-even and diverges on exact 6dp ties
        # like 1/128
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "norm": np.floor(norm * 1e6 + 0.5) / 1e6,
            }
        )

    return e.groupBy("event_type").applyInPandas(
        norm, schema="event_id bigint, event_type string, norm double"
    )


# --- multimodal metadata layer (oracle-checked, no Python worker) ------------

_MULTIMODAL_META_ORACLE = """
WITH blobs AS (
  SELECT doc_id AS blob_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
           AS media_type,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS sha
  FROM documents
)
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n_blobs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(count(DISTINCT sha) AS BIGINT) AS distinct_payloads,
       CAST(max(n_bytes) AS BIGINT) AS max_bytes
FROM blobs GROUP BY media_type
"""


@query("q_multimodal_meta", oracle=_MULTIMODAL_META_ORACLE)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-checked half of the multimodal story: per-media-type
    metadata aggregates over the binary blob table — count, payload
    bytes, distinct-content (sha256 of the raw bytes), max payload. The
    decode step is necessarily a Python UDF (q_multimodal_features), but
    everything up to it — typed BinaryType column, content hashing,
    metadata stats — is JVM Column ops, and this query pins those values
    exactly against DuckDB (sha256 of a UTF-8 string equals sha256 over
    its encoded bytes on both engines). Scale note: only 16-byte hashes
    and int metadata shuffle; the binary payload never leaves the scan
    stage."""
    blobs = MM.make_blob_table(load_table(spark, sf_dir, "documents"))
    return (
        blobs.select(
            "media_type",
            "n_bytes",
            F.sha2(F.col("content"), 256).alias("sha"),
        )
        .groupBy("media_type")
        .agg(
            F.count("*").alias("n_blobs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("sha").alias("distinct_payloads"),
            F.max("n_bytes").alias("max_bytes"),
        )
    )


# --- Python UDTF with analyze() (dynamic output schema) ----------------------

_UDTF_NGRAM_N = 3

_UDTF_ANALYZE_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
                                    x -> trim(x, ' ')),
                     x -> length(x) > 0) AS words
  FROM documents WHERE doc_id < 50
)
SELECT doc_id, CAST(i - 1 AS INTEGER) AS gram_idx,
       words[i] AS w1, words[i+1] AS w2, words[i+2] AS w3
FROM (
  SELECT doc_id, words,
         unnest(range(1, len(words) - {_UDTF_NGRAM_N - 2})) AS i
  FROM w WHERE len(words) >= {_UDTF_NGRAM_N}
)
"""


@query("q_udtf_analyze", oracle=_UDTF_ANALYZE_ORACLE)
def q_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a static analyze() method — the DYNAMIC-schema
    table-function surface (q_udtf_tokens has a fixed returnType): the
    output schema (one word column per n-gram position) is computed at
    plan time from the literal n argument. Same per-partition streaming
    execution as any UDTF; the n=3 call emits (gram_idx, w1, w2, w3)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NGramEmit:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not isinstance(n.value, int) or n.value < 1:
                raise ValueError("n must be a positive integer literal")
            return AnalyzeResult(
                StructType(
                    [StructField("gram_idx", IntegerType())]
                    + [
                        StructField(f"w{i + 1}", StringType())
                        for i in range(n.value)
                    ]
                )
            )

        def eval(self, text: str, n: int):
            if text is None:
                return
            toks = [t for t in (w.strip(" ") for w in text.split(" ")) if t]
            for i in range(len(toks) - n + 1):
                yield (i, *toks[i : i + n])

    spark.udtf.register("ngram_emit", udtf(NGramEmit))
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.select("doc_id", "text").createOrReplaceTempView("__udtf_ngram_docs")
    return spark.sql(
        "SELECT d.doc_id, t.gram_idx, t.w1, t.w2, t.w3 "
        "FROM __udtf_ngram_docs d, "
        f"LATERAL ngram_emit(d.text, {_UDTF_NGRAM_N}) t"
    )


# --- Arrow-optimized scalar Python UDF ---------------------------------------

_ARROW_UDF_ORACLE = """
SELECT doc_id,
       CAST(length(list_filter(list_transform(
              generate_series(1, length(text)), i -> substr(text, i, 1)),
            c -> c IN ('a','e','i','o','u'))) AS INTEGER) AS n_vowels,
       CAST(length(text) AS INTEGER) AS n_chars
FROM documents WHERE doc_id < 100
"""


@query("q_udf_arrow", oracle=_ARROW_UDF_ORACLE)
def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (useArrow=True) — the third
    Python scalar path next to row-pickled udf() and pandas_udf: Arrow
    batch transfer with per-row Python logic. The vowel count is integer
    arithmetic, so the result is oracle-exact; what the query proves is
    the execution surface."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import IntegerType

    @udf(returnType=IntegerType(), useArrow=True)
    def n_vowels(text: str) -> int:
        # NULL in, NULL out — the oracle's expression NULL-propagates,
        # and returning 0 here would be a latent parity break on any
        # corpus with NULL text
        if text is None:
            return None
        return sum(1 for c in text if c in "aeiou")

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        n_vowels("text").alias("n_vowels"),
        F.length("text").cast("int").alias("n_chars"),
    )


# --- mapInArrow (RecordBatch-level Python transform) -------------------------

_MAP_ARROW_ORACLE = """
WITH c AS (
  SELECT l_orderkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_orderkey < 1000
)
SELECT l_orderkey,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM c GROUP BY l_orderkey
"""


@query("q_map_arrow", oracle=_MAP_ARROW_ORACLE)
def q_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the zero-copy RecordBatch surface below pandas
    (no pandas conversion, columnar pyarrow.compute kernels directly).
    The batch function converts price to exact integer cents; the
    aggregate after it is ordinary Spark, so the result is oracle-exact
    and the query proves the Arrow-batch execution path end to end."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def to_cents(batches):
        for batch in batches:
            cents = pc.cast(
                pc.round(
                    pc.multiply(batch.column("l_extendedprice"), pa.scalar(100.0)),
                    ndigits=0,
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), cents],
                names=["l_orderkey", "cents"],
            )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .select("l_orderkey", "l_extendedprice")
    )
    cents = li.mapInArrow(to_cents, "l_orderkey long, cents long")
    return cents.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"), F.sum("cents").alias("sum_cents")
    )
