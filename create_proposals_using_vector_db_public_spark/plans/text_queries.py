"""Text-pipeline declared queries: keyword ops, array ops, templating
(reference R15/R16/R21/R22/R24/R25), the deterministic stub-embedding
vector pipeline, and the north-star text-analysis family (language ID,
quality scoring, token counting).

DuckDB fragments mirror functions.text expression-for-expression; every
md5 / instr / list op was verified to produce identical values on both
engines (see tools/parity.py history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..functions import vectors as V
from ..operators import dedup as D
from ..sources import load_table
from .duck import d_words
from .registry import query

_WORDS = d_words()


# --- stub embedding pipeline -------------------------------------------------

_STUB_EMBED_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS} AS words FROM documents WHERE doc_id < 100
), h AS (
  SELECT doc_id,
         list_transform(words,
           t -> instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) AS hashed
  FROM w
)
SELECT doc_id,
       CAST(unnest(range(0, 16)) AS INTEGER) AS dim,
       CAST(unnest(list_transform(range(0, 16),
         d -> len(list_filter(hashed, x -> x = d)))) AS DOUBLE) AS val
FROM h
"""


@query("q_stub_embed", oracle=_STUB_EMBED_ORACLE)
def q_stub_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic stand-in for the LaBSE embedder (R7): 16-dim token
    bucket counts, exploded to (doc_id, dim, val) rows for value-exact
    oracle comparison."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    emb = T.stub_embeddings_df(d, "doc_id", "text")
    return emb.select(
        "doc_id",
        F.posexplode("emb").alias("dim", "val"),
    )


_STUB_KNN_ORACLE = f"""
WITH w AS (
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
), q AS (
  SELECT emb AS qv FROM e WHERE doc_id = 0
), scored AS (
  SELECT e.doc_id,
         round(sqrt(list_reduce(list_prepend(0.0,
           list_transform(list_zip(e.emb, q.qv),
             p -> (p[1]-p[2])*(p[1]-p[2]))),
           (acc, v) -> acc + v)), 6) AS dist
  FROM e, q
)
SELECT doc_id, dist,
       CAST(row_number() OVER (ORDER BY dist ASC, doc_id ASC) AS INTEGER) AS rank
FROM scored
ORDER BY dist ASC, doc_id ASC
LIMIT 10
"""


@query("q_stub_knn", oracle=_STUB_KNN_ORACLE)
def q_stub_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text→vector→kNN with the stub embedder: the whole
    reference search pipeline (R5→R7→R17→R19) oracle-checked without any ML
    dependency."""
    d = load_table(spark, sf_dir, "documents")
    emb = T.stub_embeddings_df(d, "doc_id", "text")
    qv = emb.filter(F.col("doc_id") == 0).select(F.col("emb").alias("qv"))
    scored = emb.crossJoin(F.broadcast(qv)).select(
        "doc_id",
        F.round(V.l2_dist("emb", "qv"), 6).alias("dist"),
    )
    top = scored.orderBy(F.col("dist").asc(), F.col("doc_id").asc()).limit(10)
    w = Window.orderBy(F.col("dist").asc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w))


# --- keyword ops (R15 fallback, R16) ----------------------------------------

_KW_FALLBACK_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS} AS words FROM documents WHERE doc_id < 200
)
SELECT doc_id, array_to_string(words[1:8], ' ') AS keywords
FROM w
"""


@query("q_kw_fallback", oracle=_KW_FALLBACK_ORACLE)
def q_kw_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15's KeyBERT-failure fallback: first 8 tokens
    (``app_callapi.py:152``)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.array_join(T.keyword_fallback("text", 8), " ").alias("keywords"),
    )


_STOPWORDS = ("the", "a", "in")

_KW_STOPFILTER_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS} AS words FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       coalesce(array_to_string(
         list_filter(words[1:8],
           k -> len(list_filter({list(_STOPWORDS)!r}, sw -> contains(k, sw))) = 0),
         ' '), '') AS kept
FROM w
"""


@query("q_kw_stopfilter", oracle=_KW_STOPFILTER_ORACLE)
def q_kw_stopfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16 with the reference's SUBSTRING semantics (``app.py:110``): a
    keyword dies if it *contains* a stopword anywhere — 'a' kills 'table'
    and 'data'. Token-equality would be wrong (SURVEY §7 trap 3)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    kept = T.stopword_filter(T.keyword_fallback("text", 8), _STOPWORDS)
    return d.select("doc_id", F.array_join(kept, " ").alias("kept"))


# --- R21 union-dedup head-6 --------------------------------------------------

_ARRAY_OPS_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang, {_WORDS} AS words FROM documents
), kw AS (
  SELECT doc_id, lang,
         unnest(words[1:3]) AS keyword,
         CAST(unnest(range(len(words[1:3]))) AS INTEGER) AS pos
  FROM w
), firsts AS (
  SELECT lang, keyword, doc_id, pos,
         row_number() OVER (
           PARTITION BY lang, keyword ORDER BY doc_id ASC, pos ASC
         ) AS rn
  FROM kw
), ranked AS (
  SELECT lang, keyword,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY doc_id ASC, pos ASC
         ) AS INTEGER) AS kw_rank
  FROM firsts WHERE rn = 1
)
SELECT lang, keyword, kw_rank FROM ranked WHERE kw_rank <= 6
"""


@query("q_array_ops", oracle=_ARRAY_OPS_ORACLE)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R21's order-preserving union-dedup + head-6 (``app_callapi.py:213``:
    ``list(dict.fromkeys(kw))[:6]``), per language group: first-seen order
    is (doc_id, position-in-doc); expressed as two windows (the first
    sighting per (lang, keyword) via operators.dedup.keep_first, then the
    per-language rank) instead of a single-partition collect_list (SURVEY
    §7 trap 2 — array_distinct after collect_list only preserves order on
    one partition; windows scale)."""
    d = load_table(spark, sf_dir, "documents")
    kw = d.select(
        "doc_id",
        "lang",
        F.posexplode(T.keyword_fallback("text", 3)).alias("pos", "keyword"),
    )
    w_rank = Window.partitionBy("lang").orderBy(
        F.col("doc_id").asc(), F.col("pos").asc()
    )
    return (
        D.keep_first(kw, ["lang", "keyword"], "doc_id")
        .withColumn("kw_rank", F.row_number().over(w_rank))
        .filter(F.col("kw_rank") <= 6)
        .select("lang", "keyword", "kw_rank")
    )


# --- templating (R22, R24, R25) ---------------------------------------------

_PROMPT_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang, {_WORDS} AS words FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       concat('You are a proposal writer. Keywords: ',
              array_to_string(words[1:5], ', '),
              '. Language: ', lang,
              '. Respond with [PLAN] then [MERMAID].') AS prompt
FROM w
"""


@query("q_prompt_template", oracle=_PROMPT_ORACLE)
def q_prompt_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R22: prompt templating (``app_callapi.py:227-243``) as a pure column
    expression — at scale, a billion prompts is a narrow projection."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.concat(
            F.lit("You are a proposal writer. Keywords: "),
            F.array_join(T.keyword_fallback("text", 5), ", "),
            F.lit(". Language: "),
            F.col("lang"),
            F.lit(". Respond with [PLAN] then [MERMAID]."),
        ).alias("prompt"),
    )


_SPLIT_SECTIONS_ORACLE = """
WITH resp AS (
  SELECT doc_id,
         concat(substr(text, 1, 50), '[MERMAID]', substr(text, 51, 60)) AS response
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       str_split(response, '[MERMAID]')[1] AS plan_part,
       str_split(response, '[MERMAID]')[2] AS mermaid_part
FROM resp
"""


@query("q_split_sections", oracle=_SPLIT_SECTIONS_ORACLE)
def q_split_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R24: the '[MERMAID]' response split (``app_callapi.py:246-247``)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    resp = F.concat(
        F.substring("text", 1, 50),
        F.lit("[MERMAID]"),
        F.substring("text", 51, 60),
    )
    parts = F.split(resp, r"\[MERMAID\]")
    return d.select(
        "doc_id",
        F.element_at(parts, 1).alias("plan_part"),
        F.element_at(parts, 2).alias("mermaid_part"),
    )


_COMMA_PARSE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS} AS words FROM documents WHERE doc_id < 50
), s AS (
  SELECT doc_id,
         concat(array_to_string(words[1:6], ', '), ', , ') AS raw
  FROM w
)
SELECT doc_id,
       array_to_string(
         list_filter(list_transform(str_split(raw, ','), x -> trim(x, ' ')),
                     x -> length(x) > 0),
         '|') AS parsed
FROM s
"""


@query("q_comma_parse", oracle=_COMMA_PARSE_ORACLE)
def q_comma_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R25: comma-split keyword parsing with trim + drop-empty
    (``app_callapi.py:257``), fed a raw string with empty segments."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    raw = F.concat(
        F.array_join(T.keyword_fallback("text", 6), ", "), F.lit(", , ")
    )
    parsed = F.filter(
        F.transform(F.split(raw, ","), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    return d.select("doc_id", F.array_join(parsed, "|").alias("parsed"))


# --- text analysis (north-star family) --------------------------------------

# generated from the ONE Spark-side list (functions.text._EN_STOPWORDS)
# so the oracle can never drift from the engine — the d_words() rule
_EN_SW_SQL = "[" + ", ".join(f"'{w}'" for w in T._EN_STOPWORDS) + "]"

_QUALITY_ORACLE = f"""
WITH w AS (
  SELECT doc_id, text, {_WORDS} AS words FROM documents WHERE doc_id < 300
), m AS (
  SELECT doc_id,
         CAST(len(words) AS DOUBLE) AS wc,
         CASE WHEN len(words) > 0 THEN
           CAST(len(list_filter(words, t -> list_contains({_EN_SW_SQL}, lower(t)))) AS DOUBLE)
             / len(words)
         ELSE 0.0 END AS swr,
         CASE WHEN length(text) > 0 THEN
           CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / length(text)
         ELSE 0.0 END AS pr
  FROM w
)
SELECT doc_id,
       CAST(wc AS BIGINT) AS word_cnt,
       round(swr, 6) AS stopword_ratio,
       round(pr, 6) AS punct_ratio,
       round(0.5 * least(wc / 50.0, 1.0)
             + 0.3 * least(swr * 5.0, 1.0)
             + 0.2 * (1.0 - least(pr * 10.0, 1.0)), 6) AS quality
FROM m
"""


@query("q_quality_score", oracle=_QUALITY_ORACLE)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-shaped heuristic quality scoring: length, stopword and
    punctuation signals — pure column math over the document scan."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return d.select(
        "doc_id",
        T.word_count("text").cast("bigint").alias("word_cnt"),
        F.round(T.stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(T.punct_ratio("text"), 6).alias("punct_ratio"),
        T.quality_score("text").alias("quality"),
    )


_TOKEN_COUNT_ORACLE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS} AS words FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS word_cnt,
       CAST(coalesce(list_sum(list_transform(words,
         t -> CAST(ceil(length(t) / 4.0) AS INTEGER))), 0) AS BIGINT)
         AS bpe_ish_tokens
FROM w
"""


@query("q_token_count", oracle=_TOKEN_COUNT_ORACLE)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting for training-data budgeting: whitespace words + the
    chars/4 BPE estimate, computed per word."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return d.select(
        "doc_id",
        T.word_count("text").cast("bigint").alias("word_cnt"),
        T.bpe_ish_token_count("text").cast("bigint").alias("bpe_ish_tokens"),
    )


_LANG_ID_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang, text, {_WORDS} AS words FROM documents
), m AS (
  SELECT doc_id, lang,
         CASE WHEN len(words) > 0 THEN
           CAST(len(list_filter(words, t -> list_contains({_EN_SW_SQL}, lower(t)))) AS DOUBLE)
             / len(words)
         ELSE 0.0 END AS swr,
         length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}\\x{{ac00}}-\\x{{d7af}}]', '', 'g')) > 0 AS has_cjk,
         length(regexp_replace(text, '[^\\x{{c0}}-\\x{{17f}}]', '', 'g')) > 0 AS has_accent
  FROM w
), pred AS (
  SELECT lang,
         CASE WHEN has_cjk THEN 'cjk'
              WHEN swr >= 0.08 THEN 'en'
              WHEN has_accent THEN 'latin-other'
              ELSE 'unknown' END AS predicted
  FROM m
)
SELECT lang, predicted, CAST(count(*) AS BIGINT) AS cnt
FROM pred GROUP BY lang, predicted
"""


@query("q_lang_id", oracle=_LANG_ID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword / CJK / accented-latin signals),
    confusion-matrix-style counts against the labeled lang column."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", T.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("cnt"))
    )


# --- bigram collocations (association lift) ----------------------------------

_COLLOC_ORACLE = f"""
WITH w AS (
  SELECT {_WORDS} AS words FROM documents
), bg AS (
  SELECT unnest(list_filter(list_zip(words, words[2:]),
                            p -> p[2] IS NOT NULL)) AS p
  FROM w
), pairs AS (
  SELECT p[1] AS w1, p[2] AS w2, CAST(count(*) AS BIGINT) AS n_pair
  FROM bg GROUP BY 1, 2
), ucnt AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(words) AS w FROM w) GROUP BY w
), tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS nb FROM pairs),
   tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ucnt)
SELECT w1, w2, n_pair,
       round((CAST(n_pair AS DOUBLE) / nb)
             / ((CAST(u1.c AS DOUBLE) / t) * (CAST(u2.c AS DOUBLE) / t)),
             6) AS lift
FROM pairs
JOIN ucnt u1 ON u1.w = pairs.w1
JOIN ucnt u2 ON u2.w = pairs.w2, tot, tt
WHERE n_pair >= 5
"""


@query("q_collocations", oracle=_COLLOC_ORACLE)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining by association lift — the phrase-detection
    pass (word2vec-style "new_york" merging) a training-data pipeline runs
    before tokenizer training. lift = P(w1w2) / (P(w1)·P(w2)); >1 means the
    pair co-occurs more than independence predicts.

    Scale shape: bigrams come from an array-local zip (zip the token array
    against its own tail — narrow, no self-join, no shuffle of positions),
    so the only shuffles are the two counting aggregates, and the corpus
    is scanned exactly twice — once per counting aggregate (the first cut
    read documents 10×: every derived total was its own .agg() branch and
    Spark re-scans per sibling aggregate). nb is a whole-table window sum
    over the ALREADY-AGGREGATED pair table (bounded by |vocab|², never the
    corpus); both unigram lookups come from one 1-row broadcast map built
    from the unigram aggregate (two aliased broadcast-join copies of the
    same aggregate do not canonicalize to a ReusedExchange — measured).
    Float discipline: all counts are exact BIGINTs; the lift is computed
    with the identical divide/multiply tree on both engines and rounded to
    6dp — no order-dependent accumulation anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(T.tokens(F.col("text")).alias("words"))
    bigrams = toks.select(
        F.explode(
            F.filter(
                F.zip_with(
                    F.col("words"),
                    F.slice(
                        "words", 2, F.greatest(F.size("words") - 1, F.lit(0))
                    ),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
                lambda p: p["w2"].isNotNull(),
            )
        ).alias("p")
    )
    pairs = (
        bigrams.select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .withColumn("nb", F.sum("n_pair").over(Window.partitionBy()))
    )
    # BOTH unigram lookups (w1 and w2) come from ONE vocabulary lineage:
    # a 1-row broadcast map. Two aliased broadcast-join copies of the
    # unigram aggregate do NOT canonicalize to a ReusedExchange (measured:
    # the second join recomputed the whole corpus scan), and a broadcast
    # map is exactly what a broadcast hash join materializes anyway —
    # vocabulary-bounded. Total: two corpus scans, one per counting
    # aggregate.
    umap = (
        toks.select(F.explode("words").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "c"))
            ).alias("ucnt"),
            F.sum("c").alias("t"),
        )
    )
    return (
        pairs.filter(F.col("n_pair") >= 5)
        .crossJoin(F.broadcast(umap))
        .withColumn("c1", F.element_at("ucnt", F.col("w1")))
        .withColumn("c2", F.element_at("ucnt", F.col("w2")))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                (F.col("n_pair").cast("double") / F.col("nb"))
                / (
                    (F.col("c1").cast("double") / F.col("t"))
                    * (F.col("c2").cast("double") / F.col("t"))
                ),
                6,
            ).alias("lift"),
        )
    )


# --- map-typed higher-order functions ----------------------------------------

_MAP_OPS_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_WORDS}) AS term FROM documents WHERE doc_id < 50
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS cnt
  FROM w GROUP BY doc_id, term
)
SELECT doc_id, term, cnt * 2 AS boosted
FROM tf WHERE cnt >= 2
"""


@query("q_map_ops", oracle=_MAP_OPS_ORACLE)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType + the map higher-order functions — the one Spark type
    family the registry didn't exercise yet: per-document term counts
    become a map (map_from_entries over value-sorted entries), map_filter
    keeps terms with count >= 2, transform_values boosts the counts, and
    map_entries explodes back to rows. Maps never reach the OUTPUT (map
    iteration order is engine-specific, so a map column would break the
    value hash); the relational projection at the end is what both
    engines compare.

    Scale shape: the map is built AFTER the (doc, term) aggregate, so it
    is a per-row array-local container over vocabulary-bounded entries —
    the same rows a plain groupBy would carry, just reshaped."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    tf = (
        d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("cnt"))
    )
    m = tf.groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("term", "cnt")))
        ).alias("tfmap")
    )
    boosted = m.select(
        "doc_id",
        F.transform_values(
            F.map_filter("tfmap", lambda k, v: v >= 2),
            lambda k, v: v * 2,
        ).alias("kept"),
    )
    return boosted.select(
        "doc_id", F.explode(F.map_entries("kept")).alias("e")
    ).select(
        "doc_id",
        F.col("e.key").alias("term"),
        F.col("e.value").alias("boosted"),
    )
