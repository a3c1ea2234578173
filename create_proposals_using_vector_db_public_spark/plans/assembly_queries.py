"""Training-corpus assembly queries, round-2 batch 3: benchmark
decontamination and sequence packing.

These are the two passes that sit between a cleaned/deduped corpus and
the tokenizer: drop training documents that leak evaluation-benchmark
text (the GPT-3 appendix-C n-gram overlap rule), then account for how
the surviving token stream packs into fixed-length training windows.

Both are pure built-in-Column plans and both carry exact DuckDB oracles:
hashes are the repo's portable md5-prefix integers
(functions/hashing.py), packing is all integer arithmetic, so every
value hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T
from ..functions.hashing import d_h64
from ..operators import selection as S
from ..sources import load_table
from .duck import d_words
from .plant import (PLANT_COPY_OFFSET, PLANT_DECON_OFFSET,
                    PLANT_PII_OFFSET, assert_plantable)
from .registry import query

# DuckDB mirror of functions.text.tokens (same as pipeline_queries._WORDS_SQL).
_WORDS_SQL = d_words()

# --- benchmark decontamination -----------------------------------------------

# Production decontamination uses 13-gram overlap (GPT-3 appendix C); the
# synthetic docs bottom out at 10 words, so the declared query runs N=8 —
# the operator takes N as a parameter, nothing about the plan changes.
_DECON_N = 8
_DECON_HEX = 12  # 48-bit gram fingerprints: equality-join only, no arithmetic
_DECON_PREFIX = "decon probe prefix "

_DECON_GRAMS_SQL = f"""
  SELECT {{distinct}} doc_id,
         {d_h64('gram', seed='decon', nchars=_DECON_HEX)} AS h
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(w) >= {_DECON_N} THEN
             list_transform(range(1, len(w) - {_DECON_N - 2}),
                            i -> array_to_string(w[i:i+{_DECON_N - 1}], ' '))
           ELSE [] END) AS gram
    FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM {{src}})
  )
"""

_DECON_ORACLE = f"""
WITH bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0
), train AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_DECON_OFFSET} AS doc_id, '{_DECON_PREFIX}' || text AS text
  FROM bench
), bg AS ({_DECON_GRAMS_SQL.format(src='bench', distinct='DISTINCT')}
), tg AS ({_DECON_GRAMS_SQL.format(src='train', distinct='')}
)
SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
       CAST(count(DISTINCT t.h) AS BIGINT) AS n_shared
FROM tg t JOIN bg b USING (h)
WHERE t.doc_id <> b.doc_id
GROUP BY 1, 2
"""


def _grams(df: DataFrame, n: int) -> DataFrame:
    """(doc_id, 48-bit word-n-gram fingerprint) rows — NOT deduplicated:
    within-doc repeats are collapsed later by countDistinct, after the
    broadcast join has already discarded every non-matching gram, so no
    full-corpus dedup shuffle ever runs. Texts are dropped before
    anything moves — only 8-byte hashes."""
    return df.select(
        "doc_id", F.explode(T.word_shingles("text", n)).alias("gram")
    ).select(
        "doc_id", H.h64("gram", seed="decon", nchars=_DECON_HEX).alias("h")
    )


@query("q_decontaminate", oracle=_DECON_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-grams with an evaluation set (the GPT-3 appendix-C rule; the same
    pass every serious pretraining pipeline runs). The eval set is a
    deterministic slice of `documents`; planted contaminated rows (eval
    text behind a novel prefix) guarantee true positives the oracle
    reproduces exactly.

    Scale shape: the eval side is benchmarks — thousands of docs against
    a 100 TB corpus — so its distinct gram set BROADCASTS and the whole
    pass is a map-side hash semi-join over the training scan: no shuffle
    of training grams at all, and only the (rare) matching pairs reach
    the final small aggregation. Gram texts never move; 8-byte
    fingerprints do."""
    assert_plantable(sf_dir)
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Bench side: filtered BEFORE any repartition (it's the tiny side —
    # shuffling the whole corpus to extract it would be backwards).
    bench = raw.filter(F.col("doc_id") % 23 == 0)
    planted = bench.select(
        (F.col("doc_id") + PLANT_DECON_OFFSET).alias("doc_id"),
        F.concat(F.lit(_DECON_PREFIX), F.col("text")).alias("text"),
    )
    # Train side: single-file fixture → spread the CPU-bound gram/hash
    # work across cores (a 100 TB table's many input splits make this a
    # no-op on a real cluster).
    train = raw.repartition(
        spark.sparkContext.defaultParallelism
    ).unionByName(planted)

    bg = (
        _grams(bench, _DECON_N)
        .distinct()  # tiny: shrinks the broadcast, nothing more
        .withColumnRenamed("doc_id", "bench_id")
    )
    tg = _grams(train, _DECON_N).withColumnRenamed("doc_id", "train_id")
    hits = tg.join(F.broadcast(bg), "h").filter(
        F.col("train_id") != F.col("bench_id")
    )
    return hits.groupBy("train_id", "bench_id").agg(
        F.countDistinct("h").alias("n_shared")
    )


# --- sequence packing accounting ---------------------------------------------

_PACK_BUDGET = 256  # tokens per training window

_PACK_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id, CAST(len({_WORDS_SQL}) AS BIGINT) AS n
  FROM documents
), c AS (
  SELECT source, n,
         sum(n) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(max(cum) // {_PACK_BUDGET} AS BIGINT) AS n_windows,
       CAST(max(cum) % {_PACK_BUDGET} AS BIGINT) AS tail_tokens,
       CAST(sum(CASE WHEN (cum - 1) // {_PACK_BUDGET}
                       > (cum - n) // {_PACK_BUDGET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
FROM c
GROUP BY source
"""


@query("q_pack_sequences", oracle=_PACK_ORACLE)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing accounting: each source's token
    stream, concatenated in doc_id order, is cut into fixed
    {budget}-token training windows (the GPT-2 packing scheme); report
    per-source window counts, tail waste, and how many documents
    straddle a window boundary (the cross-document-attention
    contamination metric that motivates doc-boundary-aware packing).

    Scale shape: packing only needs WITHIN-PARTITION contiguity — bins
    never span sources/shards — so the window runs partitioned by source
    with no global sort; at 100 TB you sub-shard big sources the same
    way. All integer arithmetic (truncating div == floor on non-negative
    operands in both engines), so the oracle is hash-exact."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source", "doc_id", T.word_count("text").cast("bigint").alias("n")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.select("source", "n", F.sum("n").over(w).alias("cum"))
    b = F.lit(_PACK_BUDGET)
    straddle = (
        F.expr(f"(cum - 1) div {_PACK_BUDGET}")
        > F.expr(f"(cum - n) div {_PACK_BUDGET}")
    ).cast("long")
    return c.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.expr(f"max(cum) div {_PACK_BUDGET}").alias("n_windows"),
        (F.max("cum") % b).alias("tail_tokens"),
        F.sum(straddle).alias("n_straddlers"),
    )


# --- end-to-end corpus pipeline ----------------------------------------------

_E2E_CHUNK = 32
_E2E_MIN_WORDS = 15
# shared with pipeline_queries so the two families always plant the SAME
# PII phenomenon (a drift here would silently test different things)
from .pipeline_queries import _PII_TAIL as _E2E_PII_TAIL  # noqa: E402

_E2E_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
), corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + {PLANT_COPY_OFFSET}, text FROM base WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + {PLANT_PII_OFFSET}, text || '{_E2E_PII_TAIL}' FROM base
  WHERE doc_id % 40 = 0
), scrub AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '{{email}}', '[EMAIL]', 'g'),
                        '{{phone}}', '[PHONE]', 'g') AS text
  FROM corpus
), toks AS (
  SELECT doc_id, {_WORDS_SQL} AS toks FROM scrub
), quality AS (
  SELECT doc_id, toks FROM toks WHERE len(toks) >= {_E2E_MIN_WORDS}
), fp AS (
  SELECT doc_id, toks, md5(array_to_string(toks, ' ')) AS fp FROM quality
), kept AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id, toks,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp
  ) WHERE rn = 1
), ch AS (
  SELECT doc_id, unnest(range(0, len(toks), {_E2E_CHUNK})) AS start, toks
  FROM kept
), ct AS (
  SELECT doc_id, CAST(start // {_E2E_CHUNK} AS INTEGER) AS chunk_id,
         list_slice(toks, start + 1,
                    least(start + {_E2E_CHUNK}, len(toks))) AS ct
  FROM ch
), b AS (
  SELECT doc_id, chunk_id,
         list_transform(ct,
           t -> instr('0123456789abcdef', substr(md5(t), 1, 1))) AS bs
  FROM ct
)
SELECT doc_id, chunk_id,
       CAST(len(bs) AS BIGINT) AS n_tokens,
       CAST(list_sum(bs) AS BIGINT) AS emb_checksum,
       round(sqrt(CAST(list_sum(list_transform(range(1, 17),
         d -> CAST(len(list_filter(bs, x -> x = d)) AS BIGINT)
              * len(list_filter(bs, x -> x = d)))) AS DOUBLE)), 6) AS emb_l2
FROM b
"""


@query("q_e2e_corpus", oracle=_E2E_ORACLE.format(email=T.EMAIL_RE, phone=T.PHONE_RE))
def q_e2e_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole pipeline as ONE declared plan: ingest → PII
    scrub → quality filter → exact dedup (keep-first) → fixed-window
    chunking → per-chunk embedding → index rows (app.py ingest path,
    R1-R14, composed). Planted rows exercise every stage: exact copies
    (deduped away), PII-tailed variants (scrubbed, then kept — the tail
    makes them distinct), and sub-threshold docs (quality-dropped).

    The embedding here is the 16-bucket deterministic stub; the output
    carries each chunk's token count, an integer checksum (sum of 1-based
    bucket ids — algebraically Σ_d (d+1)·count_d) and the embedding L2
    norm, so the oracle verifies the whole composition value-exactly
    without shipping arrays.

    Scale shape (plan captured in tools/plans/q_e2e_corpus.txt — 3
    exchanges total): one narrow scan does scrub+tokenize+quality; the
    dedup window moves each surviving row ONCE to its fingerprint group —
    unavoidable for exact dedup (the id-only + anti-join variant moves the
    same bytes, keyed by id instead);
    chunking explodes scan-side with no shuffle; the embedding is a
    two-level partial+final aggregate — 3 ints per token occurrence,
    never text, and the second exchange is already collapsed to
    per-chunk partials."""
    assert_plantable(sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + PLANT_COPY_OFFSET).alias("doc_id"), "text"
    )
    pii = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + PLANT_PII_OFFSET).alias("doc_id"),
        F.concat("text", F.lit(_E2E_PII_TAIL)).alias("text"),
    )
    corpus = d.unionByName(copies).unionByName(pii)

    scrub = corpus.select(
        "doc_id",
        T.redact(T.redact("text", T.EMAIL_RE, "[EMAIL]"),
                 T.PHONE_RE, "[PHONE]").alias("text"),
    )
    toked = scrub.select("doc_id", T.tokens("text").alias("toks")).filter(
        F.size("toks") >= _E2E_MIN_WORDS
    )
    fp = toked.withColumn("fp", F.md5(F.array_join("toks", " ")))
    kept = S.top_k_per(fp, ["fp"], ["doc_id"], 1).select("doc_id", "toks")

    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_E2E_CHUNK))
    ch = kept.select("doc_id", "toks", F.explode(starts).alias("start"))
    ct = ch.select(
        "doc_id",
        (F.col("start") / _E2E_CHUNK).cast("int").alias("chunk_id"),
        F.slice("toks", F.col("start") + 1, F.lit(_E2E_CHUNK)).alias("ct"),
    )

    ex = ct.select("doc_id", "chunk_id", F.explode("ct").alias("t"))
    bucketed = ex.select(
        "doc_id", "chunk_id",
        F.instr(F.lit("0123456789abcdef"),
                F.substring(F.md5("t"), 1, 1)).alias("b"),
    )
    per_bucket = bucketed.groupBy("doc_id", "chunk_id", "b").agg(
        F.count("*").alias("cnt")
    )
    return per_bucket.groupBy("doc_id", "chunk_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("b") * F.col("cnt")).alias("emb_checksum"),
        F.round(
            F.sqrt(F.sum(F.col("cnt") * F.col("cnt")).cast("double")), 6
        ).alias("emb_l2"),
    )


# --- domain mixing (source-weighted corpus resample) -------------------------

# Target mix: weight 1 + (source_index mod 3) per source — a deterministic
# non-uniform target so the resampler provably reshapes the distribution
# (the fixture corpus itself is uniform across sources). The global
# sampling budget is half the corpus.
_MIX_BUDGET_NUM, _MIX_BUDGET_DEN = 1, 2

_DOMAIN_MIX_ORACLE = f"""
WITH weighted AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS avail,
         1 + (CAST(substr(source, 4) AS BIGINT) % 3) AS w
  FROM documents GROUP BY source
), totals AS (
  SELECT CAST(sum(avail) AS BIGINT) AS n_total,
         CAST(sum(w) AS BIGINT) AS w_total
  FROM weighted
), quotas AS (
  SELECT source, avail, w,
         least(avail,
               (n_total * {_MIX_BUDGET_NUM} * w) // ({_MIX_BUDGET_DEN} * w_total)
         ) AS quota
  FROM weighted CROSS JOIN totals
), ranked AS (
  SELECT d.doc_id, d.source, d.n_chars,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS rn
  FROM documents d
)
SELECT q.source, q.w, q.avail, q.quota,
       CAST(count(r.doc_id) AS BIGINT) AS kept,
       CAST(coalesce(sum(r.n_chars), 0) AS BIGINT) AS kept_chars
FROM quotas q
LEFT JOIN ranked r ON r.source = q.source AND r.rn <= q.quota
GROUP BY q.source, q.w, q.avail, q.quota
"""


@query("q_domain_mix", oracle=_DOMAIN_MIX_ORACLE)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: resample the corpus so each source's share matches a
    target weight vector under a global budget — the pass that turns a
    crawl-proportional corpus into the curated mix a training run actually
    consumes (cf. the sampling-weight tables of public LLM corpora). Per
    source, quota = min(available, budget·w/Σw) in pure integer arithmetic
    (no float shares to round differently per engine), and the quota is
    filled by the first `quota` rows in deterministic md5 order — a
    reproducible, seed-stable sample.

    Scale shape: the weight/quota table is |sources| rows (broadcast); the
    rank is one window shuffle partitioned by source. A skew-heavy source
    at 100 TB would switch the window to the two-phase hash-threshold
    form (take hash < p·2^60, then trim the boundary bucket exactly) —
    same semantics, no single-partition rank."""
    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.groupBy("source").agg(
        F.count("*").alias("avail")
    ).withColumn(
        "w", 1 + F.substring(F.col("source"), 4, 10).cast("bigint") % 3
    )
    totals = weighted.agg(
        F.sum("avail").alias("n_total"), F.sum("w").alias("w_total")
    )
    quotas = weighted.crossJoin(F.broadcast(totals)).select(
        "source",
        "avail",
        "w",
        F.least(
            F.col("avail"),
            F.expr(
                f"(n_total * {_MIX_BUDGET_NUM} * w) div "
                f"({_MIX_BUDGET_DEN} * w_total)"
            ),
        ).alias("quota"),
    )
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        )
        .alias("rn"),
    )
    kept = ranked.join(
        F.broadcast(quotas.select("source", "quota")),
        on="source",
    ).filter(F.col("rn") <= F.col("quota"))
    return (
        quotas.join(
            kept.groupBy("source").agg(
                F.count("*").alias("kept"),
                F.sum("n_chars").alias("kept_chars"),
            ),
            on="source",
            how="left",
        )
        .select(
            "source",
            F.col("w").cast("bigint").alias("w"),
            "avail",
            F.col("quota").cast("bigint").alias("quota"),
            F.coalesce("kept", F.lit(0)).alias("kept"),
            F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
        )
    )


# --- BPE merge-pair induction (first tokenizer-training iteration) -----------

_BPE_ORACLE = f"""
WITH w AS (
  SELECT unnest({_WORDS_SQL}) AS wd FROM documents
), wt AS (
  SELECT wd, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY wd
), sym AS (
  SELECT cnt,
         list_transform(generate_series(1, length(wd)),
                        i -> substr(wd, i, 1)) || ['</w>'] AS chars
  FROM wt
), pr AS (
  SELECT unnest(list_filter(list_zip(chars, chars[2:]),
                            p -> p[2] IS NOT NULL)) AS p,
         cnt
  FROM sym
), agg AS (
  SELECT p[1] AS sym1, p[2] AS sym2, CAST(sum(cnt) AS BIGINT) AS pair_freq
  FROM pr GROUP BY 1, 2
)
SELECT sym1, sym2, pair_freq, merge_rank FROM (
  SELECT sym1, sym2, pair_freq,
         CAST(row_number() OVER (
           ORDER BY pair_freq DESC, sym1 ASC, sym2 ASC
         ) AS INTEGER) AS merge_rank
  FROM agg
) ranked WHERE merge_rank <= 20
"""


@query("q_bpe_merges", oracle=_BPE_ORACLE)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge-table iteration (Sennrich et al. 2016): count
    adjacent symbol pairs across word TYPES weighted by word frequency
    (each word carries an end-of-word marker), rank the top-20 merge
    candidates. Subsequent iterations depend on the chosen merge
    (inherently sequential — they would re-run this same plan over the
    re-segmented symbol table), so the declared query is the one
    iteration, which is also the expensive one.

    Scale shape: the corpus collapses to the word-TYPE table in the first
    aggregate (vocabulary-sized — Heaps' law, millions of rows at 100 TB,
    not billions), and everything after (char split, zip, pair count,
    rank) runs on types. The char split is array-local via
    substr-over-sequence (identical semantics on both engines — regex
    empty-pattern splits differ between them); pair weighting multiplies
    nothing: it sums the exact BIGINT type frequencies. The final global
    row_number window sorts the character-pair table (|alphabet|² rows) on
    one partition — bounded by the symbol inventory, never the corpus."""
    d = load_table(spark, sf_dir, "documents")
    wt = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("wd"))
        .groupBy("wd")
        .agg(F.count("*").alias("cnt"))
    )
    sym = wt.select(
        "cnt",
        F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length("wd")),
                lambda i: F.col("wd").substr(i, F.lit(1)),
            ),
            F.array(F.lit("</w>")),
        ).alias("chars"),
    )
    pairs = sym.select(
        "cnt",
        F.explode(
            F.filter(
                F.zip_with(
                    F.col("chars"),
                    F.slice(
                        "chars", 2, F.greatest(F.size("chars") - 1, F.lit(0))
                    ),
                    lambda a, b: F.struct(a.alias("s1"), b.alias("s2")),
                ),
                lambda p: p["s2"].isNotNull(),
            )
        ).alias("p"),
    )
    agg = (
        pairs.select(
            F.col("p.s1").alias("sym1"), F.col("p.s2").alias("sym2"), "cnt"
        )
        .groupBy("sym1", "sym2")
        .agg(F.sum("cnt").alias("pair_freq"))
    )
    w = Window.orderBy(
        F.col("pair_freq").desc(), F.col("sym1").asc(), F.col("sym2").asc()
    )
    return (
        agg.withColumn("merge_rank", F.row_number().over(w))
        .filter(F.col("merge_rank") <= 20)
        .select("sym1", "sym2", "pair_freq", "merge_rank")
    )


# --- BPE merge application (tokenizer encode step) ---------------------------
#
# q_bpe_merges learns the merge table; this applies the top-3 merges in
# rank order to the word-type table and reports the corpus token count
# after each step — the encode side of the tokenizer. Each symbol is
# wrapped in its OWN delimiters ('|a||b||c||</w>|'), so adjacent
# occurrences of a merge pair never share a boundary character: one
# replace() of '|x||y|' with '|xy|' is exactly Sennrich's exhaustive
# greedy left-to-right non-overlapping merge application ('abab' ->
# [ab, ab], 'bbbb' -> [bb, bb]) and scans identically in Spark and
# DuckDB. (A single-delimiter encoding '|a|b|' silently skips the
# second of two immediately adjacent occurrences because the trailing
# '|' of one match is the leading '|' of the next.) Symbol count is
# pipes/2 per word.

_BPE_STEPS = 3

_BPE_ENCODE_ORACLE = f"""
WITH w AS (
  SELECT unnest({_WORDS_SQL}) AS wd FROM documents
), wt AS (
  -- delimiter-collision guard: word types containing '|' are excluded
  -- (0 on this corpus at every SF; production picks a delimiter outside
  -- the alphabet), mirrored Spark-side
  SELECT wd, CAST(count(*) AS BIGINT) AS cnt FROM w
  WHERE wd NOT LIKE '%|%' GROUP BY wd
), sym AS (
  SELECT cnt,
         list_transform(generate_series(1, length(wd)),
                        i -> substr(wd, i, 1)) || ['</w>'] AS chars
  FROM wt
), pr AS (
  SELECT unnest(list_filter(list_zip(chars, chars[2:]),
                            p -> p[2] IS NOT NULL)) AS p,
         cnt
  FROM sym
), agg AS (
  SELECT p[1] AS sym1, p[2] AS sym2, CAST(sum(cnt) AS BIGINT) AS pair_freq
  FROM pr GROUP BY 1, 2
), ranked AS (
  SELECT sym1, sym2, row_number() OVER (
           ORDER BY pair_freq DESC, sym1 ASC, sym2 ASC) AS rk
  FROM agg
), m AS (
  SELECT max(CASE WHEN rk = 1 THEN sym1 END) AS a1,
         max(CASE WHEN rk = 1 THEN sym2 END) AS b1,
         max(CASE WHEN rk = 2 THEN sym1 END) AS a2,
         max(CASE WHEN rk = 2 THEN sym2 END) AS b2,
         max(CASE WHEN rk = 3 THEN sym1 END) AS a3,
         max(CASE WHEN rk = 3 THEN sym2 END) AS b3
  FROM ranked WHERE rk <= {_BPE_STEPS}
), enc AS (
  SELECT wt.cnt,
         regexp_replace(wt.wd, '(.)', '|\\1|', 'g') || '|</w>|' AS s0,
         m.*
  FROM wt, m
), e1 AS (
  SELECT *, replace(s0, '|'||a1||'||'||b1||'|', '|'||a1||b1||'|') AS s1
  FROM enc
), e2 AS (
  SELECT *, replace(s1, '|'||a2||'||'||b2||'|', '|'||a2||b2||'|') AS s2
  FROM e1
), e3 AS (
  SELECT *, replace(s2, '|'||a3||'||'||b3||'|', '|'||a3||b3||'|') AS s3
  FROM e2
), tot AS (
  SELECT
    CAST(sum(cnt * ((length(s0) - length(replace(s0,'|',''))) // 2)) AS BIGINT) AS t0,
    CAST(sum(cnt * ((length(s1) - length(replace(s1,'|',''))) // 2)) AS BIGINT) AS t1,
    CAST(sum(cnt * ((length(s2) - length(replace(s2,'|',''))) // 2)) AS BIGINT) AS t2,
    CAST(sum(cnt * ((length(s3) - length(replace(s3,'|',''))) // 2)) AS BIGINT) AS t3
  FROM e3
)
SELECT CAST(0 AS INTEGER) AS step, CAST(NULL AS VARCHAR) AS sym1,
       CAST(NULL AS VARCHAR) AS sym2, t0 AS total_syms FROM tot
UNION ALL SELECT 1, m.a1, m.b1, t1 FROM tot, m
UNION ALL SELECT 2, m.a2, m.b2, t2 FROM tot, m
UNION ALL SELECT 3, m.a3, m.b3, t3 FROM tot, m
"""


@query("q_bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the top-3 learned BPE merges in rank order (Sennrich et al.
    2016's encode step) and report the weighted corpus symbol count after
    each — the compression curve a tokenizer-training run watches. Each
    symbol is wrapped in its own delimiter pair ('|a||b||</w>|'), so a
    single replace('|x||y|' -> '|xy|') IS exhaustive greedy left-to-right
    non-overlapping merge application, including immediately adjacent
    occurrences ('abab' -> [ab, ab]); replace() scans identically in
    both engines. Word types containing the delimiter are excluded
    (mirrored guard; zero on this corpus — production uses a delimiter
    outside the alphabet).

    Scale shape: like q_bpe_merges, everything after the first aggregate
    runs on the vocabulary-sized word-TYPE table; the merge table pivots
    to ONE broadcast row; the per-step totals are exact integer sums.
    The chain is inherently sequential in the merge rank (each step
    rewrites the segmentation the next step sees) — exactly 3 narrow
    projections here, a loop of the same plan in production."""
    d = load_table(spark, sf_dir, "documents")
    wt = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("wd"))
        .filter(~F.col("wd").contains("|"))
        .groupBy("wd")
        .agg(F.count("*").alias("cnt"))
    )
    sym = wt.select(
        "cnt",
        F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length("wd")),
                lambda i: F.col("wd").substr(i, F.lit(1)),
            ),
            F.array(F.lit("</w>")),
        ).alias("chars"),
    )
    pairs = sym.select(
        "cnt",
        F.explode(
            F.filter(
                F.zip_with(
                    F.col("chars"),
                    F.slice(
                        "chars", 2, F.greatest(F.size("chars") - 1, F.lit(0))
                    ),
                    lambda a, b: F.struct(a.alias("s1"), b.alias("s2")),
                ),
                lambda p: p["s2"].isNotNull(),
            )
        ).alias("p"),
    )
    agg = (
        pairs.select(
            F.col("p.s1").alias("sym1"), F.col("p.s2").alias("sym2"), "cnt"
        )
        .groupBy("sym1", "sym2")
        .agg(F.sum("cnt").alias("pair_freq"))
    )
    wnd = Window.orderBy(
        F.col("pair_freq").desc(), F.col("sym1").asc(), F.col("sym2").asc()
    )
    ranked = agg.withColumn("rk", F.row_number().over(wnd)).filter(
        F.col("rk") <= _BPE_STEPS
    )
    m = ranked.agg(
        *[
            f
            for k in range(1, _BPE_STEPS + 1)
            for f in (
                F.max(F.when(F.col("rk") == k, F.col("sym1"))).alias(f"a{k}"),
                F.max(F.when(F.col("rk") == k, F.col("sym2"))).alias(f"b{k}"),
            )
        ]
    )
    enc = wt.crossJoin(F.broadcast(m)).withColumn(
        "s0",
        F.concat(
            F.regexp_replace("wd", "(.)", "|$1|"),
            F.lit("|</w>|"),
        ),
    )
    for k in range(1, _BPE_STEPS + 1):
        enc = enc.withColumn(
            f"s{k}",
            F.replace(
                F.col(f"s{k-1}"),
                F.concat(
                    F.lit("|"), F.col(f"a{k}"), F.lit("||"),
                    F.col(f"b{k}"), F.lit("|"),
                ),
                F.concat(
                    F.lit("|"), F.col(f"a{k}"), F.col(f"b{k}"), F.lit("|")
                ),
            ),
        )

    def nsyms(c: str):
        # every symbol carries exactly two pipes of its own; the count is
        # even by construction, so the shift is an exact integer halving
        pipes = F.length(c) - F.length(
            F.replace(F.col(c), F.lit("|"), F.lit(""))
        )
        return F.shiftright(pipes.cast("long"), 1)

    tot = enc.agg(
        *[
            F.sum(F.col("cnt") * nsyms(f"s{k}")).cast("bigint").alias(f"t{k}")
            for k in range(0, _BPE_STEPS + 1)
        ],
        *[
            f
            for k in range(1, _BPE_STEPS + 1)
            for f in (
                F.max(f"a{k}").alias(f"ma{k}"),
                F.max(f"b{k}").alias(f"mb{k}"),
            )
        ],
    )
    stack_args = ", ".join(
        ["0, cast(null as string), cast(null as string), t0"]
        + [f"{k}, ma{k}, mb{k}, t{k}" for k in range(1, _BPE_STEPS + 1)]
    )
    return tot.select(
        F.expr(
            f"stack({_BPE_STEPS + 1}, {stack_args}) "
            "as (step, sym1, sym2, total_syms)"
        )
    )
