"""Text-processing Column builders.

Reference parity: paragraph split/trim/drop-empty (R5, ``app.py:24,33``),
first-N-token keyword fallback (R15 fallback, ``app_callapi.py:152``),
substring-semantics stopword filter (R16, ``app.py:71,110`` — note the
reference drops a keyword if it *contains* a stopword anywhere, not on token
equality: SURVEY §7 trap 3), plus the north-star text-analysis family
(language ID, quality scoring, token counting, fingerprinting).

Everything is built-in Column expressions — no Python UDFs in these paths,
so the 100 TB document scan runs on the JVM with no Python worker.
``tokens`` (and every builder on top of it) uses the ``transform`` and
``filter`` lambdas, which are ``CodegenFallback`` expressions on Spark 4.1:
whole-stage codegen compiles the stage around them, and they run
interpreted.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import hashing as H


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokens, trimmed, empties dropped (R5 semantics applied to
    word granularity)."""
    return F.filter(
        F.transform(F.split(_c(col), r"\s+"), lambda t: F.trim(t)),
        lambda t: F.length(t) > 0,
    )


def word_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def keyword_fallback(col: Column | str, n: int = 8) -> Column:
    """The reference's KeyBERT-failure fallback: first n whitespace tokens
    (``app_callapi.py:152``)."""
    return F.slice(tokens(col), 1, n)


def stopword_filter(keywords: Column | str, stopwords: Sequence[str]) -> Column:
    """Drop a keyword if it CONTAINS any stopword as a substring — the
    reference's (surprising) semantics at ``app.py:110``:
    ``any(sw in kw for sw in stopwords)``, not token equality."""
    kw = _c(keywords)
    sw_arr = F.array(*[F.lit(s) for s in stopwords])
    return F.filter(
        kw,
        lambda k: ~F.exists(sw_arr, lambda s: F.contains(k, s)),
    )


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """Character n-grams (for Jaccard / MinHash shingling). Empty array when
    the string is shorter than n."""
    c = _c(col)
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: F.substring(c, i, n),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles joined with a single space."""
    toks = tokens(col)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# --- text analysis (north-star family) ---

_PUNCT_RE = r"[^\w\s]"
_EN_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
)


def punct_ratio(col: Column | str) -> Column:
    c = _c(col)
    stripped = F.regexp_replace(c, _PUNCT_RE, "")
    return F.when(
        F.length(c) > 0,
        (F.length(c) - F.length(stripped)).cast("double") / F.length(c),
    ).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str) -> Column:
    """Share of tokens that are ``_EN_STOPWORDS`` (case-insensitive)."""
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(
        F.size(toks) > 0, hits.cast("double") / F.size(toks)
    ).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Heuristic doc-quality score in [0,1]: rewards mid-length docs and
    stopword presence, penalizes punctuation soup. Deterministic and
    SQL-expressible — the shape of a C4/Gopher-style quality rule."""
    wc = word_count(col).cast("double")
    len_score = F.least(wc / F.lit(50.0), F.lit(1.0))
    return F.round(
        F.lit(0.5) * len_score
        + F.lit(0.3) * F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
        + F.lit(0.2) * (1.0 - F.least(punct_ratio(col) * 10.0, F.lit(1.0))),
        6,
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-flavored token estimate without a tokenizer: count word pieces
    of <=4 chars (ceil(len/4) per word) — the standard chars/4 heuristic,
    computed per token."""
    return F.aggregate(
        tokens(col),
        F.lit(0),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("int"),
    )


def lang_id(col: Column | str) -> Column:
    """N-gram-free language heuristic for the fixture corpus: score English
    stopword hits vs accented-latin vs CJK character presence."""
    c = _c(col)
    sw_ratio = stopword_ratio(c)
    # explicit codepoint ranges (CJK unified / Hangul syllables; latin-1
    # supplement through latin extended-A) — written as \x{...} so the
    # DuckDB oracle can mirror them character-for-character
    has_cjk = (
        F.length(F.regexp_replace(c, r"[^\x{4e00}-\x{9fff}\x{ac00}-\x{d7af}]", ""))
        > 0
    )
    has_accent = F.length(F.regexp_replace(c, r"[^\x{c0}-\x{17f}]", "")) > 0
    return (
        F.when(has_cjk, F.lit("cjk"))
        .when(sw_ratio >= 0.08, F.lit("en"))
        .when(has_accent, F.lit("latin-other"))
        .otherwise(F.lit("unknown"))
    )


STUB_EMBED_DIM = 16


def stub_embeddings_df(df):
    """Per-document deterministic SQL-expressible embeddings (SURVEY §5)
    of a ``(doc_id, text)`` frame, returned as ``(doc_id, emb)``:
    ``STUB_EMBED_DIM`` dimensions; dimension d counts the document's tokens
    whose md5 first hex char falls in bucket d. Stands in for the LaBSE
    pandas_udf (R7) so the chunk→vector→kNN pipeline is oracle-checkable
    end-to-end without torch.

    Built as explode → bucket each token's md5 once → one conditional sum
    per dimension → dense array, joined back so token-less docs get zero
    vectors: one narrow explode and a partial+final aggregate. (A per-row nested
    lambda over the token array compiles to one huge codegen method that
    HotSpot may refuse to JIT.)"""
    toks = df.select(F.col("doc_id"), F.explode(tokens("text")).alias("__t"))
    hashed = toks.select(
        "doc_id",
        (F.instr(F.lit("0123456789abcdef"), F.substring(F.md5("__t"), 1, 1)) - 1)
        .alias("__b"),
    )
    # one expr parse per generated column (functions.vectors discipline) —
    # the per-dimension Column loop costs ~5 py4j round-trips per bucket
    dims = range(STUB_EMBED_DIM)
    sums = [F.expr(f"sum(CAST((__b = {d}) AS INT)) AS __c{d}") for d in dims]
    agged = hashed.groupBy("doc_id").agg(*sums)
    emb = F.expr(
        "array(" + ", ".join(f"CAST(__c{d} AS DOUBLE)" for d in dims) + ")"
    )
    zeros = F.expr("array(" + ", ".join(["0D"] * len(dims)) + ")")
    sigs = agged.select(F.col("doc_id"), emb.alias("emb"))
    return (
        df.select("doc_id")
        .join(sigs, on="doc_id", how="left")
        .select(F.col("doc_id"), F.coalesce(F.col("emb"), zeros).alias("emb"))
    )


# --- PII scrubbing (north-star cleaning family) ---
#
# Patterns deliberately use only syntax shared by Java regex (Spark) and
# RE2 (DuckDB) — char classes, bounded repeats, no lookarounds — so the
# oracle mirrors them character for character.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}"


def redact(col: Column | str, pattern: str, token: str) -> Column:
    """Replace every match of `pattern` with `token` — email/phone scrub
    for training-data pipelines. Pure Column expression: the 100 TB scrub
    pass stays inside whole-stage codegen, no Python in the loop."""
    return F.regexp_replace(_c(col), pattern, token)


def pii_match_count(col: Column | str, pattern: str) -> Column:
    """Number of matches of `pattern` (redaction accounting)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(pattern), F.lit(0)))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of lowercased, whitespace-normalized text —
    the normalize-then-hash form of near-exact dedup.

    Single-pass normalization (lower → collapse \\s+ runs to one space →
    trim) is algebraically identical to tokenize/trim/drop-empty/join but
    skips the token-array materialization — this expression runs over every
    byte of a 100 TB corpus, and the regex form measured ~4x faster than the
    array form at sf0.1 (it was 34% of the round-1 bench headline)."""
    normalized = F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))
    return H.md5_hex(normalized)
