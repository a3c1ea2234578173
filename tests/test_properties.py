"""Property-based equivalence tests (hypothesis) for the algebraic
rewrites the engine relies on. Each property batches all generated cases
into ONE DataFrame per example so Spark job count stays low.

These guard rewrites, not behaviors: if someone "optimizes" one side
again, the property pins it to the reference formulation.
"""

import math

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from create_proposals_using_vector_db_public_spark.functions import text as T
from create_proposals_using_vector_db_public_spark.functions import hashing as H
from create_proposals_using_vector_db_public_spark.functions import money as M
from create_proposals_using_vector_db_public_spark.operators import dedup as D
from create_proposals_using_vector_db_public_spark.operators import selection as S

# printable-ish unicode incl. whitespace runs, CJK, accents — the fixture
# corpus is Korean+English so non-ASCII must hold
_TEXTS = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("L", "N", "P", "Zs"),
            whitelist_characters="\t\n 가나다힣é",
        ),
        max_size=80,
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=15, deadline=None)
@given(_TEXTS)
def test_fingerprint_regex_form_equals_token_form(spark, texts):
    """The round-2 single-pass fingerprint (trim ∘ collapse-\\s+ ∘ lower)
    must hash identically to the original tokenize/trim/drop-empty/join
    normalization for ANY input."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i: int, t: string")
    token_form = H.md5_hex(F.array_join(T.tokens(F.lower(F.col("t"))), " "))
    rows = df.select(
        T.fingerprint("t").alias("fast"), token_form.alias("ref")
    ).collect()
    for r in rows:
        assert r["fast"] == r["ref"]


@settings(max_examples=10, deadline=None)
@given(_TEXTS)
def test_minhash_exploded_equals_rowlocal(spark, texts):
    """The exploded word-hash MinHash (one narrow shuffle) must produce the
    SAME signatures as the row-local array form it replaced for perf."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    exploded = {
        r["doc_id"]: tuple(r[f"mh{j}"] for j in range(4))
        for r in D.minhash_signatures(df, num_hashes=4).collect()
    }
    # row-local reference: hash words, combine consecutive into shingle
    # hashes, then affine-min per hash function — all as array expressions
    toks = T.tokens("text")
    wh = F.transform(toks, lambda w: H.h64(w, nchars=D.MINHASH_BASE_HEX))
    n = F.size(wh)
    sh = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: (
                (
                    (F.element_at(wh, i + 1) * D.SHINGLE_COMBINE
                     + F.element_at(wh, i + 2)) % D.MINHASH_P
                ) * D.SHINGLE_COMBINE + F.element_at(wh, i + 3)
            ) % D.MINHASH_P,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    base = df.select(F.col("doc_id"), sh.alias("sh")).filter(F.size("sh") > 0)
    rowlocal = {
        r["doc_id"]: tuple(r[f"mh{j}"] for j in range(4))
        for r in base.select(
            "doc_id", *D.minhash_cols(F.col("sh"), num_hashes=4)
        ).collect()
    }
    assert exploded == rowlocal


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**15), max_value=10**15),
            st.integers(min_value=1, max_value=10**6),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_integer_half_away_rounding_matches_python(spark, cases):
    """q_centroid_label derives round-half-away-from-zero(s/n) purely from
    truncating integer division on non-negative operands (where truncating
    and floor division agree, so Spark `div` == DuckDB `//`). Pin the CASE
    formula to Python's exact Fraction-based rounding for any (s, n)."""
    from fractions import Fraction

    def py_half_away(s: int, n: int) -> int:
        q = Fraction(s, n)
        sign = -1 if q < 0 else 1
        aq = abs(q)
        fl = aq.numerator // aq.denominator
        rem = aq - fl
        return sign * (fl + (1 if rem >= Fraction(1, 2) else 0))

    df = spark.createDataFrame(
        [(i, s, n) for i, (s, n) in enumerate(cases)], "i: int, s: long, n: long"
    )
    got = {
        r.i: r.c
        for r in df.select(
            "i",
            F.expr(
                "CASE WHEN s >= 0 THEN (2*s + n) div (2*n)"
                " ELSE -((2*(-s) + n) div (2*n)) END"
            ).alias("c"),
        ).collect()
    }
    for i, (s, n) in enumerate(cases):
        assert got[i] == py_half_away(s, n), (s, n)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(  # a-side intervals: (user, start)
        st.tuples(st.integers(0, 3), st.integers(0, 10**10)),
        min_size=1, max_size=15,
    ),
    st.lists(  # b-side intervals
        st.tuples(st.integers(0, 3), st.integers(0, 10**10)),
        min_size=1, max_size=15,
    ),
)
def test_interval_bucket_blocking_equals_naive_overlap(spark, a_rows, b_rows):
    """The q_interval_overlap rewrite (explode to hour buckets, join on
    (user, bucket), keep a pair only in the bucket of greatest(start))
    must equal the naive inequality join for ANY intervals — including
    starts landing exactly on hour boundaries and zero-separation
    overlaps. Same window lengths as the declared query (30m / 15m)."""
    HOUR = 3_600_000_000
    A_LEN, B_LEN = 30 * 60_000_000, 15 * 60_000_000

    a = spark.createDataFrame(
        [(i, u, s, s + A_LEN) for i, (u, s) in enumerate(a_rows)],
        "a_id: long, a_u: long, a_start: long, a_end: long",
    )
    b = spark.createDataFrame(
        [(i, u, s, s + B_LEN) for i, (u, s) in enumerate(b_rows)],
        "b_id: long, b_u: long, b_start: long, b_end: long",
    )

    def bucketed(df, s, t):
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"{s} div {HOUR}"), F.expr(f"({t} - 1) div {HOUR}")
                )
            ),
        )

    blocked = (
        bucketed(a.withColumnRenamed("a_u", "u"), "a_start", "a_end")
        .join(bucketed(b.withColumnRenamed("b_u", "u"), "b_start", "b_end"), ["u", "bucket"])
        .filter(
            (F.col("a_start") < F.col("b_end"))
            & (F.col("b_start") < F.col("a_end"))
            & (F.expr(f"greatest(a_start, b_start) div {HOUR}") == F.col("bucket"))
        )
        .select("a_id", "b_id")
    )
    naive = (
        a.withColumnRenamed("a_u", "u")
        .join(b.withColumnRenamed("b_u", "u"), "u")
        .filter(
            (F.col("a_start") < F.col("b_end"))
            & (F.col("b_start") < F.col("a_end"))
        )
        .select("a_id", "b_id")
    )
    got = sorted((r.a_id, r.b_id) for r in blocked.collect())
    want = sorted((r.a_id, r.b_id) for r in naive.collect())
    assert got == want  # equal AND no duplicate emissions


@settings(max_examples=15, deadline=None)
@given(_TEXTS)
def test_bigram_zip_equals_python_adjacency(spark, texts):
    """The array-local bigram extraction (zip tokens with their own tail,
    filter the null pad) used by q_collocations must equal plain-Python
    adjacent pairing for ANY input — including empty and 1-token docs,
    where the zip must produce no pairs rather than (w, null)."""
    import re

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i: int, t: string"
    )
    toks = T.tokens(F.col("t"))
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda p: p["w2"].isNotNull(),
    )
    rows = df.select("i", "t", bigrams.alias("bg")).collect()
    for r in rows:
        # mirror the ENGINE's semantics, not Python's: Java regex \s is
        # ASCII-only ([ \t\n\x0b\f\r] — U+00A0 etc. are NOT separators),
        # and F.trim strips only U+0020. Python re.\s/str.strip are
        # unicode-wide and diverge on exactly those inputs (hypothesis
        # found '0\xa00').
        ref_toks = [
            w.strip(" ")
            for w in re.split(r"[ \t\n\x0b\f\r]+", r["t"])
            if w.strip(" ")
        ]
        expected = list(zip(ref_toks, ref_toks[1:]))
        got = [(p["w1"], p["w2"]) for p in r["bg"]]
        assert got == expected, (r["t"], got, expected)


@settings(max_examples=15, deadline=None)
@given(_TEXTS)
def test_char_split_substr_equals_python_chars(spark, texts):
    """The substr-over-sequence char split used by q_bpe_merges must equal
    Python list(word) for any unicode word (the portable alternative to
    empty-pattern regex splits, which differ between engines)."""
    words = [w for t in texts for w in t.split() if w][:20] or ["x"]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "i: int, w: string"
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    rows = df.select("w", chars.alias("c")).collect()
    for r in rows:
        assert list(r["c"]) == list(r["w"]), (r["w"], r["c"])


# --- batch-8 operator references ---------------------------------------------

import math
from decimal import ROUND_HALF_UP, Decimal

from create_proposals_using_vector_db_public_spark.operators import (
    retrieval as R,
)


def _r6(x: float) -> float:
    """Spark F.round semantics on doubles: HALF_UP over the shortest
    decimal representation (BigDecimal.valueOf == Python repr)."""
    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
    )


def _nrm(v):
    n = 0.0
    for x in v:
        n += x * x
    n = math.sqrt(n)
    return v if n == 0.0 else [x / n for x in v]


def _dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


_VECSETS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # cluster
        st.lists(
            st.integers(min_value=-3, max_value=3), min_size=3, max_size=3
        ),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=15, deadline=None)
@given(_VECSETS)
def test_semdedup_keep_equals_python_reference(spark, rows):
    """semdedup_keep must equal the brute-force rule: drop i iff some
    lower-id SAME-cluster member has round(dot(normalize), 6) > tau."""
    tau = 0.5
    data = [(i, cl, [float(x) for x in vec]) for i, (cl, vec) in enumerate(rows)]
    vh = {i: (cl, _nrm(v)) for i, cl, v in data}
    ids = sorted(vh)
    expect = sorted(
        b
        for b in ids
        if not any(
            a < b
            and vh[a][0] == vh[b][0]
            and _r6(_dot(vh[a][1], vh[b][1])) > tau
            for a in ids
        )
    )
    df = spark.createDataFrame(
        data, "vec_id: long, centroid_id: long, embedding: array<double>"
    )
    got = sorted(
        r["vec_id"] for r in D.semdedup_keep(df, threshold=tau).collect()
    )
    assert got == expect


_MMR_CANDS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=100),  # rel in 1/100ths
        st.lists(
            st.integers(min_value=-3, max_value=3), min_size=3, max_size=3
        ),
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda t: (t[0], tuple(t[1])),
)


@settings(max_examples=15, deadline=None)
@given(_MMR_CANDS)
def test_mmr_select_equals_python_greedy(spark, cands):
    """mmr_select must replay the greedy reference: each step picks the
    max of round(0.5*rel - 0.5*maxsim, 6) with ties broken by id. Sims
    mirror cosine_sim on the raw vectors (dot/(|a||b|), rounded to 6dp);
    a zero-norm vector yields NULL sim, which max() skips — and when ALL
    its sims are NULL the row drops out of the argmax join entirely, so
    the reference skips it too."""
    lam = 0.5
    k = min(4, len(cands))
    data = [
        (i, [float(x) for x in vec], rel / 100.0)
        for i, (rel, vec) in enumerate(cands)
    ]

    def cos(a, b):
        na, nb = math.sqrt(_dot(a, a)), math.sqrt(_dot(b, b))
        if na * nb == 0.0:
            return None
        return _r6(_dot(a, b) / (na * nb))

    remaining = {i: (v, r) for i, v, r in data}
    # (rel desc, id asc) argmax, matching the operator's tie-break
    best = sorted(remaining, key=lambda i: (-remaining[i][1], i))[0]
    expect = [(best, 1)]
    selected = [best]
    del remaining[best]
    for step in range(2, k + 1):
        if not remaining:
            break
        scored = {}
        for i, (v, r) in remaining.items():
            sims = [cos(v, dict((d[0], d[1]) for d in data)[s]) for s in selected]
            sims = [s for s in sims if s is not None]
            ms = max(sims) if sims else None
            if ms is None:
                continue  # all-NULL sim: engine drops the row from the argmax join
            scored[i] = _r6(lam * r - (1.0 - lam) * ms)
        if not scored:
            break
        nxt = sorted(scored, key=lambda i: (-scored[i], i))[0]
        expect.append((nxt, step))
        selected.append(nxt)
        del remaining[nxt]
    df = spark.createDataFrame(
        data, "doc_id: long, emb: array<double>, rel: double"
    )
    got = sorted(
        (r["doc_id"], r["mmr_rank"])
        for r in R.mmr_select(df, k=k, lam=lam).collect()
    )
    assert got == sorted(expect)


@settings(max_examples=10, deadline=None)
@given(_TEXTS)
def test_tokens_cross_engine_equals_duckdb_d_words(spark, texts):
    """THE tokenizer contract: functions.text.tokens (Spark/Java) and
    plans.duck.d_words (DuckDB/RE2) must produce identical token arrays
    for ANY input — including the live divergences this property
    originally caught: Java \\s splits on \\x0B where RE2's does not, and
    DuckDB's default trim strips unicode whitespace (NBSP) where Spark's
    strips only U+0020. d_words pins both down explicitly."""
    import duckdb

    from create_proposals_using_vector_db_public_spark.plans.duck import (
        d_words,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i: int, t: string"
    )
    got_spark = {
        r["i"]: list(r["toks"])
        for r in df.select("i", T.tokens(F.col("t")).alias("toks")).collect()
    }
    con = duckdb.connect()
    con.register("t_in", __import__("pandas").DataFrame(
        {"i": list(range(len(texts))), "t": texts}
    ))
    got_duck = {
        i: list(toks)
        for i, toks in con.execute(
            f"SELECT i, {d_words('t')} FROM t_in"
        ).fetchall()
    }
    assert got_spark == got_duck


# --- round-3 properties: BPE merge device, KMV merge, pair-eval canon --------


def _py_bpe_merge(word: str, a: str, b: str) -> list[str]:
    """Sennrich greedy left-to-right non-overlapping single-merge
    reference: scan symbols (chars + </w>), merging (a,b) pairs."""
    syms = list(word) + ["</w>"]
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@settings(max_examples=25, deadline=None)
@given(
    st.text(alphabet="abc", min_size=1, max_size=12),
    st.sampled_from(["a", "b", "c"]),
    st.sampled_from(["a", "b", "c", "</w>"]),
)
def test_bpe_doubled_delimiter_replace_equals_greedy_merge(spark, word, a, b):
    """The doubled-delimiter encoding ('|x||y|' -> '|xy|') must equal the
    Python greedy left-to-right merge for ARBITRARY words and pairs —
    including adjacent repeats ('abab', 'bbbb') and merges involving the
    </w> terminator — not just the hand-picked device cases."""
    df = spark.createDataFrame([(word,)], "wd string")
    enc = df.select(
        F.concat(
            F.regexp_replace("wd", "(.)", "|$1|"), F.lit("|</w>|")
        ).alias("s0")
    ).select(
        F.replace(
            F.col("s0"),
            F.lit(f"|{a}||{b}|"),
            F.lit(f"|{a}{b}|"),
        ).alias("s1")
    )
    got = enc.head().s1
    want = "".join(f"|{s}|" for s in _py_bpe_merge(word, a, b))
    assert got == want, f"{word} merge ({a},{b}): {got} != {want}"


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # month
            st.integers(min_value=0, max_value=10_000),  # key
        ),
        min_size=1,
        max_size=120,
    ),
    st.sampled_from([4, 8, 16]),
)
def test_kmv_month_merge_is_lossless(rows, k):
    """Pure-math half of the KMV pin: the union of per-month k-minima
    contains every quarter-level k-minimum (any value among the quarter's
    k smallest distinct hashes is among its month's k smallest), so
    merging month sketches loses nothing vs computing the quarter sketch
    directly. (Engine-level coverage of q_hll_merge's ACTUAL md5-based
    Spark pipeline is test_hll_merge_kmv_matches_direct_python below —
    this property just proves the merge identity the query relies on.)"""
    hashes = {}
    for m, key in rows:
        hashes.setdefault(m, set()).add(hash(("kmv", key)) & ((1 << 60) - 1))
    month_minima = [sorted(s)[:k] for s in hashes.values()]
    merged = sorted(set().union(*[set(x) for x in month_minima]))[:k]
    direct = sorted(set().union(*hashes.values()))[:k]
    assert merged == direct


def test_hll_merge_kmv_matches_direct_python(spark):
    """Engine-level KMV pin, independent of the mirrored DuckDB oracle:
    recompute each quarter's KMV estimate DIRECTLY in Python (md5-h64
    distinct hashes of l_partkey per quarter, k-th smallest, the
    (k-1)*2^60/h_k estimator) from the raw parquet, and require
    q_hll_merge's month-merged Spark pipeline to produce the identical
    rounded estimate. Catches a regression in the Spark rank/merge SQL
    that the parity gate would miss only if the oracle regressed the
    same way."""
    import hashlib
    import os

    import pytest

    SF = "/root/testdata/sf0.001"
    if not os.path.isdir(SF):
        pytest.skip("driver testdata absent")
    import duckdb

    from create_proposals_using_vector_db_public_spark.plans import QUERIES
    from create_proposals_using_vector_db_public_spark.plans.scale_queries import (
        _KMV_K,
        _KMV_NUM,
    )

    raw = duckdb.sql(
        f"SELECT strftime(date_trunc('quarter', l_shipdate), '%Y-%m') q, "
        f"l_partkey FROM '{SF}/lineitem.parquet'"
    ).fetchall()
    per_q: dict[str, set[int]] = {}
    for q, pk in raw:
        h = int(hashlib.md5(str(pk).encode()).hexdigest()[:15], 16)
        per_q.setdefault(q, set()).add(h)
    expect = {}
    for q, hs in per_q.items():
        mins = sorted(hs)[:_KMV_K]
        if len(mins) < _KMV_K:
            est = float(len(mins))
        else:
            est = _KMV_NUM / float(mins[-1])
        expect[q] = _r6(est)  # HALF_UP like F.round, not Python round()
    got = {
        r.quarter: r.kmv_est
        for r in QUERIES["q_hll_merge"](spark, SF).collect()
    }
    assert got == expect


def test_pair_eval_is_detector_convention_invariant(spark):
    """_pair_eval must price a detector identically whether it emits
    ordered-distinct pairs, reversed pairs, or duplicates (ADVICE r2):
    canonicalization happens inside the harness."""
    import os

    import pytest

    SF = "/root/testdata/sf0.001"
    if not os.path.isdir(SF):
        pytest.skip("driver testdata absent")
    from create_proposals_using_vector_db_public_spark.plans.dedup_queries import (
        _corpus,
        _pair_eval,
    )
    from create_proposals_using_vector_db_public_spark.plans.plant import (
        PLANT_COPY_OFFSET as OFF,
    )

    corpus = _corpus(spark, SF)
    base = spark.createDataFrame(
        [(0, OFF), (50, 50 + OFF)], "id_a long, id_b long"
    )
    messy = spark.createDataFrame(
        [(OFF, 0), (0, OFF), (50, 50 + OFF), (50 + OFF, 50), (0, OFF)],
        "id_a long, id_b long",
    )
    a = _pair_eval(spark, SF, corpus, base).collect()[0]
    b = _pair_eval(spark, SF, corpus, messy).collect()[0]
    assert a.asDict() == b.asDict()
    assert a.n_emitted == 2


def _py_simhash_words(text):
    """Independent 64-bit SimHash reference: Java-\\s tokenize, md5-prefix
    word hashes, Horner 3-shingle combine, distinct, one affine mix per
    31-bit draw, per-bit majority. Mirrors the DOCUMENTED algorithm, not
    the engine's expressions — see tests/test_dedup.py for the fixed-
    corpus version; this one feeds the fuzzing property below."""
    import hashlib
    import re

    wh = [
        int(hashlib.md5(w.encode()).hexdigest()[: D.MINHASH_BASE_HEX], 16)
        for w in re.split(r"[ \t\n\x0B\f\r]+", text)
        if w
    ]
    feats = set()
    for i in range(len(wh) - 2):
        s = wh[i]
        for j in (1, 2):
            s = (s * D.SHINGLE_COMBINE + wh[i + j]) % D.MINHASH_P
        feats.add(s)
    if not feats:
        return None
    n = len(feats)
    words = [0] * D.SIMHASH_WORDS
    for b in range(D.SIMHASH_BITS):
        a, c = D.SIMHASH_MIX[b // D.SIMHASH_BITS_PER_DRAW]
        ones = sum(
            ((a * s + c) % D.MINHASH_P >> (b % D.SIMHASH_BITS_PER_DRAW)) & 1
            for s in feats
        )
        if ones * 2 > n:
            words[b // 32] |= 1 << (b % 32)
    return tuple(words)


@settings(max_examples=10, deadline=None)
@given(_TEXTS)
def test_simhash_signatures_match_python_reference_fuzzed(spark, texts):
    """64-bit SimHash vs the independent Python reference over adversarial
    text (whitespace runs, CJK, NBSP-class unicode): the engine and its
    DuckDB oracle MIRROR each other, so only a third implementation can
    catch a shared contract bug — especially the tokenizer-separator class
    this generator attacks. Docs with < 3 words have no shingles and must
    be ABSENT from the signature output (documented contract)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: (r["sh0"], r["sh1"])
        for r in D.simhash_signatures(df).collect()
    }
    for i, t in enumerate(texts):
        want = _py_simhash_words(t)
        if want is None:
            assert i not in got, (i, t, got.get(i))
        else:
            assert got.get(i) == want, (i, t)


def _py_winnow_fps(text, k=3, window=4):
    """Independent winnowing reference (MOSS over word k-grams): Java-\\s
    tokenize, md5-prefix word hashes, Horner k-shingle combine, slide a
    `window` over the shingle hashes keeping each window's min, distinct.
    Mirrors the DOCUMENTED scheme (operators/dedup.py winnow_fingerprints
    docstring), not the engine's expressions — the third implementation
    that can catch a contract bug the engine and its DuckDB oracle share.
    None = the doc has < k words and must be absent from the output."""
    import hashlib
    import re

    wh = [
        int(hashlib.md5(w.encode()).hexdigest()[: D.MINHASH_BASE_HEX], 16)
        for w in re.split(r"[ \t\n\x0B\f\r]+", text)
        if w
    ]
    if len(wh) < k:
        return None
    sh = []
    for i in range(len(wh) - k + 1):
        s = wh[i]
        for j in range(1, k):
            s = (s * D.MINHASH_A[0] + wh[i + j]) % D.MINHASH_P
        sh.append(s)
    if len(sh) >= window:
        mins = [min(sh[i : i + window]) for i in range(len(sh) - window + 1)]
    else:
        mins = [min(sh)]
    return set(mins)


@settings(max_examples=10, deadline=None)
@given(_TEXTS)
def test_winnow_fingerprints_match_python_reference_fuzzed(spark, texts):
    """Winnowed passage fingerprints vs the independent Python reference
    over adversarial text — the same third-implementation discipline the
    MinHash and SimHash families already have. Pins the guarantee the
    dedup rests on (any shared run of >= k+window-1 words yields a shared
    fingerprint) via the exact fingerprint SETS, including the two edge
    contracts: docs with < k words are ABSENT, docs with fewer than
    `window` shingles contribute their single overall min."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got: dict[int, set] = {}
    for r in D.winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in enumerate(texts):
        want = _py_winnow_fps(t)
        if want is None:
            assert i not in got, (i, t, got.get(i))
        else:
            assert got.get(i) == want, (i, t)


def _py_hyperplane_bucket(vec, band, n_planes=6):
    """Independent reference for hashed_hyperplane_bucket: the LCG ±1
    pattern ``(i*1103515245 + p*12345) // 65536 % 2`` and a left-fold IEEE
    double sum in element order. Exactness note: the engine divides by
    65536 in DOUBLE then truncates — 65536 is 2^16, so that division is an
    exact binary scaling and the truncation equals integer // for these
    non-negative operands; both engines and this reference therefore agree
    bit-for-bit, floats included."""
    out = []
    for j in range(n_planes):
        p = band * n_planes + j
        acc = 0.0
        for i, x in enumerate(vec):
            term = x if (i * 1103515245 + p * 12345) // 65536 % 2 == 0 else -x
            acc = acc + term
        out.append("1" if acc >= 0 else "0")
    return "".join(out)


_VECS = st.lists(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=16,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(_VECS)
def test_hashed_hyperplane_bucket_matches_python_reference(spark, vecs):
    """Embedding-LSH banding honesty, third-implementation style: the
    per-band sign buckets that drive q_dedup_embedding's candidate join
    must equal a from-the-docstring Python reference for arbitrary float
    vectors and multiple band indices — an 'optimized' rewrite that
    changes the fold order or the LCG pattern semantics fails here even
    if the engine and its DuckDB mirror drift together."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i: long, v: array<double>"
    )
    got = {
        r["i"]: (r["b0"], r["b1"])
        for r in df.select(
            "i",
            D.hashed_hyperplane_bucket("v", band=0).alias("b0"),
            D.hashed_hyperplane_bucket("v", band=1).alias("b1"),
        ).collect()
    }
    for i, v in enumerate(vecs):
        want = (_py_hyperplane_bucket(v, 0), _py_hyperplane_bucket(v, 1))
        assert got[i] == want, (i, v, got[i], want)


def _py_hyperplane_block(vec, n_planes):
    """Independent reference for random_hyperplane_block: plane p weighs
    element i by +1 when ``(i // 2**p) % 2 == 0`` and by -1 otherwise,
    summed left to right in IEEE double; the block is the concatenated
    '1' (sum >= 0) / '0' signs. The engine divides i by 2^p in DOUBLE
    then truncates — an exact binary scaling for these non-negative
    indices, so it equals integer //."""
    out = []
    for p in range(n_planes):
        acc = 0.0
        for i, x in enumerate(vec):
            acc = acc + (x if (i // 2**p) % 2 == 0 else -x)
        out.append("1" if acc >= 0 else "0")
    return "".join(out)


@settings(max_examples=10, deadline=None)
@given(_VECS)
def test_random_hyperplane_block_matches_python_reference(spark, vecs):
    """The parity-pattern LSH blocks behind lsh_search (q_ann_lsh) equal
    a from-the-docstring Python reference at every width 1..8 — the
    fold order, the sign convention at exactly 0 and the per-plane
    pattern are all pinned, independent of the DuckDB mirror."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i: long, v: array<double>"
    )
    widths = range(1, 9)
    got = {
        r["i"]: tuple(r[f"b{n}"] for n in widths)
        for r in df.select(
            "i",
            *[D.random_hyperplane_block("v", n).alias(f"b{n}") for n in widths],
        ).collect()
    }
    for i, v in enumerate(vecs):
        want = tuple(_py_hyperplane_block(v, n) for n in widths)
        assert got[i] == want, (i, v, got[i], want)


def _py_minhash_sig(text, num_hashes=D.MINHASH_NUM_HASHES):
    """Independent MinHash reference: Java-\\s tokenize, md5-prefix word
    hashes, Horner 3-shingle combine, min over the affine family. None =
    the doc has < 3 words (no shingles) and must be absent — the same
    documented contract the fixed-corpus pin in tests/test_dedup.py uses;
    this one feeds the fuzzing property."""
    import hashlib
    import re

    wh = [
        int(hashlib.md5(w.encode()).hexdigest()[: D.MINHASH_BASE_HEX], 16)
        for w in re.split(r"[ \t\n\x0B\f\r]+", text)
        if w
    ]
    sh = []
    for i in range(len(wh) - 2):
        s = wh[i]
        for j in (1, 2):
            s = (s * D.SHINGLE_COMBINE + wh[i + j]) % D.MINHASH_P
        sh.append(s)
    if not sh:
        return None
    return tuple(
        min(
            (D.affine_params(h)[0] * s + D.affine_params(h)[1]) % D.MINHASH_P
            for s in sh
        )
        for h in range(num_hashes)
    )


@settings(max_examples=10, deadline=None)
@given(_TEXTS)
def test_minhash_signatures_match_python_reference_fuzzed(spark, texts):
    """MinHash signatures vs the independent Python reference over
    adversarial text — completes the fuzz trio (SimHash and winnowing
    already have one): all 8 default hashes must match exactly, and docs
    with < 3 words must be absent from the signature output."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: tuple(r[f"mh{j}"] for j in range(D.MINHASH_NUM_HASHES))
        for r in D.minhash_signatures(df).collect()
    }
    for i, t in enumerate(texts):
        want = _py_minhash_sig(t)
        if want is None:
            assert i not in got, (i, t, got.get(i))
        else:
            assert got.get(i) == want, (i, t)


# (group, score) rows: 3 groups and 4 score values over up to 10 rows force
# score ties, groups smaller than k, and NULL scores
_RANKED = st.lists(
    st.tuples(st.integers(0, 2), st.one_of(st.none(), st.integers(0, 3))),
    max_size=10,
)


@settings(max_examples=10, deadline=None)
@given(_RANKED, st.integers(0, 12))
def test_top_k_helpers_match_sorted_reference(spark, rows, k):
    """top_k and top_k_per against Python sorted(): score ties broken by
    id, NULL scores last under asc_nulls_last, k of 0, 1, a drawn value
    and more than the row count, groups smaller than k. Each kept row's
    rank is its position in the order that chose it."""
    from functools import reduce

    data = [(i, g, sc) for i, (g, sc) in enumerate(rows)]
    df = spark.createDataFrame(data, "id: int, g: int, score: int")
    order = [F.col("score").asc_nulls_last(), F.col("id").asc()]
    ks = sorted({0, 1, k, len(data) + 1})
    builds = {
        "top_k": lambda n: S.top_k(df, order, n),
        "top_k_per": lambda n: S.top_k_per(df, ["g"], order, n),
    }
    parts = [
        build(n).select(F.lit(name).alias("fn"), F.lit(n).alias("k"), "id", "rank")
        for name, build in builds.items()
        for n in ks
    ]
    got = {tuple(r) for r in reduce(lambda a, b: a.union(b), parts).collect()}

    ranked = sorted(data, key=lambda r: (r[2] is None, r[2] or 0, r[0]))
    want = {("top_k", n, r[0], pos) for n in ks for pos, r in enumerate(ranked[:n], 1)}
    want |= {
        ("top_k_per", n, r[0], pos)
        for n in ks
        for g in {r[1] for r in data}
        for pos, r in enumerate([r for r in ranked if r[1] == g][:n], 1)
    }
    assert got == want


# --- whole pair detectors vs Python references ---------------------------------

# (label, nonzero 3-d int vector, add an exact copy): small integer vectors
# make hyperplane-bucket collisions, near pairs and ties common
_LABELED_VECS = st.lists(
    st.tuples(
        st.integers(0, 1),
        st.lists(st.integers(-3, 3), min_size=3, max_size=3).filter(any),
        st.booleans(),
    ),
    min_size=1,
    max_size=8,
)


def _check_pairs(rows, score, want):
    """Detector output rows against the reference ``{(id_a, id_b): score}``:
    each pair once, ordered id_a < id_b, the same pair set, scores within
    1e-6."""
    got = [(r["id_a"], r["id_b"], r[score]) for r in rows]
    assert len({(a, b) for a, b, _ in got}) == len(got), got
    assert all(a < b for a, b, _ in got), got
    assert {(a, b) for a, b, _ in got} == set(want), (got, want)
    for a, b, s in got:
        assert abs(s - want[(a, b)]) <= 1e-6, (a, b, s, want[(a, b)])


@settings(max_examples=10, deadline=None)
@given(_LABELED_VECS)
def test_embedding_near_dup_pairs_match_python_reference(spark, rows):
    """embedding_near_dup_pairs against the brute-force rule: a pair is a
    candidate when it shares a label and the hashed-hyperplane bucket of
    its normalized vectors in either band, and it is kept when the rounded
    cosine is >= 0.9. Row 0 always has an exact copy, so every example has
    a pair that collides in both bands, and it must come out once."""
    tau = 0.9
    data = []
    for i, (label, vec, copy) in enumerate(rows):
        v = [float(x) for x in vec]
        data.append((i, label, v))
        if copy or i == 0:
            data.append((100 + i, label, v))
    nv = {i: _nrm(v) for i, _, v in data}
    buckets = {
        i: [_py_hyperplane_bucket(v, b) for b in range(D.EMBED_LSH_BANDS)]
        for i, v in nv.items()
    }
    want = {}
    for i, li, _ in data:
        for j, lj, _ in data:
            if i < j and li == lj and any(
                x == y for x, y in zip(buckets[i], buckets[j])
            ):
                cos = _r6(_dot(nv[i], nv[j]))
                if cos >= tau:
                    want[(i, j)] = cos
    assert (0, 100) in want
    df = spark.createDataFrame(
        data, "vec_id: long, label: int, embedding: array<double>"
    )
    _check_pairs(
        D.embedding_near_dup_pairs(df, threshold=tau).collect(), "cosine", want
    )


# documents over a 4-word vocabulary share most of their 3-word shingles
_SMALL_CORPUS = st.lists(
    st.tuples(
        st.lists(st.sampled_from(["red", "green", "blue", "gray"]), max_size=8),
        st.booleans(),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(_SMALL_CORPUS)
def test_minhash_dedup_pairs_match_python_reference(spark, docs):
    """minhash_dedup_pairs against Python signatures (_py_minhash_sig): a
    pair is a candidate when one of the bands of num_hashes // bands
    signature values is equal, its score is the share of equal hashes,
    and it is kept at >= 0.5. Docs with fewer than 3 words have no
    signature and pair with nothing; exact copies agree in every band
    and come out once."""
    data = []
    for i, (words, copy) in enumerate(docs):
        data.append((i, " ".join(words)))
        if copy:
            data.append((100 + i, " ".join(words)))
    sigs = {i: _py_minhash_sig(t) for i, t in data}
    sigs = {i: s for i, s in sigs.items() if s is not None}
    n, r = D.MINHASH_NUM_HASHES, D.MINHASH_NUM_HASHES // D.MINHASH_BANDS
    want = {}
    for i, si in sigs.items():
        for j, sj in sigs.items():
            if i < j and any(
                si[b * r : (b + 1) * r] == sj[b * r : (b + 1) * r]
                for b in range(D.MINHASH_BANDS)
            ):
                est = _r6(sum(x == y for x, y in zip(si, sj)) / n)
                if est >= 0.5:
                    want[(i, j)] = est
    df = spark.createDataFrame(data, "doc_id: long, text: string")
    _check_pairs(
        D.minhash_dedup_pairs(df, threshold=0.5).collect(), "est_jaccard", want
    )


def _money_values(p: int, s: int):
    """Doubles for a DECIMAL(p,s) money column: cents-style exact values,
    half-unit ties and their neighbours, the fast path's 2^45 edge, the
    type's 10^(p-s) limit, signed zeros, NaN, ±inf, NULL, any double."""
    t = 10**s
    units = st.integers(-(10**12), 10**12)
    ties = units.map(lambda k: (k + 0.5) / t)
    edges = [M.FAST_UNITS_LIMIT / t, 10 ** (p - s), 10 ** (p - s) - 1 / t, 10 ** (p - s) - 0.5 / t]
    edges = [float(v) for e in edges for v in (e, -e)]
    return st.one_of(
        units.map(lambda k: k / t),
        ties,
        st.tuples(ties, st.sampled_from([-math.inf, math.inf])).map(
            lambda a: math.nextafter(*a)
        ),
        st.tuples(st.sampled_from(edges), st.sampled_from([-math.inf, 0, math.inf]))
        .map(lambda a: math.nextafter(*a) if a[1] else a[0]),
        st.sampled_from([0.0, -0.0, math.nan, math.inf, -math.inf, None]),
        st.floats(),
    )


@settings(max_examples=25, deadline=None)
@given(st.sampled_from([(14, 2), (18, 6)]).flatmap(
    lambda ps: st.tuples(
        st.just(ps),
        st.lists(st.tuples(st.integers(0, 3), _money_values(*ps)), max_size=40),
        st.booleans(),
    )
))
def test_money_units_and_sums_equal_the_decimal_cast(spark, case):
    """``s_units`` is the unscaled value of ``CAST(x AS DECIMAL(p,s))``
    and ``money_sum`` is ``money_double(F.sum(CAST(x AS DECIMAL(p,s))))``,
    per group (mixed signs; group 9 all NULL) and over the whole input
    (empty included). Under ANSI on, values the cast rejects are left
    out: they fail both forms alike."""
    (p, s), rows, ansi = case
    limit = 10 ** (p - s) - 10**-s
    if ansi:
        rows = [
            r for r in rows
            if r[1] is None or not math.isfinite(r[1]) or abs(r[1]) < limit
        ]
    rows += [(9, None), (9, None)] if rows else []
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    try:
        df = spark.createDataFrame(rows, "g: int, x: double")
        dec = f"CAST(x AS DECIMAL({p},{s}))"
        u = M.s_units("x", p, s)
        bad = df.select(
            "x", F.expr(u).alias("u"),
            F.expr(f"CAST({dec} * {10**s} AS BIGINT)").alias("ref"),
        ).filter("NOT (u <=> ref)").collect()
        assert bad == []
        new = M.money_sum(u, s).alias("new")
        ref = M.money_double(F.sum(F.expr(dec))).alias("ref")
        sums = df.groupBy("g").agg(new, ref).unionByName(
            df.agg(F.lit(-1).alias("g"), new, ref)
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    assert len(sums) == len({r[0] for r in rows}) + 1
    for r in sums:
        assert repr(r["new"]) == repr(r["ref"]), (r["g"], r["new"], r["ref"])
