"""Text function semantics, including the reference's substring-stopword
trap (R16) and order-preserving array ops."""

from pyspark.sql import functions as F

from create_proposals_using_vector_db_public_spark.functions import text as T


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).head()["v"]


def test_tokens_trims_and_drops_empty(spark):
    assert _one(spark, T.tokens(F.lit("  a  b \n c  "))) == ["a", "b", "c"]
    assert _one(spark, T.tokens(F.lit(""))) == []


def test_keyword_fallback_first_n(spark):
    out = _one(spark, T.keyword_fallback(F.lit("one two three four"), 2))
    assert out == ["one", "two"]  # app_callapi.py:152


def test_stopword_filter_substring_semantics(spark):
    # R16 (app.py:110): 'a' as a stopword kills ANY keyword CONTAINING 'a'
    # — 'table' and 'data' die, 'cost' survives. Token-equality would keep
    # 'table'. This asymmetry is the reference's actual behavior.
    kws = F.array(F.lit("table"), F.lit("data"), F.lit("cost"), F.lit("sum"))
    out = _one(spark, T.stopword_filter(kws, ["a"]))
    assert out == ["cost", "sum"]


def test_char_ngrams(spark):
    assert _one(spark, T.char_ngrams(F.lit("abcd"), 3)) == ["abc", "bcd"]
    assert _one(spark, T.char_ngrams(F.lit("ab"), 3)) == []


def test_word_shingles(spark):
    out = _one(spark, T.word_shingles(F.lit("a b c d"), 3))
    assert out == ["a b c", "b c d"]
    assert _one(spark, T.word_shingles(F.lit("a b"), 3)) == []


def test_stub_embedding_counts_tokens(spark):
    docs = spark.createDataFrame([(1, "x y z x")], "doc_id long, text string")
    emb = T.stub_embeddings_df(docs).head()["emb"]
    assert len(emb) == 16
    assert sum(emb) == 4.0  # each token lands in exactly one bucket


def test_quality_score_bounds(spark):
    lo = _one(spark, T.quality_score(F.lit("!!! ??? ...")))
    hi = _one(
        spark,
        T.quality_score(F.lit(("the quick brown fox is in the barn and it " * 8))),
    )
    assert 0.0 <= lo < hi <= 1.0


def test_fingerprint_normalizes_whitespace_and_case(spark):
    a = _one(spark, T.fingerprint(F.lit("Hello   World")))
    b = _one(spark, T.fingerprint(F.lit("hello world")))
    c = _one(spark, T.fingerprint(F.lit("hello worlds")))
    assert a == b != c


def test_bpe_ish_token_count(spark):
    # 'abcd'->1, 'abcde'->2, 'x'->1
    assert _one(spark, T.bpe_ish_token_count(F.lit("abcd abcde x"))) == 4


def test_lang_id_branches(spark):
    assert _one(spark, T.lang_id(F.lit("the cat is in the house and it is"))) == "en"
    assert _one(spark, T.lang_id(F.lit("한국어 텍스트"))) == "cjk"
    assert _one(spark, T.lang_id(F.lit("café résumé déjà"))) == "latin-other"
    assert _one(spark, T.lang_id(F.lit("xyz qrs"))) == "unknown"
