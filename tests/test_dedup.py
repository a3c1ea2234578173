"""Dedup operator behavior on planted duplicates."""

from create_proposals_using_vector_db_public_spark.operators import dedup as D

TEXT = (
    "spark query engine with columnar execution and vectorized operators "
    "running distributed scans joins aggregations windows and shuffles "
    "over partitioned parquet data at large scale with adaptive execution"
)
OTHER = (
    "completely different document about cooking pasta with tomatoes basil "
    "and olive oil simmered slowly then served with fresh bread and wine "
    "for a relaxed dinner among friends on a warm summer evening outside"
)


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, TEXT),
            (2, TEXT),  # exact dup of 1
            (3, TEXT + " extra tail words"),  # near dup of 1
            (4, OTHER),
        ],
        "doc_id: long, text: string",
    )


def test_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "k"), (2, "k"), (3, "j")], "doc_id: long, key: string"
    )
    kept = sorted(
        r["doc_id"] for r in D.keep_first(df, ["key"], "doc_id").collect()
    )
    assert kept == [1, 3]


def test_minhash_finds_planted_dups_not_distinct_docs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_dedup_pairs(_corpus(spark), threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical signatures
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs


def test_simhash_identical_docs_hamming_zero(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_dedup_pairs(_corpus(spark), max_hamming=64).collect()
    }
    assert pairs[(1, 2)] == 0
    # near-dup is close, unrelated doc is not (distances over 64 bits)
    if (1, 3) in pairs:
        assert pairs[(1, 3)] <= 16
    assert pairs.get((1, 4), 65) > 16 or (1, 4) not in pairs


def test_ngram_jaccard(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            _corpus(spark), threshold=0.0, block_chars=20
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.5 < pairs[(1, 3)] < 1.0  # near dup shares the 20-char block


def test_embedding_near_dup_blocked(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.001], 0),   # near dup, same block
            (3, [0.0, 1.0], 0),     # same block, dissimilar
            (4, [1.0, 0.0], 1),     # identical but different block — unseen
        ],
        "vec_id: long, embedding: array<double>, label: int",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert (1, 3) not in pairs
    assert (1, 4) not in pairs  # blocking bounds the pair space


def test_simhash_signature_deterministic(spark):
    a = D.simhash_signatures(_corpus(spark)).collect()
    b = D.simhash_signatures(_corpus(spark)).collect()
    key = lambda r: (r["sh0"], r["sh1"])  # noqa: E731
    assert {r["doc_id"]: key(r) for r in a} == {r["doc_id"]: key(r) for r in b}


def test_simhash_64_bits_are_honest(spark):
    """The two 32-bit words must come from INDEPENDENT draws: under the
    old b % 32 duplication a '64-bit' signature had sh1 == a masked copy
    of sh0's bit pattern, so the halves never disagreed. Words live in
    [0, 2^32) (no sign bit ever set), and at least one fixture doc must
    have sh0 != sh1-reinterpreted bits (i.e. the halves genuinely differ)."""
    rows = D.simhash_signatures(_corpus(spark)).collect()
    assert rows
    for r in rows:
        assert 0 <= r["sh0"] < (1 << 32) and 0 <= r["sh1"] < (1 << 32)
    # independence smoke: the low 31 bits of the two words differ for at
    # least one doc (a duplicated hash family would make them identical
    # for EVERY doc, since bits 32..62 would replay bits 0..30)
    mask = (1 << 31) - 1
    assert any((r["sh0"] & mask) != (r["sh1"] & mask) for r in rows)


def test_minhash_nondefault_production_params(spark):
    """The 8-hash/2-band default fits the oracle; real 100 TB recall wants
    wider configs (128/16-class). Run the full pipeline at a non-default
    16-hash/4-band setting: the affine family must extend past the 8
    published constants and identical docs must still collide in every
    band."""
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_dedup_pairs(
            _corpus(spark), threshold=0.5, num_hashes=16, bands=4
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs agree on all 16 hashes
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_affine_params_distinct_and_bounded():
    seen = set()
    for j in range(128):
        a, b = D.affine_params(j)
        assert (a, b) not in seen
        seen.add((a, b))
        # products must stay far below int64 overflow in ANSI/DuckDB math
        assert a * D.MINHASH_P < 2**62 and b < D.MINHASH_P


def test_dup_clusters_label_propagation(spark):
    # chain 1-2, 2-5 plus isolated pair 7-9: components {1,2,5} and {7,9}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (7, 9)], "id_a: long, id_b: long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dup_clusters(pairs, rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 5: 1, 7: 7, 9: 7}


def test_winnow_finds_copied_passage(spark):
    """Winnowing guarantee: a shared substring of length >= k+w-1 (here 8)
    yields a shared fingerprint — docs that share a PASSAGE pair up even
    when the rest of the text differs completely."""
    passage = "the quick brown fox jumps over the lazy dog near the river"
    df = spark.createDataFrame(
        [
            (1, "intro words before " + passage + " and some closing text"),
            (2, passage + " entirely different continuation follows here"),
            (3, "nothing in common with anything else whatsoever indeed"),
        ],
        "doc_id: long, text: string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in D.winnow_dup_pairs(df, max_df=2, min_shared=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


# --- independent pure-Python references ---------------------------------------
#
# The DuckDB oracles MIRROR the engine's construction, so a conceptual bug
# shared by both (wrong majority rule, wrong draw mapping, wrong Horner
# combine) would pass every parity sweep. These references re-derive the
# signatures from the documented algorithm with nothing but hashlib and
# integer arithmetic — a third, independent implementation.

def _py_word_hashes(text):
    import hashlib
    import re

    # split on JAVA's \s class ([ \t\n\x0B\f\r]) — Python's \s also eats
    # unicode whitespace (NBSP etc.), which Spark's tokenizer does NOT;
    # the reference must reproduce the engine contract, not Python's
    words = [w for w in re.split(r"[ \t\n\x0B\f\r]+", text) if w]
    return [
        int(hashlib.md5(w.encode()).hexdigest()[: D.MINHASH_BASE_HEX], 16)
        for w in words
    ]


def _py_shingle_hashes(text, k=3):
    wh = _py_word_hashes(text)
    out = []
    for i in range(len(wh) - k + 1):
        s = wh[i]
        for j in range(1, k):
            s = (s * D.SHINGLE_COMBINE + wh[i + j]) % D.MINHASH_P
        out.append(s)
    return out


def _py_simhash_words(text):
    feats = set(_py_shingle_hashes(text))
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


def test_simhash_signatures_match_python_reference(spark):
    got = {
        r["doc_id"]: (r["sh0"], r["sh1"])
        for r in D.simhash_signatures(_corpus(spark)).collect()
    }
    want = {
        i: _py_simhash_words(t)
        for i, t in [(1, TEXT), (2, TEXT), (3, TEXT + " extra tail words"),
                     (4, OTHER)]
    }
    assert got == want


def test_minhash_signatures_match_python_reference(spark):
    got = {
        r["doc_id"]: tuple(r[f"mh{j}"] for j in range(D.MINHASH_NUM_HASHES))
        for r in D.minhash_signatures(_corpus(spark)).collect()
    }
    want = {}
    for i, t in [(1, TEXT), (2, TEXT), (3, TEXT + " extra tail words"),
                 (4, OTHER)]:
        sh = _py_shingle_hashes(t)
        want[i] = tuple(
            min((D.affine_params(j)[0] * s + D.affine_params(j)[1])
                % D.MINHASH_P for s in sh)
            for j in range(D.MINHASH_NUM_HASHES)
        )
    assert got == want


def test_minhash_full_production_config_128_16(spark):
    """The documented 100 TB config (128 hashes / 16 bands) end-to-end:
    the affine family must stay exact (no ANSI overflow) and identical
    docs must still agree on all 128 hashes. This is the config the
    wide-eval query prices at 16/4 — here the full-width pipeline is
    proven runnable, not just its constants bounded."""
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_dedup_pairs(
            _corpus(spark), threshold=0.5, num_hashes=128, bands=16
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_pair_self_join_is_built_only_in_bucket_pairs():
    """Candidate pairs are built one way: among operators/*.py, the merge
    hint and a pair filter occur once each, inside dedup._bucket_pairs. A
    pair filter is an id column compared less-than its ``_b`` copy
    (``id_a < id_b``, ``__id < __id_b``), as a ``F.col`` comparison or in
    a SQL string. Read from the source, so no Spark session is needed."""
    import ast
    import glob
    import os
    import re

    pair_sql = re.compile(r"\b(\w*id\w*?)(_a)?\s*<\s*\1_b\b")

    def is_pair(left, right):
        return (
            isinstance(left, str)
            and isinstance(right, str)
            and "id" in left
            and right in (left + "_b", left.removesuffix("_a") + "_b")
        )

    def col_name(node):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "col"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            return node.args[0].value
        return None

    def is_merge_hint(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "hint"
            and any(
                isinstance(a, ast.Constant) and a.value == "merge"
                for a in node.args
            )
        )

    def is_pair_filter(node):
        # a SQL string counts too; docstrings are prose
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return bool(pair_sql.search(node.value)) and id(node) not in docs
        return (
            isinstance(node, ast.Compare)
            and len(node.ops) == 1
            and isinstance(node.ops[0], ast.Lt)
            and is_pair(col_name(node.left), col_name(node.comparators[0]))
        )

    found = {"hint": [], "filter": []}
    operators = os.path.dirname(D.__file__)
    for path in sorted(glob.glob(os.path.join(operators, "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        docs = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.FunctionDef, ast.ClassDef))
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        module = os.path.basename(path)[: -len(".py")]
        for top in tree.body:
            owner = getattr(top, "name", None)
            for node in ast.walk(top):
                if is_merge_hint(node):
                    found["hint"].append((module, owner))
                if is_pair_filter(node):
                    found["filter"].append((module, owner))
    assert found["hint"] == [("dedup", "_bucket_pairs")]
    assert found["filter"] == [("dedup", "_bucket_pairs")]
