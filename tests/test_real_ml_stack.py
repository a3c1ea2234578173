"""Gated real-ML-stack tests (VERDICT r2 item 4).

The container ships no torch/transformers/keybert/fitz/python-docx, so
the model branches of R3/R4/R7/R15 always degrade to their deterministic
fallbacks in CI. These tests exercise the dormant branches anyway:

- the masked-mean batched forward (`operators/ml.py::_model_embed_batch`)
  runs against a FAKE (tokenizer, model) bundle whenever torch alone is
  importable — the math is covered without network or model weights;
- the remaining tests skip cleanly today and light up automatically the
  day the environment gains the real stack (keybert, fitz, python-docx,
  a loadable sentence-transformers/LaBSE).

Reference behavior being pinned: app.py:62-67 (embedding model),
app_callapi.py:110-115 (KeyBERT), app.py:17-39 (PyMuPDF/python-docx).
"""

import importlib.util
import os

import pytest


def _importable(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except (ImportError, ValueError):
        return False


HAS_TORCH = _importable("torch")
HAS_TRANSFORMERS = HAS_TORCH and _importable("transformers")
HAS_KEYBERT = _importable("keybert")
HAS_FITZ = _importable("fitz")
HAS_DOCX = _importable("docx")

REF_DOCS = "/root/reference/documents"


@pytest.mark.skipif(not HAS_TORCH, reason="torch not importable")
def test_model_embed_batch_masked_mean_fake_bundle():
    """The batched model path: one tokenizer call, one forward, masked
    mean pooling, R8 zero-for-empty — verified against hand-computed
    expectations with a fake bundle (no network, no weights)."""
    import numpy as np
    import pandas as pd
    import torch

    from create_proposals_using_vector_db_public_spark.operators.ml import _model_embed_batch

    DIM = 4

    class FakeTok:
        def __call__(self, texts, return_tensors, truncation, padding,
                     max_length):
            assert return_tensors == "pt" and truncation and padding
            lens = [min(max(len(t.split()), 1), max_length) for t in texts]
            L = max(lens)
            ids = torch.zeros(len(texts), L, dtype=torch.long)
            mask = torch.zeros(len(texts), L, dtype=torch.long)
            for i, n in enumerate(lens):
                mask[i, :n] = 1
            return {"input_ids": ids, "attention_mask": mask}

    class FakeModel:
        class _Out:
            def __init__(self, h):
                self.last_hidden_state = h

        def __call__(self, input_ids, attention_mask):
            B, L = input_ids.shape
            # position-dependent hidden states so masking actually matters
            h = (
                torch.arange(B * L * DIM, dtype=torch.float32)
                .reshape(B, L, DIM)
            )
            return self._Out(h)

    texts = pd.Series(["one two three", "", None, "single"])
    out = _model_embed_batch((FakeTok(), FakeModel()), texts, DIM)

    # R8: empty and None rows are exact zero vectors, never model output
    assert out[1] == [0.0] * DIM and out[2] == [0.0] * DIM
    # masked mean: row 0 has 3 real tokens of max-len L=3; row "single"
    # (batch row 1 of the nonempty sub-batch) has 1 real token — padded
    # positions must not dilute the mean
    L = 3
    h = np.arange(2 * L * DIM, dtype=np.float32).reshape(2, L, DIM)
    exp0 = h[0, :3].mean(axis=0)
    exp1 = h[1, :1].mean(axis=0)  # only the first position is unmasked
    assert np.allclose(out[0], exp0)
    assert np.allclose(out[3], exp1)

    # dim-mismatch guard fails loudly rather than emitting ragged vectors
    with pytest.raises(ValueError, match="dim mismatch"):
        _model_embed_batch((FakeTok(), FakeModel()), texts, DIM + 1)


@pytest.mark.skipif(
    not HAS_TRANSFORMERS, reason="torch+transformers not importable"
)
def test_embedder_model_path_end_to_end(spark):
    """When the real stack (and LaBSE weights) are available, the Spark
    UDF takes the model branch: vectors are non-zero for text, zero for
    empty, and every row has the model's native width."""
    from pyspark.sql import functions as F

    from create_proposals_using_vector_db_public_spark.operators import ml

    if ml._load_model() is None:
        pytest.skip("transformers importable but model not loadable")
    d = spark.createDataFrame(
        [(0, "hello world"), (1, "")], "id long, text string"
    )
    rows = (
        d.select("id", ml.embedder_udf(dim=768)(F.col("text")).alias("v"))
        .collect()
    )
    by_id = {r.id: r.v for r in rows}
    assert len(by_id[0]) == 768 and any(x != 0.0 for x in by_id[0])
    assert by_id[1] == [0.0] * 768


@pytest.mark.skipif(not HAS_KEYBERT, reason="keybert not importable")
def test_keyword_udf_keybert_branch(spark):
    """KeyBERT branch of R15: at most top_n keywords, all non-empty,
    drawn from the document's own vocabulary (1-2-grams)."""
    from pyspark.sql import functions as F

    from create_proposals_using_vector_db_public_spark.operators import ml

    text = "spark engines shuffle data between executors for joins"
    d = spark.createDataFrame([(0, text)], "id long, text string")
    rows = d.select(ml.keyword_udf(5)(F.col("text")).alias("kw")).collect()
    kws = rows[0].kw
    assert 1 <= len(kws) <= 5
    vocab = set(text.split())
    for k in kws:
        assert k and all(w in vocab for w in k.split())


@pytest.mark.skipif(not HAS_FITZ, reason="PyMuPDF (fitz) not importable")
def test_pdf_extract_real_parser():
    """R3 with the real parser: a PyMuPDF-authored one-page PDF round-trips
    its text through _extract_pdf (no UTF-8 fallback involved)."""
    import fitz

    from create_proposals_using_vector_db_public_spark.sources.binaryfile import _extract_pdf

    doc = fitz.open()
    page = doc.new_page()
    page.insert_text((72, 72), "hello from a real pdf")
    data = doc.tobytes()
    out = _extract_pdf(data)
    assert "hello from a real pdf" in out


@pytest.mark.skipif(not HAS_DOCX, reason="python-docx not importable")
@pytest.mark.skipif(
    not os.path.isdir(REF_DOCS), reason="reference documents absent"
)
def test_docx_extract_real_parser_over_reference_corpus():
    """R4 with the real parser, over the reference's own .docx corpus:
    _extract_docx must equal python-docx's paragraph join exactly (and
    NOT the UTF-8-fallback mojibake of raw zip bytes)."""
    import io

    from docx import Document

    from create_proposals_using_vector_db_public_spark.sources.binaryfile import _extract_docx

    names = sorted(
        n for n in os.listdir(REF_DOCS)
        if n.endswith(".docx") and not n.startswith("~$")
    )
    assert names, "reference corpus unexpectedly empty"
    for name in names[:3]:
        with open(os.path.join(REF_DOCS, name), "rb") as f:
            data = f.read()
        expected = "\n".join(
            p.text for p in Document(io.BytesIO(data)).paragraphs
        )
        assert _extract_docx(data) == expected
        # a real parse never contains the zip magic of the raw container
        assert not _extract_docx(data).startswith("PK")


def test_keybert_extract_batch_with_fake_model():
    """The dormant KeyBERT branch's batch plumbing, verified without
    keybert: one list-input call per batch, flat-pair-list normalization
    (single-doc KeyBERT versions), [] for empty/None, and per-batch
    degradation to the reference's first-top_n-tokens fallback when the
    model raises."""
    import pandas as pd

    from create_proposals_using_vector_db_public_spark.operators.ml import _keybert_extract_batch

    calls = []

    class FakeKB:
        def extract_keywords(self, docs, keyphrase_ngram_range, top_n):
            calls.append(list(docs))
            assert keyphrase_ngram_range == (1, 2)
            return [
                [(f"kw{j}_{i}", 0.9 - 0.1 * j) for j in range(min(top_n, 2))]
                for i in range(len(docs))
            ]

    texts = pd.Series(["alpha beta", "", None, "gamma"])
    out = _keybert_extract_batch(FakeKB(), texts, top_n=3)
    assert len(calls) == 1 and calls[0] == ["alpha beta", "gamma"]
    assert list(out[0]) == ["kw0_0", "kw1_0"]
    assert list(out[1]) == [] and list(out[2]) == []
    assert list(out[3]) == ["kw0_1", "kw1_1"]

    class FlatKB:  # single-doc list returns a flat pair list in some versions
        def extract_keywords(self, docs, keyphrase_ngram_range, top_n):
            assert len(docs) == 1
            return [("solo", 0.9)]

    out2 = _keybert_extract_batch(FlatKB(), pd.Series(["one doc"]), top_n=3)
    assert list(out2[0]) == ["solo"]

    class BrokenKB:
        def extract_keywords(self, docs, keyphrase_ngram_range, top_n):
            raise RuntimeError("model exploded")

    out3 = _keybert_extract_batch(
        BrokenKB(), pd.Series(["a b c d e", ""]), top_n=3
    )
    assert list(out3[0]) == ["a", "b", "c"]  # reference fallback, top_n-capped
    assert list(out3[1]) == []


def test_keybert_zero_keyword_single_doc_stays_empty():
    """A flat-list KeyBERT version returning [] for a single doc with no
    extractable keywords must yield [] — not IndexError-degrade to the
    whitespace-token fallback (review r3 pass 3)."""
    import pandas as pd

    from create_proposals_using_vector_db_public_spark.operators.ml import _keybert_extract_batch

    class EmptyFlatKB:
        def extract_keywords(self, docs, keyphrase_ngram_range, top_n):
            assert len(docs) == 1
            return []  # flat form, zero keywords found

    out = _keybert_extract_batch(
        EmptyFlatKB(), pd.Series(["stopword only text"]), top_n=3
    )
    assert list(out[0]) == []
