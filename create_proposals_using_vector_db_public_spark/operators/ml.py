"""ML-backed operators: the real (non-oracle) embedder/keyword/generation
paths of the reference, as Arrow-batched pandas UDFs.

Reference parity:
- R7  embedder: LaBSE mean-pooled last_hidden_state, float32[768], CPU
  (``app.py:62-67``, ``app_callapi.py:110-115``; v2 truncates at 512
  tokens). Here: a pandas_udf with an executor-side lazy model singleton;
  when transformers/torch are unavailable (this container), a deterministic
  hash-based fallback with the same API shape keeps the plumbing testable.
- R8  empty text → zero vector (``app_callapi.py:112``).
- R15 keywords: KeyBERT top-8, falling back to the first 8 tokens on any
  exception (``app_callapi.py:149-152``).
- R23 LLM generation (gpt-4o-mini, temp 0.2, 1200 tok —
  ``app_callapi.py:244``): driver-side, gated on OPENAI_API_KEY exactly as
  the reference gates (``app_callapi.py:27-30,253``); never called in CI.
- R26 DOCX export: python-docx when available, else a clearly-marked stub.

Batching (Arrow) is the single biggest improvement over the reference,
which embeds row-at-a-time (``app.py:101``) — SURVEY §4. The model loads
once per Python worker (lazy singleton), the reference's
``st.cache_resource`` equivalent.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType, StringType

EMBED_DIM = 768
EMBED_MAX_TOKENS = 512  # the reference's v2 truncation
_MODEL_SINGLETON: dict[str, object] = {}


def _load_model():
    """Executor-side lazy singleton (R28's st.cache_resource). Returns the
    (tokenizer, model) pair, or None when the ML stack is absent."""
    if "model" not in _MODEL_SINGLETON:
        try:
            import torch  # noqa: F401
            from transformers import AutoModel, AutoTokenizer

            tok = AutoTokenizer.from_pretrained("sentence-transformers/LaBSE")
            model = AutoModel.from_pretrained("sentence-transformers/LaBSE")
            model.eval()
            _MODEL_SINGLETON["model"] = (tok, model)
        except Exception:
            _MODEL_SINGLETON["model"] = None
    return _MODEL_SINGLETON["model"]


def model_path_possible() -> bool:
    """True when torch+transformers are importable in THIS Python env —
    i.e. the embedder's model path MAY run on executors. Deliberately an
    importability probe (``find_spec``, no import, no weight download),
    not a driver-side ``_load_model()``: the UDF loads the model in
    executor workers, so a driver probe that actually loads would (a)
    pull multi-GB weights at plan-build time and (b) still be able to
    disagree with what workers do. Callers keying invariants on this get
    the CONSERVATIVE answer: importable ⇒ assume the model path may run
    and apply only path-shared invariants; not importable ⇒ workers in
    the same env must fall back, so fallback-only invariants (exact unit
    norm, exact self-distance 0) are safe."""
    import importlib.util

    try:
        return (
            importlib.util.find_spec("torch") is not None
            and importlib.util.find_spec("transformers") is not None
        )
    except (ImportError, ValueError):
        return False


def _hash_embed_batch(texts: pd.Series, dim: int) -> pd.Series:
    """Deterministic fallback embedder: seeds a per-text RNG from sha256 and
    draws a unit vector. Same shape/dtype/zero-for-empty contract as the
    model path, so every downstream operator exercises identically."""

    def one(t: str | None) -> list[float]:
        if not t:
            return [0.0] * dim  # R8
        seed = int.from_bytes(hashlib.sha256(t.encode()).digest()[:8], "big")
        rng = np.random.default_rng(seed)
        v = rng.standard_normal(dim).astype(np.float32)
        v /= np.linalg.norm(v) or 1.0
        return [float(x) for x in v]

    return texts.map(one)


def _model_embed_batch(bundle, texts: pd.Series, dim: int) -> pd.Series:
    """Model-path batch embedding: ONE tokenizer call + ONE forward pass
    per Arrow batch — the whole point of the pandas_udf over the
    reference's row-at-a-time loop (app.py:101; SURVEY §4: batching is
    the single biggest speedup). Empty texts get zero vectors (R8)
    without entering the model. Module-level (not a UDF closure) so the
    masked-mean math is unit-testable with a fake (tok, model) bundle —
    the branch stays covered even while the container lacks the real
    stack (VERDICT r2 item 4)."""
    import torch

    tok, model = bundle
    vals = ["" if t is None else str(t) for t in texts]
    nonempty = [i for i, t in enumerate(vals) if t]
    # independent rows, not N references to one shared zero list — an
    # in-place write through an alias would corrupt every zero row
    out: list[list[float]] = [[0.0] * dim for _ in vals]
    if nonempty:
        with torch.no_grad():
            enc = tok(
                [vals[i] for i in nonempty],
                return_tensors="pt",
                truncation=True,
                padding=True,
                max_length=EMBED_MAX_TOKENS,
            )
            hidden = model(**enc).last_hidden_state
            # attention-masked mean pool: padded positions must not
            # dilute the mean (a plain .mean(dim=1) would — padding is
            # per-batch here, unlike the reference's single-row calls)
            mask = enc["attention_mask"].unsqueeze(-1).to(hidden.dtype)
            pooled = (hidden * mask).sum(dim=1) / mask.sum(dim=1).clamp(min=1)
            vecs = pooled.float().cpu().numpy()
        if vecs.shape[1] != dim:
            # fail loudly: silently mixing model-width vectors with
            # dim-width zero vectors would poison every downstream
            # zip_with distance (NULLs) — the caller asked for `dim`
            raise ValueError(
                f"embedder dim mismatch: requested {dim}, model "
                f"produces {vecs.shape[1]} — pass dim="
                f"{vecs.shape[1]} (or none) when the real model is "
                "available"
            )
        for row, i in enumerate(nonempty):
            out[i] = [float(x) for x in vecs[row]]
    return pd.Series(out)


def embedder_udf(dim: int = EMBED_DIM):
    """pandas_udf returning array<float> embeddings. Model path (inputs
    truncated at ``EMBED_MAX_TOKENS``) when the ML stack exists; hash
    fallback otherwise. Always zero-vector for empty text (R8)."""

    @pandas_udf(ArrayType(FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        bundle = _load_model()
        if bundle is None:
            return _hash_embed_batch(texts, dim)
        return _model_embed_batch(bundle, texts, dim)

    return embed


def _keybert_extract_batch(
    kw_model, texts: pd.Series, top_n: int
) -> pd.Series:
    """KeyBERT-path batch keyword extraction: ONE ``extract_keywords``
    call over the document LIST per Arrow batch (the same batching
    discipline as embedder_udf — the reference calls the model per row,
    ``app_callapi.py:110-115``). Empty/None texts yield []; a model
    exception degrades to the reference's own fallback — first top_n
    whitespace tokens (``app_callapi.py:149-152``) — per batch.
    Module-level (not a UDF closure) so the list-input normalization and
    the exception fallback are unit-testable with a fake model while the
    container lacks keybert."""
    vals = ["" if t is None else str(t) for t in texts]
    nonempty = [i for i, t in enumerate(vals) if t]
    out: list[list[str]] = [[] for _ in vals]
    if nonempty:
        try:
            batch = kw_model.extract_keywords(
                [vals[i] for i in nonempty],
                keyphrase_ngram_range=(1, 2),
                top_n=top_n,
            )
            # list-input returns list-of-lists; a single-doc list returns
            # a FLAT pair list in some versions — including [] when the
            # model finds no keywords (which must stay [], not fall
            # through to batch[0] -> IndexError -> token fallback)
            if len(nonempty) == 1 and (
                not batch or isinstance(batch[0], tuple)
            ):
                batch = [batch]
            for row, i in enumerate(nonempty):
                out[i] = [k for k, _ in batch[row]]
        except Exception:
            for i in nonempty:
                out[i] = _token_fallback(vals[i], top_n)
    return pd.Series(out)


def _token_fallback(t, top_n: int) -> list[str]:
    """The reference's own keyword fallback — first top_n whitespace
    tokens (``app_callapi.py:152``) — single-sourced for both the
    import-failure and model-exception degradation sites."""
    return ("" if t is None else str(t)).split()[:top_n]


def keyword_udf(top_n: int = 8):
    """pandas_udf keyword extraction: KeyBERT (ngram 1-2, top-8) when
    available; the reference's own fallback (``_token_fallback``) on
    import failure (whole series) or model exception (every nonempty row
    of the failing Arrow batch — the batched extract call degrades
    per batch, not per row)."""

    @pandas_udf(ArrayType(StringType()))
    def keywords(texts: pd.Series) -> pd.Series:
        try:
            from keybert import KeyBERT  # noqa: F401

            if "kw" not in _MODEL_SINGLETON:
                _MODEL_SINGLETON["kw"] = KeyBERT()
            return _keybert_extract_batch(
                _MODEL_SINGLETON["kw"], texts, top_n
            )
        except Exception:
            return texts.map(lambda t: _token_fallback(t, top_n))

    return keywords


def with_embeddings(df, dim: int = EMBED_DIM):
    """Attach an ``embedding`` of the ``text`` column. Discipline from
    SURVEY §4: call this AFTER all dedup/filter stages — Catalyst will not
    reorder a nondeterministic Python UDF past a join, so placement in the
    pipeline is placement in the plan."""
    return df.withColumn("embedding", embedder_udf(dim)(F.col("text")))


# --- R22/R23/R24: generation path (driver-side, key-gated) ------------------

PROMPT_TEMPLATE = (
    "You are a proposal writer.\n"
    "Keywords: {keywords}\nNotes: {notes}\n"
    "Respond with a [PLAN] section then a [MERMAID] section."
)


def build_prompt(keywords: list[str], notes: str) -> str:
    return PROMPT_TEMPLATE.format(keywords=", ".join(keywords), notes=notes)


GEN_MODEL = "gpt-4o-mini"
GEN_TEMPERATURE = 0.2
GEN_MAX_TOKENS = 1200


def generate_proposal(prompt: str) -> str:
    """R23: one chat completion with the reference's call shape
    (``GEN_MODEL``, ``GEN_TEMPERATURE``, ``GEN_MAX_TOKENS``). Requires
    OPENAI_API_KEY (the reference's guard,
    ``app_callapi.py:27-30``); raises cleanly without it — CI never needs a
    key or the network."""
    if not os.environ.get("OPENAI_API_KEY"):
        raise RuntimeError(
            "OPENAI_API_KEY not set — generation is disabled (matches the "
            "reference's key guard)."
        )
    from openai import OpenAI

    client = OpenAI()
    resp = client.chat.completions.create(
        model=GEN_MODEL,
        messages=[{"role": "user", "content": prompt}],
        temperature=GEN_TEMPERATURE,
        max_tokens=GEN_MAX_TOKENS,
    )
    return resp.choices[0].message.content


def split_sections(response: str) -> tuple[str, str]:
    """R24: '[MERMAID]' split; tolerate a missing delimiter instead of the
    reference's 2-tuple unpack crash (``app_callapi.py:246-247``)."""
    parts = response.split("[MERMAID]", 1)
    plan = parts[0].replace("[PLAN]", "").strip()
    mermaid = parts[1].strip() if len(parts) > 1 else ""
    return plan, mermaid


def export_docx(plan_text: str) -> bytes:
    """R26: DOCX export via python-docx when present; otherwise a
    clearly-marked plain-bytes stub so pipelines remain runnable."""
    try:
        import io

        from docx import Document

        doc = Document()
        for line in plan_text.splitlines():
            doc.add_paragraph(line)
        buf = io.BytesIO()
        doc.save(buf)
        return buf.getvalue()
    except ImportError:
        return ("[docx-stub]\n" + plan_text).encode("utf-8")
