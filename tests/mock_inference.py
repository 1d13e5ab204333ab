"""Deterministic mock of the HuggingFace batched-inference path.

The reference's toxicity ensemble scores texts through
``predict_batch`` (`src/localmod/classifiers/toxicity.py:191-275`):

    batch tokenize (truncation=True, max_length=256, padding=True)
      → model forward → logits
      → multilabel: sigmoid(logits).max(dim=-1)
        binary:     softmax(logits)[:, 1]
      → weighted ensemble with missing-model renormalization
        (`toxicity.py:149-173`, weights `models/paths.py:31-36`)

No model weights exist in this sandbox, so this module reproduces that
pipeline SHAPE with deterministic numpy stand-ins: a hash-vocabulary
tokenizer with the exact truncation/padding contract, and a "model"
whose logits are a fixed function of the input ids.  Every stage is
bit-reproducible across processes (zlib.crc32 + splitmix64 — no Python
``hash()``), so Spark-executor results equal driver-side recomputation
and tests can assert the full ensemble arithmetic end to end, including
the renormalization when a model "fails to load"
(`toxicity.py:113-118`: load errors are logged and the ensemble runs on
whichever models loaded).

Swapping in real inference = replacing ``MockTokenizer``/``MockModel``
with ``AutoTokenizer``/``AutoModelForSequenceClassification`` inside
``load_ensemble`` — the batching, truncation, prob-extraction and
ensemble code paths are exactly what the real path runs.
"""

from __future__ import annotations

import zlib
from typing import Dict, List, Mapping, Optional, Sequence

import numpy as np

from localmod_spark.kernel.toxicity import ENSEMBLE_WEIGHTS

# Reference model registry: name → head type (`toxicity.py:84-91`
# model_type_map — toxic-bert is multilabel, the rest binary).
TOXICITY_ENSEMBLE_MODELS: Dict[str, str] = {
    "toxicity": "multilabel",
    "toxicity_dehatebert": "binary",
    "toxicity_snlp": "binary",
    "toxicity_facebook": "binary",
}

CLS_ID, SEP_ID, PAD_ID = 101, 102, 0
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(z: np.ndarray) -> np.ndarray:
    z = (z ^ (z >> np.uint64(30))) * _MIX1
    z = (z ^ (z >> np.uint64(27))) * _MIX2
    return z ^ (z >> np.uint64(31))


class MockTokenizer:
    """Hash-vocabulary tokenizer with the HF batch contract:
    whitespace pre-tokenization, [CLS]/[SEP] specials, truncation to
    ``max_length`` INCLUDING specials, right-padding to the batch max,
    and an attention mask — the exact tensor shapes ``predict_batch``
    feeds its models."""

    def __init__(self, vocab_size: int = 30522, seed: int = 0):
        self.vocab_size = vocab_size
        self.seed = seed

    def _token_id(self, token: str) -> int:
        h = zlib.crc32(token.encode("utf-8"), self.seed)
        return 1000 + h % (self.vocab_size - 1000)

    def __call__(
        self,
        texts: Sequence[str],
        truncation: bool = True,
        max_length: int = 256,
        padding: bool = True,
    ) -> Dict[str, np.ndarray]:
        rows = []
        for t in texts:
            ids = [self._token_id(tok) for tok in t.lower().split()]
            if truncation:
                ids = ids[: max_length - 2]  # room for [CLS]/[SEP]
            rows.append([CLS_ID] + ids + [SEP_ID])
        width = max(len(r) for r in rows) if padding else max_length
        input_ids = np.full((len(rows), width), PAD_ID, dtype=np.int64)
        attention_mask = np.zeros((len(rows), width), dtype=np.int64)
        for i, r in enumerate(rows):
            input_ids[i, : len(r)] = r
            attention_mask[i, : len(r)] = 1
        return {"input_ids": input_ids, "attention_mask": attention_mask}


class MockModel:
    """Deterministic logits: per label, the masked mean of splitmix64-
    mixed (input_id, label, seed) values, scaled to a plausible logit
    range.  Not a semantic model — a fixed, fast function of the token
    ids that exercises the exact forward/prob-extraction plumbing."""

    def __init__(self, n_labels: int, seed: int):
        self.n_labels = n_labels
        self.seed = np.uint64(seed)

    def __call__(self, input_ids: np.ndarray, attention_mask: np.ndarray) -> np.ndarray:
        ids = input_ids.astype(np.uint64)
        mask = attention_mask.astype(np.float64)
        denom = np.maximum(mask.sum(axis=1), 1.0)
        logits = np.empty((ids.shape[0], self.n_labels))
        for lbl in range(self.n_labels):
            # per-label offset computed in Python ints (explicit mod-2^64
            # wrap) — numpy warns on intended uint64 scalar wraparound
            off = np.uint64(((lbl + 1) * 0x9E3779B97F4A7C15 + int(self.seed)) & 0xFFFFFFFFFFFFFFFF)
            mixed = _splitmix64(ids + off)
            # uniform in [0,1) per token, masked mean → [0,1), map to [-4, 4)
            u = (mixed >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            logits[:, lbl] = ((u * mask).sum(axis=1) / denom) * 8.0 - 4.0
        return logits


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    z = x - x.max(axis=axis, keepdims=True)
    e = np.exp(z)
    return e / e.sum(axis=axis, keepdims=True)


def sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


class MockModelBundle:
    """One ensemble member: tokenizer + model + head type, with the
    reference's per-model probability extraction
    (`toxicity.py:231-236`)."""

    def __init__(self, name: str, model_type: str, seed: int):
        if model_type not in ("multilabel", "binary"):
            raise ValueError("model_type must be 'multilabel' or 'binary'")
        self.name = name
        self.model_type = model_type
        self.tokenizer = MockTokenizer(seed=seed)
        self.model = MockModel(n_labels=6 if model_type == "multilabel" else 2, seed=seed)

    def predict_proba_batch(self, texts: Sequence[str], max_length: int = 256) -> np.ndarray:
        inputs = self.tokenizer(texts, truncation=True, max_length=max_length, padding=True)
        logits = self.model(**inputs)
        if self.model_type == "multilabel":
            return sigmoid(logits).max(axis=-1)  # `toxicity.py:232-233`
        return softmax(logits, axis=-1)[:, 1]  # `toxicity.py:234-236`


def load_ensemble(
    fail: Sequence[str] = (), models: Optional[Mapping[str, str]] = None
) -> Dict[str, MockModelBundle]:
    """Build the ensemble the way `_ensure_loaded` does
    (`toxicity.py:100-118`): attempt every registry model, keep the ones
    that load.  ``fail`` simulates load failures — those models are
    simply absent, which is what engages the ensemble's weight
    renormalization downstream."""
    registry = TOXICITY_ENSEMBLE_MODELS if models is None else models
    loaded: Dict[str, MockModelBundle] = {}
    for i, (name, mtype) in enumerate(registry.items()):
        if name in fail:
            continue  # reference logs a warning and continues
        loaded[name] = MockModelBundle(name, mtype, seed=7 + i)
    if not loaded:
        raise RuntimeError("No toxicity models could be loaded")  # `toxicity.py:117-118`
    return loaded


def batch_prob_fns(
    bundles: Mapping[str, MockModelBundle],
) -> Dict[str, "callable"]:
    """Per-model BATCHED scorers (list[str] → prob array) for
    ``PipelineConfig.toxicity_model_batch_fns`` — one tokenize→forward
    per model per Arrow batch, the reference's ``predict_batch`` shape.
    Bundles are tiny deterministic objects, so shipping them inside the
    UDF closure is free; a real-model version loads lazily at module
    scope per worker instead (SURVEY §7.4/S5)."""
    return {
        name: (lambda texts, _b=bundle: _b.predict_proba_batch(texts))
        for name, bundle in bundles.items()
    }


def scalar_prob_fns(
    bundles: Mapping[str, MockModelBundle],
) -> Dict[str, "callable"]:
    """Per-model per-text scorers for ``PipelineConfig.toxicity_model_fns``
    (the scalar path; decision-identical to the batch path)."""
    return {
        name: (lambda text, _b=bundle: float(_b.predict_proba_batch([text])[0]))
        for name, bundle in bundles.items()
    }
