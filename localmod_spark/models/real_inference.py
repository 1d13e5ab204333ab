"""Env-gated REAL HuggingFace inference for the O3/O6 probability slots.

The test fake (``tests/mock_inference.py``) drives the exact batched
tokenize → truncate(256) → forward → sigmoid-max / softmax[:, 1] →
ensemble pipeline with deterministic stand-ins, because this sandbox has
no torch/transformers and no model downloads.  This module is the
DROP-IN proof: when (a) torch + transformers are importable and (b) the
checkpoints exist under a local model directory, it builds batch scorers
with the exact signature ``PipelineConfig.toxicity_model_batch_fns``
expects — otherwise every entry point returns ``None`` and callers keep
the mocks / pattern-only modes.

Resolution mirrors the reference's ``get_classifier_model_path``
(`src/localmod/models/paths.py:96-120`): a base dir (argument or the
``LOCALMOD_SPARK_MODEL_DIR`` env var) holding one subdirectory per
registry model; a missing subdir means that ensemble member simply
doesn't load, which engages the ensemble's weight renormalization
(`src/localmod/classifiers/toxicity.py:113-118,172-173`) — the same
degradation path the mocks test with ``fail=...``.

Executor model lifecycle: the returned scorers hold only the checkpoint
PATH; the tokenizer/model load lazily at first call and cache at module
scope per Python worker (the reference's lazy-load pattern,
`src/localmod/models/base.py:82-85`, adapted to long-lived pandas-UDF
workers — SURVEY §7.4/S5).
"""

from __future__ import annotations

import os
from typing import Callable, Dict, List, Optional

MODEL_DIR_ENV = "LOCALMOD_SPARK_MODEL_DIR"

# registry name → (checkpoint subdir, head type); subdir names follow the
# final path component of the reference's HF ids (`models/paths.py:17-25`),
# head types per the reference's model_type_map (`toxicity.py:84-91`).
TOXICITY_CHECKPOINTS: Dict[str, tuple] = {
    "toxicity": ("toxic-bert", "multilabel"),
    "toxicity_dehatebert": ("dehatebert-mono-english", "binary"),
    "toxicity_snlp": ("roberta_toxicity_classifier", "binary"),
    "toxicity_facebook": ("roberta-hate-speech-dynabench-r4-target", "binary"),
}
NSFW_CHECKPOINT = ("NSFW_text_classifier", "binary")

# per-worker checkpoint cache: path → (tokenizer, model)
_LOADED: Dict[str, tuple] = {}


def _ml_libs():
    try:
        import torch  # noqa: F401
        import transformers  # noqa: F401

        return True
    except ImportError:
        return False


def model_base_dir(model_dir: Optional[str] = None) -> Optional[str]:
    return model_dir or os.environ.get(MODEL_DIR_ENV)


def available_toxicity_checkpoints(model_dir: Optional[str] = None) -> Dict[str, str]:
    """registry name → existing local checkpoint path (offline: a missing
    dir is an absent model, never a download)."""
    base = model_base_dir(model_dir)
    if not base or not os.path.isdir(base):
        return {}
    out = {}
    for name, (subdir, _) in TOXICITY_CHECKPOINTS.items():
        path = os.path.join(base, subdir)
        if os.path.isdir(path):
            out[name] = path
    return out


def _load(path: str):
    if path not in _LOADED:
        import torch
        from transformers import AutoModelForSequenceClassification, AutoTokenizer

        tok = AutoTokenizer.from_pretrained(path, local_files_only=True)
        model = AutoModelForSequenceClassification.from_pretrained(path, local_files_only=True)
        model.eval()
        _LOADED[path] = (tok, model, torch)
    return _LOADED[path]


def _batch_scorer(path: str, head: str, max_length: int) -> Callable[[List[str]], "object"]:
    """One tokenize→forward per call — the reference's ``predict_batch``
    (`toxicity.py:221-238`): truncation=True, max_length, padding=True,
    then sigmoid().max() for multilabel heads, softmax()[:, 1] binary."""

    def score(texts: List[str]):
        import numpy as np

        tok, model, torch = _load(path)
        with torch.no_grad():
            inputs = tok(
                list(texts),
                return_tensors="pt",
                truncation=True,
                max_length=max_length,
                padding=True,
            )
            logits = model(**inputs).logits
            if head == "multilabel":
                probs = torch.sigmoid(logits).max(dim=-1).values
            else:
                probs = torch.softmax(logits, dim=-1)[:, 1]
        return np.asarray(probs.cpu().numpy(), dtype=np.float64)

    return score


def load_real_toxicity_batch_fns(
    model_dir: Optional[str] = None, max_length: int = 256
) -> Optional[Dict[str, Callable]]:
    """Batch scorers for ``PipelineConfig.toxicity_model_batch_fns`` backed
    by real checkpoints, or ``None`` when libs/weights are absent (callers
    fall back to mocks / pattern-only — the reference's own degradation)."""
    if not _ml_libs():
        return None
    found = available_toxicity_checkpoints(model_dir)
    if not found:
        return None
    return {
        name: _batch_scorer(path, TOXICITY_CHECKPOINTS[name][1], max_length)
        for name, path in found.items()
    }


def load_real_nsfw_prob_fn(
    model_dir: Optional[str] = None, max_length: int = 512
) -> Optional[Callable[[str], float]]:
    """Per-text NSFW probability (``PipelineConfig.nsfw_prob_fn``) from the
    local NSFW text checkpoint (`src/localmod/classifiers/nsfw.py:23`),
    or ``None`` when absent."""
    base = model_base_dir(model_dir)
    if not _ml_libs() or not base:
        return None
    path = os.path.join(base, NSFW_CHECKPOINT[0])
    if not os.path.isdir(path):
        return None
    scorer = _batch_scorer(path, NSFW_CHECKPOINT[1], max_length)
    return lambda text: float(scorer([text])[0])
