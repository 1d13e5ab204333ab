"""Toxicity kernel: deterministic surrogate for the 4-model ensemble.

The reference toxicity classifier (`src/localmod/classifiers/toxicity.py`)
is a weighted transformer ensemble (toxic-bert 0.50, dehatebert 0.20,
s-nlp 0.15, dynabench 0.15 — `src/localmod/models/paths.py:31-36`) with
flag threshold **0.17** (`toxicity.py:46`) and severity bands
<0.4/<0.6/<0.8 (`toxicity.py:277-288`).  No model artifacts exist in the
sandbox, so the ensemble probability is replaced by a deterministic
lexicon scorer with a noisy-OR combination; the threshold, the severity
banding, the blank-guard and the flag/categories contract are the
reference's.  The test oracle and the Spark UDF share this module, so the
keep/drop parity gate is exact by construction.

Swap in real inference by passing ``prob_fn`` implementing the batched
ensemble of ``predict_batch`` (`toxicity.py:191-275`), including the
weight renormalization when models are missing (`toxicity.py:172-173`).
"""

from __future__ import annotations

import re
from typing import Callable, Mapping, Optional

import numpy as np

from localmod_spark.kernel.prefilter import AsciiBatch, gate
from localmod_spark.kernel.types import CRITICAL, HIGH, LOW, MEDIUM, NONE, KernelResult, is_blank

DEFAULT_THRESHOLD = 0.17  # ensemble flag threshold, `toxicity.py:46`

# Ensemble weights, `src/localmod/models/paths.py:31-36` (sum to 1.0).
ENSEMBLE_WEIGHTS = {
    "toxicity": 0.50,            # Unitary Toxic-BERT (multilabel)
    "toxicity_dehatebert": 0.20, # DeHateBERT
    "toxicity_snlp": 0.15,       # s-nlp RoBERTa
    "toxicity_facebook": 0.15,   # Facebook Dynabench
}
# Unknown model names get this weight (`toxicity.py:166` weights.get(..., 0.25)).
_FALLBACK_WEIGHT = 0.25


def ensemble_prob(model_probs: Mapping[str, float], weights: Optional[Mapping[str, float]] = None) -> float:
    """The reference's weighted ensemble blend with missing-model
    renormalization (`src/localmod/classifiers/toxicity.py:149-173`):

        weighted = Σ prob[m] * w[m];  total = Σ w[m]
        if 0 < total < 1.0: weighted /= total

    ``model_probs`` holds only the models that actually loaded — the
    renormalization is what keeps decisions sane when some of the four
    are missing (e.g. 3 of 4 loaded → total 0.85, blend rescaled).
    Iteration order = dict insertion order = the reference's model load
    order, so float summation order matches CPython exactly.
    """
    weights = ENSEMBLE_WEIGHTS if weights is None else weights
    weighted = 0.0
    total = 0.0
    for name, prob in model_probs.items():
        w = weights.get(name, _FALLBACK_WEIGHT)
        weighted += prob * w
        total += w
    if 0 < total < 1.0:  # `toxicity.py:172-173`
        weighted /= total
    return weighted


def ensemble_prob_batch(
    all_probs: Mapping[str, "np.ndarray"], weights: Optional[Mapping[str, float]] = None
) -> "np.ndarray":
    """Vectorized ensemble over per-model probability arrays — the
    batched-path math of ``predict_batch``
    (`src/localmod/classifiers/toxicity.py:241-253`), which is
    decision-identical to the scalar path.  This is the shape a real
    pandas-UDF inference stage feeds: one array per model per Arrow
    batch."""
    weights = ENSEMBLE_WEIGHTS if weights is None else weights
    weighted = None
    total = 0.0
    for name, probs in all_probs.items():
        w = weights.get(name, _FALLBACK_WEIGHT)
        arr = np.asarray(probs, dtype=np.float64) * w
        weighted = arr if weighted is None else weighted + arr
        total += w
    if weighted is None:
        raise ValueError("all_probs must contain at least one model")
    if 0 < total < 1.0:
        weighted = weighted / total
    return weighted

# Surrogate lexicon: token -> weight.  Weights chosen so the reference's
# own fixture texts land on the intended side of the 0.17 threshold
# (e.g. `tests/conftest.py:24-28`, `cli.py:117-121`).
_LEXICON = {
    "idiot": 0.50, "moron": 0.50, "stupid": 0.45, "dumb": 0.35,
    "hate": 0.40, "loser": 0.40, "pathetic": 0.35, "worthless": 0.45,
    "die": 0.35, "kill": 0.35, "hurt": 0.20, "destroy": 0.15,
    "ugly": 0.30, "disgusting": 0.35, "trash": 0.25, "garbage": 0.25,
    "shut": 0.10, "fool": 0.30, "scum": 0.45, "vermin": 0.45,
}

_TOKEN_RE = re.compile(r"[a-z']+")
# A lexicon word as a whole ``_TOKEN_RE`` token of the lowered text: the
# texts it matches are exactly those surrogate_prob scores above 0.0
_LEXICON_TOKEN = re.compile(r"(?<![a-z'])(?:" + "|".join(sorted(_LEXICON)) + r")(?![a-z'])")
_LEXICON_GATE = gate(_LEXICON_TOKEN, lowered=True)


def surrogate_prob(text: str) -> float:
    """Noisy-OR over matched lexicon tokens: 1 - Π(1 - w).

    Deterministic, order-independent (product over a set), bounded [0, 1).
    """
    tokens = set(_TOKEN_RE.findall(text.lower()))
    prod = 1.0
    for tok in tokens & _LEXICON.keys():
        prod *= 1.0 - _LEXICON[tok]
    return 1.0 - prod


def surrogate_prob_batch(batch: AsciiBatch) -> np.ndarray:
    """:func:`surrogate_prob` of every text of *batch*: 0.0 where
    ``_LEXICON_GATE`` finds no lexicon token (decided in RE2 for the
    ASCII rows), :func:`surrogate_prob` on the rest."""
    out = np.zeros(len(batch.texts))
    idx = np.flatnonzero(batch.search(_LEXICON_GATE))
    out[idx] = [surrogate_prob(t) for t in batch.texts[idx]]
    return out


def _toxicity_severity(confidence: float, threshold: float) -> str:
    """Bands from `src/localmod/classifiers/toxicity.py:277-288`."""
    if confidence < threshold:
        return NONE
    if confidence < 0.4:
        return LOW
    if confidence < 0.6:
        return MEDIUM
    if confidence < 0.8:
        return HIGH
    return CRITICAL


def toxicity_result(
    text: str,
    threshold: float = DEFAULT_THRESHOLD,
    prob_fn: Optional[Callable[[str], float]] = None,
    model_prob_fns: Optional[Mapping[str, Callable[[str], float]]] = None,
) -> KernelResult:
    """Verdict with the reference's flag contract
    (`src/localmod/classifiers/toxicity.py:133-189`).

    ``model_prob_fns`` maps model name → per-text probability (one entry
    per *loaded* model); when given, the confidence is the reference's
    weighted ensemble with renormalization (:func:`ensemble_prob`).
    ``prob_fn`` remains the single-scorer override; with neither, the
    deterministic lexicon surrogate fills the slot (SURVEY §7.4)."""
    if is_blank(text):
        return KernelResult("toxicity", False, 0.0, NONE, ())
    if model_prob_fns:
        prob = ensemble_prob({name: fn(text) for name, fn in model_prob_fns.items()})
    else:
        prob = (prob_fn or surrogate_prob)(text)
    flagged = prob >= threshold
    return KernelResult(
        "toxicity",
        flagged,
        prob,
        _toxicity_severity(prob, threshold),
        ("toxic",) if flagged else (),  # `toxicity.py:183`
    )
