"""NSFW text kernel: keyword layer + safe-override arithmetic + surrogate prob.

The reference NSFW classifier (`src/localmod/classifiers/nsfw.py`) combines a
transformer probability with a deterministic keyword/override layer.  The
sandbox has no model artifacts, so the probability slot is filled by a
deterministic surrogate (see ``surrogate_prob``); the keyword set, the
safe-override patterns, the override arithmetic
(``min(prob * 0.1, 0.3)`` when safe & prob>0.5, `nsfw.py:127-129`), the
0.5 threshold and the severity bands (`nsfw.py:222-233`) are reproduced
exactly.  Because the test oracle and the Spark UDF share this module, the
keep/drop parity gate is exact regardless of the surrogate's choices.

Swap the surrogate for real batched transformer inference by passing a
``prob_fn`` that mirrors ``predict_batch`` (`nsfw.py:145-220`).
"""

from __future__ import annotations

import re
from typing import Callable, Optional

from localmod_spark.kernel.types import CRITICAL, HIGH, LOW, MEDIUM, NONE, KernelResult, is_blank

# Substring (not word-boundary) keywords, checked against lowercased text
# (`src/localmod/classifiers/nsfw.py:32-36` via `nsfw.py:77-80`).
EXPLICIT_KEYWORDS = frozenset({
    "naked", "nude", "sex", "porn", "explicit", "erotic",
    "xxx", "nsfw", "adult only", "18+", "fetish",
    "seduce", "intimate", "nudes", "orgasm", "horny",
})

# False-positive overrides (`src/localmod/classifiers/nsfw.py:39-45`).
_SAFE_OVERRIDE_PATTERNS = [
    r'\b(puppy|puppies|kitten|kittens|dog|dogs|cat|cats)\b',
    r'\b(baby|babies|child|children|kid|kids)\b',
    r'\b(cute|adorable|sweet|lovely|beautiful)\s+(animal|pet|day)',
    r'\b(weather|programming|coding|work|meeting|office)\b',
    r'\b(hello|hi|hey|good morning|good night)\b',
]
# Single-alternation forms (sorted for determinism): one C-level search
# replaces N substring checks; truthiness is identical.
_KEYWORD_ALT = re.compile("|".join(re.escape(k) for k in sorted(EXPLICIT_KEYWORDS)))
_SAFE_ALT = re.compile("|".join(f"(?:{p})" for p in _SAFE_OVERRIDE_PATTERNS), re.IGNORECASE)

DEFAULT_THRESHOLD = 0.5  # `src/localmod/config.py:48`

# Surrogate-only: lower-signal terms that push the surrogate probability
# just over the flag threshold without an explicit keyword, so the
# safe-override reduction path (`nsfw.py:127-129`) is exercised end-to-end.
_SUGGESTIVE_TERMS = frozenset({"sensual", "lust", "striptease", "risque", "lewd"})
_SUGGESTIVE_ALT = re.compile("|".join(re.escape(t) for t in sorted(_SUGGESTIVE_TERMS)))


def has_explicit_keyword(text: str) -> bool:
    """`src/localmod/classifiers/nsfw.py:77-80` (alternation form —
    identical truthiness to the reference's any-substring check)."""
    return _KEYWORD_ALT.search(text.lower()) is not None


def is_likely_safe(text: str) -> bool:
    """Safe-pattern override, suppressed by explicit keywords
    (`src/localmod/classifiers/nsfw.py:82-87`)."""
    if has_explicit_keyword(text):
        return False
    return _SAFE_ALT.search(text) is not None


def surrogate_prob(text: str) -> float:
    """Deterministic stand-in for the transformer probability.

    0.97 when an explicit keyword is present (the real model is confident
    on such inputs), 0.55 for merely suggestive terms, 0.03 otherwise.
    """
    if has_explicit_keyword(text):
        return 0.97
    if _SUGGESTIVE_ALT.search(text.lower()) is not None:
        return 0.55
    return 0.03


def apply_safe_override(prob: float, safe: bool) -> float:
    """`src/localmod/classifiers/nsfw.py:127-129`: dampen likely false
    positives — only when the model fired above 0.5."""
    if safe and prob > 0.5:
        return min(prob * 0.1, 0.3)
    return prob


def _nsfw_severity(confidence: float, threshold: float) -> str:
    """Bands from `src/localmod/classifiers/nsfw.py:222-233`."""
    if confidence < threshold:
        return NONE
    if confidence < 0.6:
        return LOW
    if confidence < 0.75:
        return MEDIUM
    if confidence < 0.9:
        return HIGH
    return CRITICAL


def nsfw_result(
    text: str,
    threshold: float = DEFAULT_THRESHOLD,
    prob_fn: Optional[Callable[[str], float]] = None,
) -> KernelResult:
    """Verdict per `src/localmod/classifiers/nsfw.py:89-143`: safe-override
    computed first, probability dampened, then thresholded.  Categories are
    the fixed ``["sexual_content"]`` when flagged (`nsfw.py:138`)."""
    if is_blank(text):
        return KernelResult("nsfw", False, 0.0, NONE, ())
    safe = is_likely_safe(text)
    prob = (prob_fn or surrogate_prob)(text)
    prob = apply_safe_override(prob, safe)
    flagged = prob >= threshold
    return KernelResult(
        "nsfw",
        flagged,
        prob,
        _nsfw_severity(prob, threshold),
        ("sexual_content",) if flagged else (),
    )
