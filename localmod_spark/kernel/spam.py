"""Spam heuristic kernel (pattern-weight scoring).

Reproduces the heuristic half of the reference spam classifier
(`src/localmod/classifiers/spam.py`).  The verified pipeline configuration
runs pattern-only (``use_ml_model=False``) with threshold 0.3, exactly as
the reference's own deterministic test suite does
(`tests/test_classifiers/test_spam.py:14`); in that mode
``confidence = heuristic_score`` (`spam.py:104-105`).
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional, Tuple

from localmod_spark.kernel.types import HIGH, LOW, MEDIUM, NONE, KernelResult, is_blank

# (name, pattern, weight) in the reference's dict insertion order
# (`src/localmod/classifiers/spam.py:24-43`).
_SPAM_SPECS: List[Tuple[str, str, float]] = [
    ("excessive_caps", r'[A-Z]{5,}', 0.1),
    ("excessive_punctuation", r'[!?]{3,}', 0.1),
    ("money_symbols", r'[$€£¥]\s*\d+|\d+\s*[$€£¥]', 0.15),
    ("urgency_words", r'\b(urgent|immediately|act\s+now|limited\s+time|expires?)\b', 0.2),
    ("free_offers", r'\b(free|winner|won|congratulations|claim\s+your)\b', 0.2),
    ("click_bait", r'\b(click\s+here|sign\s+up|subscribe|buy\s+now)\b', 0.15),
    ("suspicious_urls", r'(bit\.ly|tinyurl|goo\.gl|t\.co|shorturl)', 0.25),
]

_COMPILED = [(n, re.compile(p, re.IGNORECASE), w) for n, p, w in _SPAM_SPECS]

# No union prescreen: ``excessive_caps`` is ``[A-Z]{5,}`` under IGNORECASE
# (the reference's flags), so it matches any five letters and a union of
# the specs passes nearly every row.  The vectorized path gates each
# pattern on its own RE2 prefilter instead (kernel/prefilter.py).

DEFAULT_THRESHOLD = 0.3  # pattern-only config, `tests/test_classifiers/test_spam.py:14`


def caps_ratio(text: str) -> float:
    """Uppercase-character share via ``str.isupper`` per char
    (`src/localmod/classifiers/spam.py:135`).  NOTE: ``c.isupper()`` is
    Unicode-aware (unlike ``[A-Z]``), so this stays a per-char check —
    ``map(str.isupper, ...)`` runs the identical predicate at C speed
    (bools sum as 0/1, same count as the old genexpr)."""
    return sum(map(str.isupper, text)) / max(len(text), 1)


def spam_heuristics(text: str) -> Tuple[List[str], float]:
    """Matched pattern names (insertion order) + clamped score
    (`src/localmod/classifiers/spam.py:123-140`).  Each pattern adds its
    weight once regardless of match count; caps ratio > 0.5 adds 0.15 under
    the ``high_caps_ratio`` category; total clamped to 1.0."""
    matched: List[str] = []
    score = 0.0
    for name, pattern, weight in _COMPILED:
        if pattern.search(text) is not None:  # findall truthiness, `spam.py:129-132`
            matched.append(name)
            score += weight
    if caps_ratio(text) > 0.5:
        matched.append("high_caps_ratio")
        score += 0.15
    return matched, min(score, 1.0)


def _spam_severity(confidence: float, threshold: float) -> str:
    """Bands from `src/localmod/classifiers/spam.py:159-168`."""
    if confidence < threshold:
        return NONE
    if confidence < 0.6:
        return LOW
    if confidence < 0.75:
        return MEDIUM
    return HIGH


def spam_blend(ml_score: float, heuristic_score: float) -> float:
    """The ML/heuristic combination when the model is loaded
    (`src/localmod/classifiers/spam.py:102-105`):
    ``confidence = 0.6 * ml_score + 0.4 * heuristic_score``."""
    return 0.6 * ml_score + 0.4 * heuristic_score


def spam_result(
    text: str,
    threshold: float = DEFAULT_THRESHOLD,
    ml_prob_fn: Optional[Callable[[str], float]] = None,
) -> KernelResult:
    """Verdict per `src/localmod/classifiers/spam.py:80-121`.

    Without ``ml_prob_fn`` (the verified pattern-only configuration,
    ``use_ml_model=False``): confidence = heuristic score.  With it:
    the reference's ``0.6*ml + 0.4*heuristic`` blend — the pattern
    *categories* are still the heuristic matches (`spam.py:114`), only
    the confidence (and thus flag/severity) changes."""
    if is_blank(text):
        return KernelResult("spam", False, 0.0, NONE, ())
    matched, heuristic = spam_heuristics(text)
    score = spam_blend(ml_prob_fn(text), heuristic) if ml_prob_fn is not None else heuristic
    flagged = score >= threshold
    return KernelResult(
        "spam",
        flagged,
        score,
        _spam_severity(score, threshold),
        tuple(matched) if flagged else (),
    )
