"""Prompt-injection / jailbreak detection kernel (pattern-based).

Reproduces the pattern half of the reference detector
(`src/localmod/classifiers/prompt_injection.py`).  Verified configuration
is pattern-only (``use_ml_model=False``) with threshold 0.2, matching the
reference's deterministic test suite
(`tests/test_classifiers/test_prompt_injection.py:14`); then
``confidence = pattern_score`` (`prompt_injection.py:133-134`).
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional, Tuple

from localmod_spark.kernel.types import CRITICAL, HIGH, LOW, MEDIUM, NONE, KernelResult, is_blank

# (category, [patterns]) in the reference's dict insertion order
# (`src/localmod/classifiers/prompt_injection.py:28-65`).
_INJECTION_SPECS: List[Tuple[str, List[str]]] = [
    ("instruction_override", [
        r"ignore\s+(all\s+)?(previous|prior|above)\s+(instructions?|prompts?|rules?)",
        r"disregard\s+(all\s+)?(previous|prior|above)",
        r"forget\s+(everything|all)\s+(above|before|prior)",
    ]),
    ("role_manipulation", [
        r"you\s+are\s+now\s+(?!going|about)",
        r"pretend\s+(to\s+be|you('re|\s+are))",
        r"act\s+as\s+(if\s+you('re|\s+are)|a)",
        r"roleplay\s+as",
        r"from\s+now\s+on,?\s+you('re|\s+are)",
    ]),
    ("system_prompt_extraction", [
        r"(print|show|display|reveal|output)\s+(your\s+)?(system\s+)?(prompt|instructions)",
        r"what\s+(are|is)\s+your\s+(system\s+)?(prompt|instructions)",
        r"repeat\s+(your\s+)?(initial|system)\s+(prompt|instructions)",
    ]),
    ("jailbreak_keywords", [
        r"\bDAN\b",
        r"\bJailbreak(ed)?\b",
        r"developer\s+mode",
        r"unrestricted\s+mode",
        r"no\s+(restrictions?|limits?|rules?)",
    ]),
    ("encoding_evasion", [
        r"base64",
        r"rot13",
        r"hex\s*:",
        r"\\x[0-9a-f]{2}",
    ]),
    ("markdown_escape", [
        r"```[\s\S]*?(ignore|forget|system|admin)",
        r"\[SYSTEM\]",
        r"\[ADMIN\]",
        r"<\|.*?\|>",
    ]),
]

# Compiled IGNORECASE (`prompt_injection.py:83-86`) — note this makes the
# \bDAN\b keyword case-insensitive too, as in the reference.
_COMPILED = [
    (cat, [re.compile(p, re.IGNORECASE) for p in pats]) for cat, pats in _INJECTION_SPECS
]
# One alternation per category: a single search has the same truthiness
# as any-of-patterns (`prompt_injection.py:151-167` uses only truthiness
# for the decision path).
_CAT_ALT = [
    (cat, re.compile("|".join(f"(?:{p})" for p in pats), re.IGNORECASE))
    for cat, pats in _INJECTION_SPECS
]

DEFAULT_THRESHOLD = 0.2  # pattern-only config, `tests/test_classifiers/test_prompt_injection.py:14`

# Categories that force CRITICAL severity (`prompt_injection.py:191-194`).
_CRITICAL_CATEGORIES = {"system_prompt_extraction", "instruction_override"}


def injection_categories(text: str) -> List[str]:
    """Categories with ≥1 matching pattern, in spec order
    (`src/localmod/classifiers/prompt_injection.py:151-167` — only the
    truthiness of ``findall`` feeds the decision)."""
    matched: List[str] = []
    for cat, alt in _CAT_ALT:
        if alt.search(text) is not None:
            matched.append(cat)
    return matched


def injection_score(n_categories: int) -> float:
    """``min(0.3 * n_matched_categories, 0.9)``, 0.0 when none
    (`src/localmod/classifiers/prompt_injection.py:121`)."""
    return min(n_categories * 0.3, 0.9) if n_categories else 0.0


def _injection_severity(confidence: float, matched: List[str], threshold: float) -> str:
    """`src/localmod/classifiers/prompt_injection.py:186-203`."""
    if confidence < threshold:
        return NONE
    if _CRITICAL_CATEGORIES & set(matched):
        return CRITICAL
    if confidence >= 0.85:
        return CRITICAL
    if confidence >= 0.7:
        return HIGH
    if confidence >= 0.5:
        return MEDIUM
    return LOW


def injection_combine(ml_score: float, pattern_score: float, has_pattern_match: bool) -> float:
    """The ML/pattern combination when the model is loaded
    (`src/localmod/classifiers/prompt_injection.py:128-132`):

        confidence = max(ml_score, pattern_score)
        if pattern_matches and ml_score > 0.3:
            confidence = min(confidence + 0.1, 1.0)   # corroboration boost
    """
    confidence = max(ml_score, pattern_score)
    if has_pattern_match and ml_score > 0.3:
        confidence = min(confidence + 0.1, 1.0)
    return confidence


def injection_result(
    text: str,
    threshold: float = DEFAULT_THRESHOLD,
    ml_prob_fn: Optional[Callable[[str], float]] = None,
) -> KernelResult:
    """Verdict per `prompt_injection.py:106-149`.  Without ``ml_prob_fn``
    (verified pattern-only configuration): confidence = pattern score.
    With it: the reference's max-plus-boost combination
    (:func:`injection_combine`)."""
    if is_blank(text):
        return KernelResult("prompt_injection", False, 0.0, NONE, ())
    matched = injection_categories(text)
    score = injection_score(len(matched))
    if ml_prob_fn is not None:
        score = injection_combine(ml_prob_fn(text), score, bool(matched))
    flagged = score >= threshold
    return KernelResult(
        "prompt_injection",
        flagged,
        score,
        _injection_severity(score, matched, threshold),
        tuple(matched) if flagged else (),
    )
