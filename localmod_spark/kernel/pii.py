"""PII detection + redaction kernel (deterministic, regex-based).

Reproduces, byte-for-byte, the decision semantics of the reference PII
detector (`src/localmod/classifiers/pii.py`).  The pattern strings, their
iteration order, the validators, the overlap rule and the end→start splice
are all semantics-bearing and therefore identical; the code structure
(stateless functions over tuples) is our own.

Byte-exactness notes (why this must stay CPython ``re``):
  * the email pattern's TLD class ``[A-Z|a-z]`` literally contains ``|``
    (`pii.py:33`) — Java/RE2 regex engines treat classes subtly
    differently around case folding and word boundaries, so the scrub
    contract pins CPython ``re`` semantics;
  * patterns are compiled with ``re.IGNORECASE`` (`pii.py:66`);
  * pattern iteration order = dict insertion order (`pii.py:32-40`),
    preserved here as a list;
  * the overlap filter compares each match only against the *last kept*
    match and replaces it when strictly longer (`pii.py:180-194`) — a
    quirk we reproduce exactly.
"""

from __future__ import annotations

import re
from typing import List, NamedTuple, Optional, Tuple

import numpy as np

from localmod_spark.kernel.prefilter import AsciiBatch, gate
from localmod_spark.kernel.types import CRITICAL, HIGH, LOW, MEDIUM, NONE, KernelResult, is_blank

# (type, pattern, redaction label) in the reference's dict insertion order.
# Patterns: `src/localmod/classifiers/pii.py:32-40`;
# labels:   `src/localmod/classifiers/pii.py:42-50`.
_PII_SPECS: List[Tuple[str, str, str]] = [
    ("email", r'\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b', "[EMAIL]"),
    ("phone_us", r'\b(?:\+?1[-.\s]?)?(?:\(?\d{3}\)?[-.\s]?)?\d{3}[-.\s]?\d{4}\b', "[PHONE]"),
    ("phone_intl", r'\b\+?[1-9]\d{1,14}\b', "[PHONE]"),
    ("ssn", r'\b\d{3}[-\s]?\d{2}[-\s]?\d{4}\b', "[SSN]"),
    ("credit_card", r'\b(?:\d{4}[-\s]?){3}\d{4}\b', "[CREDIT_CARD]"),
    ("ip_address", r'\b(?:\d{1,3}\.){3}\d{1,3}\b', "[IP_ADDRESS]"),
    ("date_of_birth", r'\b(?:0?[1-9]|1[0-2])[/-](?:0?[1-9]|[12]\d|3[01])[/-](?:19|20)?\d{2}\b', "[DOB]"),
]

# Compiled once per process (per Spark Python worker) at module import,
# matching the reference's compile-at-load (`pii.py:62-67`).
_COMPILED: List[Tuple[str, "re.Pattern[str]", str]] = [
    (t, re.compile(p, re.IGNORECASE), label) for t, p, label in _PII_SPECS
]

_NON_DIGIT = re.compile(r"\D")

# Digit windows: maximal runs of the chars the six digit patterns can
# match, each starting at a digit, '+' or '('.  Why scanning only inside
# them finds exactly the full-text matches:
#   * every char that phone_us, phone_intl, ssn, credit_card, ip_address
#     or date_of_birth can match is in ``[\d+\-.()/\s]``, so a match never
#     crosses a window's end;
#   * every such match starts at a digit, or at a '+' or '(' right before
#     one, so its start lies inside a window (the window runs greedily to
#     the end of its char run);
#   * a window may also start at a '+' or '(' with no digit after it
#     (``+ 12``, ``(see 12)``, the '+' of ``+(12)``); no match starts
#     there, so the scan finds what it finds from the window's next digit
#     or the '+'/'(' right before that digit.  A pattern that starts with
#     a class lets sre search for the window's first char directly;
#   * ``pos`` lets ``\b`` see the real previous char, but sre treats
#     ``endpos`` as the end of the string — so the scan bound is the
#     window end + 1, the (non-window) char ``\b`` must see.
# Same engine as the patterns, so ``\d``/``\s`` cover the same Unicode
# digits and spaces.
_DIGIT_WINDOW = re.compile(r"[+(\d][\d+\-.()/\s]*")


# Every PII match holds an '@' (email) or a digit (the six others), so a
# text without either has no hit.
_SCAN_GATE = gate(re.compile(r"[\d@]"))


def scan_rows(batch: AsciiBatch) -> np.ndarray:
    """The rows of *batch* that :func:`pii_scan` can find a hit in: those
    with a digit or an '@', decided in RE2 for the ASCII rows."""
    return batch.search(_SCAN_GATE)


class PIIHit(NamedTuple):
    type: str
    value: str
    start: int
    end: int
    label: str


def _luhn_ok(candidate: str) -> bool:
    """Luhn checksum over the digits of *candidate*
    (`src/localmod/classifiers/pii.py:143-158`)."""
    digits = [int(d) for d in _NON_DIGIT.sub("", candidate)]
    if not 13 <= len(digits) <= 19:
        return False
    total = 0
    for i, d in enumerate(reversed(digits)):
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def _ssn_ok(candidate: str) -> bool:
    """SSN prefix rules: 9 digits, not starting 9/666/000
    (`src/localmod/classifiers/pii.py:160-169`)."""
    digits = _NON_DIGIT.sub("", candidate)
    if len(digits) != 9:
        return False
    return not (digits.startswith("9") or digits.startswith("666") or digits.startswith("000"))


def _ip_ok(candidate: str) -> bool:
    """Each dotted octet in [0, 255] (`src/localmod/classifiers/pii.py:171-178`)."""
    try:
        return all(0 <= int(part) <= 255 for part in candidate.split("."))
    except ValueError:
        return False


_VALIDATORS = {"credit_card": _luhn_ok, "ssn": _ssn_ok, "ip_address": _ip_ok}


def pii_scan(text: str) -> List[PIIHit]:
    """All validated, overlap-filtered PII hits, sorted by start offset.

    Mirrors ``_find_all_pii`` (`pii.py:113-131`): per-type ``finditer`` in
    insertion order, validation, stable sort by start (ties keep type
    order), then the last-kept-only overlap filter (`pii.py:180-194`).
    """
    n = len(text)
    # email keeps its whole-text scan: it needs a literal '@'
    whole = [(0, n)] if "@" in text else []
    windows = [(m.start(), min(m.end() + 1, n)) for m in _DIGIT_WINDOW.finditer(text)]
    if not whole and not windows:
        return []

    hits: List[PIIHit] = []
    for pii_type, pattern, label in _COMPILED:
        spans = whole if pii_type == "email" else windows
        validator = _VALIDATORS.get(pii_type)
        for lo, hi in spans:
            for m in pattern.finditer(text, lo, hi):
                if validator is not None and not validator(m.group()):
                    continue
                hits.append(PIIHit(pii_type, m.group(), m.start(), m.end(), label))

    hits.sort(key=lambda h: h.start)  # stable: ties keep pattern order

    if not hits:
        return hits
    kept = [hits[0]]
    for cur in hits[1:]:
        prev = kept[-1]
        if cur.start >= prev.end:
            kept.append(cur)
        elif cur.end - cur.start > prev.end - prev.start:
            kept[-1] = cur
    return kept


def pii_scrub(text: str, replacement: Optional[str] = None) -> Tuple[str, List[PIIHit]]:
    """Redact all hits end→start so earlier offsets stay valid
    (`src/localmod/classifiers/pii.py:215-229`).  This is the byte-exact
    surface: with ``replacement=None`` each hit uses its type label."""
    hits = pii_scan(text)
    if not hits:
        return text, []
    out = text
    for h in reversed(hits):
        out = out[: h.start] + (replacement or h.label) + out[h.end :]
    return out, hits


def _pii_severity(hits: List[PIIHit]) -> str:
    """Severity by detected type set (`src/localmod/classifiers/pii.py:196-213`)."""
    if not hits:
        return NONE
    types = set(h.type for h in hits)
    if types & {"ssn", "credit_card"}:
        return CRITICAL
    if len(types) > 1 or "date_of_birth" in types:
        return HIGH
    if types & {"email", "phone_us", "phone_intl"}:
        return MEDIUM
    return LOW


def pii_categories_from(hits: List[PIIHit]) -> tuple:
    """Distinct detected types in first-seen order.  The reference builds
    ``list(set(...))`` (`src/localmod/classifiers/pii.py:88`), whose order
    is unspecified, so categories never feed an ordered decision there
    either; first-seen order makes them deterministic."""
    seen: List[str] = []
    for h in hits:
        if h.type not in seen:
            seen.append(h.type)
    return tuple(seen)


def pii_result_from(text: str, hits: List[PIIHit]) -> KernelResult:
    """Full PII verdict (`src/localmod/classifiers/pii.py:69-111`) from an
    existing scan, so callers that already scrubbed (and therefore
    scanned) make no second regex pass: flagged iff any hit, confidence
    1.0/0.0, categories = distinct types."""
    if is_blank(text):
        return KernelResult("pii", False, 0.0, NONE, ())
    flagged = len(hits) > 0
    return KernelResult(
        "pii",
        flagged,
        1.0 if flagged else 0.0,
        _pii_severity(hits),
        pii_categories_from(hits),
    )

