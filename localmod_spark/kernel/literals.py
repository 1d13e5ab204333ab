"""Necessary literals of a compiled regex: the gate of the pattern layers.

:func:`required_literals` reads a pattern's own parse tree and returns a
set of strings such that every match of the pattern in an ASCII text
contains one of them (or ``None`` when no such set exists, e.g.
``[A-Z]{5,}``).  An ASCII row that contains none of them provably has no
match, so the vectorized kernel runs ``pattern.search`` only on rows that
are non-ASCII or contain a literal (:func:`gated_search`).

The strings live in the space the gate checks:

* IGNORECASE patterns — lowercase strings, checked against
  ``text.lower()`` (for ASCII text, lowering maps each character to one
  character, so a match at ``[i, j)`` shows up lowered at ``[i, j)``);
* other patterns — the scanned text itself.

Derivation rules (each sound on its own, so their composition is):

* ``LITERAL`` — the ASCII characters the engine itself matches with it
  under the pattern's case flag (``ſ`` → ``s``, Kelvin ``K`` → ``k``,
  ``€`` → nothing); consecutive single-character nodes join into runs;
* ``IN`` — only when it holds plain literals (``[$€£¥]`` → ``{"$"}``);
* ``BRANCH`` — the union, only when every alternative has a set;
* repeats — the item's set, only when the minimum count is ≥ 1;
* a sequence — the child set whose shortest string is longest;
* anchors, lookarounds, categories, ranges, ``.`` and backrefs — nothing.
"""

from __future__ import annotations

import re
from functools import lru_cache
from itertools import product
from re import _constants as C
from re import _parser
from typing import FrozenSet, List, Optional, Tuple

import numpy as np

Literals = Optional[FrozenSet[str]]

_ASCII = [chr(i) for i in range(128)]
_MAX_RUN_STRINGS = 64  # a run whose expansion would exceed this is split
_REPEATS = (C.MAX_REPEAT, C.MIN_REPEAT, C.POSSESSIVE_REPEAT)


@lru_cache(maxsize=512)
def _char_set(code: int, ignorecase: int) -> FrozenSet[str]:
    """ASCII characters the engine matches with the literal *code* under
    the case rule, folded to the gate's space."""
    pat = re.compile(re.escape(chr(code)), ignorecase)
    fold = str.lower if ignorecase else str
    return frozenset(fold(a) for a in _ASCII if pat.fullmatch(a))


def _single_char(op, av, flags: int) -> Optional[FrozenSet[str]]:
    """The character set of a node that consumes exactly one character
    equal to one of some literals, else ``None``."""
    ignorecase = flags & re.IGNORECASE
    if op is C.LITERAL:
        return _char_set(av, ignorecase)
    if op is C.IN and all(o is C.LITERAL for o, _ in av):
        return frozenset().union(*(_char_set(c, ignorecase) for _, c in av))
    return None


def _better(a: FrozenSet[str], b: Literals) -> bool:
    """Is *a* more selective than *b*?  An empty set (no ASCII match at
    all) beats everything; otherwise the longer shortest string wins."""
    if b is None:
        return True
    if not a or not b:
        return not a and bool(b)
    return min(map(len, a)) > min(map(len, b))


def _sequence(nodes, flags: int) -> Literals:
    best: Literals = None
    run: List[FrozenSet[str]] = []

    def close_run() -> None:
        nonlocal best
        if run:
            strings = frozenset("".join(p) for p in product(*run))
            if _better(strings, best):
                best = strings
            run.clear()

    for op, av in nodes:
        chars = _single_char(op, av, flags)
        if chars is not None:
            size = len(chars)
            for c in run:
                size *= len(c)
            if size > _MAX_RUN_STRINGS:
                close_run()
            run.append(chars)
            continue
        close_run()
        child = _node(op, av, flags)
        if child is not None and _better(child, best):
            best = child
    close_run()
    return best


def _node(op, av, flags: int) -> Literals:
    if op is C.BRANCH:
        union = set()
        for alt in av[1]:
            lits = _sequence(alt, flags)
            if lits is None:
                return None
            union |= lits
        return frozenset(union)
    if op is C.SUBPATTERN:
        _group, add_flags, del_flags, sub = av
        if add_flags or del_flags:  # a local flag change moves the gate's space
            return None
        return _sequence(sub, flags)
    if op is C.ATOMIC_GROUP:
        return _sequence(av, flags)
    if op in _REPEATS:
        lo, _hi, item = av
        return _sequence(item, flags) if lo >= 1 else None
    return None


def required_literals(pattern: re.Pattern) -> Optional[Tuple[str, ...]]:
    """Strings one of which every match in an ASCII text contains, in the
    gate's space (see the module docstring), sorted; ``None`` when the
    pattern has no such set.  A string that contains another one of the
    set is dropped: the shorter one already admits every row it would."""
    lits = _sequence(_parser.parse(pattern.pattern, pattern.flags), pattern.flags)
    if lits is None:
        return None
    return tuple(sorted(s for s in lits if not any(t != s and t in s for t in lits)))


def gated_search(
    pattern: re.Pattern,
    literals: Optional[Tuple[str, ...]],
    scanned: np.ndarray,
    gate_text: np.ndarray,
    non_ascii: np.ndarray,
    rows: Optional[np.ndarray] = None,
) -> np.ndarray:
    """``pattern.search`` truthiness per row of *scanned*, run only where a
    match is possible: non-ASCII rows and rows whose *gate_text* (the
    literals' space) contains a literal.  *rows* restricts the scan to a
    boolean subset; rows outside it come back False."""
    idx = np.arange(len(scanned)) if rows is None else np.flatnonzero(rows)
    if literals is not None and len(idx):
        keep = [
            na or any(lit in t for lit in literals)
            for t, na in zip(gate_text[idx], non_ascii[idx].tolist())
        ]
        idx = idx[np.array(keep, dtype=bool)]
    out = np.zeros(len(scanned), dtype=bool)
    if len(idx):
        out[idx] = [pattern.search(t) is not None for t in scanned[idx]]
    return out
