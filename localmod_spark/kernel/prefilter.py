"""RE2 prefilters of the kernel's regexes: the gate of the pattern layers.

:func:`re2_prefilter` turns a compiled Python regex into RE2 source that
matches a superset of what the regex matches on ASCII text.  It is built
from the regex's own parse tree, never by rewriting the pattern text:

* a node that consumes one character (a literal, ``[^x]``, ``.``, a
  class, ``\\s``/``\\d``/``\\w``) becomes an explicit class of the ASCII
  characters Python's engine itself accepts at that node under the flags
  in force there.  Each ASCII character is tested, so case folding
  (``ſ`` → ``s``, Kelvin ``K`` → ``k``) and Python's ``\\s`` (which holds
  ``\\x0b`` and ``\\x1c-\\x1f``, unlike RE2's) come out exact, and RE2
  needs no flags;
* ``\\b`` and ``\\B`` are kept: on ASCII text both engines agree on
  word characters.  Every other anchor and every lookaround is dropped,
  which only widens the match;
* groups, alternations and repeats keep their shape; a lazy repeat
  becomes a plain one (whether a match exists does not change);
* a backreference, a repeat count above RE2's limit of 1000, or any
  other construct (atomic groups, possessive repeats, conditionals)
  leaves the pattern without a prefilter (``None``).

With ``lowered=True`` the classes hold the ASCII characters whose
``str.lower()`` the node accepts: the prefilter then decides, over the
original text, what the regex matches on the lowered text.

:class:`AsciiBatch` evaluates the prefilters once per batch with
``pyarrow.compute.match_substring_regex``, over an Arrow array of the
batch's ASCII rows only; RE2 folds case and classes characters
differently from Python outside ASCII, so a non-ASCII row (a lone
surrogate included) never reaches pyarrow.  CPython ``re`` then confirms
the RE2 hits and scans the non-ASCII rows.

:meth:`AsciiBatch.tokens` gives the ASCII rows' tokens in one Arrow
pass per chunk of about 256 KB of text: the bytes go through a 256-entry
map (:func:`ascii_table`, built by asking Python's own rule about each
ASCII character), the mapped rows split at spaces, and the tokens are
dictionary-encoded.  The langid and quality kernels decide their ASCII
rows from it.
"""

from __future__ import annotations

import re
from functools import lru_cache
from re import _compiler, _parser
from re import _constants as C
from typing import Callable, Iterator, NamedTuple, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_ASCII = "".join(map(chr, range(128)))
_LOWER = _ASCII.lower()
_RE2_MAX_REPEAT = 1000
_ONE_CHAR = (C.LITERAL, C.NOT_LITERAL, C.ANY, C.IN)
_REPEATS = (C.MAX_REPEAT, C.MIN_REPEAT)
_KEPT_ANCHORS = {C.AT_BOUNDARY: r"\b", C.AT_NON_BOUNDARY: r"\B"}


class _NoPrefilter(Exception):
    pass


def _char(code: int) -> str:
    c = chr(code)
    return c if c.isalnum() else "\\x%02x" % code


def _class_source(codes: list) -> str:
    """RE2 class of the ASCII *codes*; an empty set becomes the class of
    non-ASCII characters, which never matches on ASCII text."""
    if not codes:
        return r"[^\x00-\x7f]"
    if len(codes) == 1:
        return _char(codes[0])
    ranges = []
    for c in codes:
        if ranges and ranges[-1][1] == c - 1:
            ranges[-1][1] = c
        else:
            ranges.append([c, c])
    return "[" + "".join(
        _char(lo) if lo == hi else _char(lo) + "-" + _char(hi) for lo, hi in ranges
    ) + "]"


@lru_cache(maxsize=1024)
def _char_class(op, av, flags: int, lowered: bool) -> str:
    """The ASCII characters Python's engine accepts at one single-character
    node under *flags* (after lowering, when *lowered*), as an RE2 class."""
    state = _parser.State()
    state.flags = flags
    node = (op, list(av) if op is C.IN else av)
    matcher = _compiler.compile(_parser.SubPattern(state, [node]), flags)
    # the node consumes exactly one character, so its matches over the
    # 128 ASCII characters in order are at the accepted codes
    return _class_source([m.start() for m in matcher.finditer(_LOWER if lowered else _ASCII)])


def _sequence(nodes, flags: int, lowered: bool) -> str:
    return "".join(_node(op, av, flags, lowered) for op, av in nodes)


def _node(op, av, flags: int, lowered: bool) -> str:
    if op in _ONE_CHAR:
        return _char_class(op, tuple(av) if op is C.IN else av, flags, lowered)
    if op is C.AT:
        return _KEPT_ANCHORS.get(av, "")
    if op in (C.ASSERT, C.ASSERT_NOT):
        return ""
    if op is C.BRANCH:
        return "(?:" + "|".join(_sequence(alt, flags, lowered) for alt in av[1]) + ")"
    if op is C.SUBPATTERN:
        _group, add_flags, del_flags, sub = av
        flags = _compiler._combine_flags(flags, add_flags, del_flags)
        return "(?:" + _sequence(sub, flags, lowered) + ")"
    if op in _REPEATS:
        lo, hi, item = av
        unbounded = hi is C.MAXREPEAT
        if lo > _RE2_MAX_REPEAT or (not unbounded and hi > _RE2_MAX_REPEAT):
            raise _NoPrefilter
        if unbounded:
            count = {0: "*", 1: "+"}.get(lo, "{%d,}" % lo)
        else:
            count = "?" if (lo, hi) == (0, 1) else "{%d,%d}" % (lo, hi)
        return "(?:" + _sequence(item, flags, lowered) + ")" + count
    raise _NoPrefilter


def re2_prefilter(pattern: re.Pattern, lowered: bool = False) -> Optional[str]:
    """RE2 source matching every ASCII text *pattern* matches (every ASCII
    text whose lowered form it matches, when *lowered*), or ``None`` when
    the pattern has none.  See the module docstring for the rules."""
    tree = _parser.parse(pattern.pattern, pattern.flags)
    try:
        return _sequence(tree, tree.state.flags, lowered)
    except _NoPrefilter:
        return None


class Gate(NamedTuple):
    """A regex, whether it scans the lowered text, and its RE2 prefilter."""

    pattern: re.Pattern
    lowered: bool
    re2: Optional[str]


def gate(pattern: re.Pattern, lowered: bool = False) -> Gate:
    return Gate(pattern, lowered, re2_prefilter(pattern, lowered))


def ascii_table(rule: Callable[[str], str]) -> np.ndarray:
    """256-entry byte map: each ASCII byte to ``rule`` of its character (one
    ASCII character), every other byte to a space.  ASCII rows hold no
    byte above 0x7f."""
    table = np.full(256, ord(" "), dtype=np.uint8)
    table[:128] = [ord(rule(c)) for c in _ASCII]
    return table


class Tokens(NamedTuple):
    """The tokens of ASCII rows ``lo`` to ``lo + n_rows`` of a batch, in
    text order."""

    lo: int
    n_rows: int
    codes: np.ndarray  # int32: each token's index into ``words``
    rows: np.ndarray  # int32: each token's row, counted from ``lo``; ascending
    words: pa.Array  # the distinct tokens


# Text bytes per token pass of AsciiBatch.tokens: bounds the pass's
# temporaries, however large the batch
_TOKEN_CHUNK_BYTES = 1 << 18


class AsciiBatch:
    """One batch of texts with its ASCII rows as an Arrow array."""

    def __init__(self, texts: np.ndarray):
        self.texts = texts
        self.ascii = np.fromiter(map(str.isascii, texts), dtype=bool, count=len(texts))
        self.arrow = pa.array(texts[self.ascii], type=pa.string())

    def buffers(self) -> Tuple[np.ndarray, np.ndarray]:
        """The ASCII rows' int32 offsets and their bytes, as numpy views."""
        _, offsets, data = self.arrow.buffers()
        offsets = np.frombuffer(offsets, dtype=np.int32)[: len(self.arrow) + 1]
        return offsets, np.frombuffer(data, dtype=np.uint8)[: offsets[-1]]

    def tokens(self, table: np.ndarray) -> Iterator[Tokens]:
        """The ASCII rows' maximal runs of non-space bytes after mapping every
        byte through *table*: ``str.split`` of the mapped text, as *table*
        sends every byte Arrow counts as whitespace to a space.  One Arrow
        split and dictionary encoding per chunk of whole rows of about
        ``_TOKEN_CHUNK_BYTES`` bytes."""
        offsets, data = self.buffers()
        m = len(self.arrow)
        # each chunk after the first starts at the row holding its first byte
        firsts = np.arange(_TOKEN_CHUNK_BYTES, offsets[-1], _TOKEN_CHUNK_BYTES)
        cuts = np.searchsorted(offsets, firsts, "right") - 1
        bounds = np.unique([0, *cuts.tolist(), m]).tolist()
        for lo, hi in zip(bounds, bounds[1:]):
            start, end = offsets[lo], offsets[hi]
            mapped = pa.StringArray.from_buffers(
                hi - lo,
                pa.py_buffer(offsets[lo : hi + 1] - start),
                pa.py_buffer(table[data[start:end]]),
            )
            split = pc.ascii_split_whitespace(mapped)
            per_row = np.diff(np.frombuffer(split.buffers()[1], dtype=np.int32)[: hi - lo + 1])
            rows = np.repeat(np.arange(hi - lo, dtype=np.int32), per_row)
            encoded = pc.list_flatten(split).dictionary_encode()
            del mapped, split
            codes = encoded.indices.to_numpy()
            # Arrow gives an empty token at a leading or trailing space,
            # where str.split gives none
            empty = pc.index(encoded.dictionary, "").as_py()
            if empty >= 0:
                kept = codes != empty
                codes, rows = codes[kept], rows[kept]
            yield Tokens(lo, hi - lo, codes, rows, encoded.dictionary)

    def search(self, g: Gate, rows: Optional[np.ndarray] = None) -> np.ndarray:
        """``g.pattern.search`` truthiness per row (on the lowered text when
        ``g.lowered``).  RE2 decides which ASCII rows may match, once for
        the batch; CPython ``re`` runs on those and on every non-ASCII
        row.  *rows* restricts the scan to a boolean subset; rows outside
        it come back False."""
        candidates = np.ones(len(self.texts), dtype=bool) if rows is None else rows.copy()
        if g.re2 is not None:
            scope = self.ascii & candidates
            arrow = self.arrow if rows is None else self.arrow.filter(pa.array(rows[self.ascii]))
            hits = pc.match_substring_regex(arrow, pattern=g.re2)
            candidates[scope] = hits.to_numpy(zero_copy_only=False)
        idx = np.flatnonzero(candidates)
        out = np.zeros(len(self.texts), dtype=bool)
        if len(idx):
            search = g.pattern.search
            scanned = map(str.lower, self.texts[idx]) if g.lowered else self.texts[idx]
            out[idx] = [search(t) is not None for t in scanned]
        return out
