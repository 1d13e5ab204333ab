"""Quality scoring: KenLM-style character-bigram perplexity + heuristics.

North-rule addition (no reference counterpart): a deterministic,
self-contained quality filter in the style of large-corpus pipelines
(C4/Gopher-type rules + an n-gram LM perplexity signal).

The LM is a character-bigram model over a 28-symbol alphabet
(a–z, space, OTHER) trained at import time on a small seed corpus
embedded below, with add-one smoothing — no downloads, no files,
bit-identical across processes.  Perplexity is exp of the average
negative log2... (natural log) per-transition surprisal.

Heuristic stats follow the published Gopher rules (Rae et al. 2021,
arXiv:2112.11446 §A1.1): word count, mean word length, symbol ratios,
and repetition (top-token / duplicate-bigram fractions).

Decision policy: ``quality_flagged`` is deliberately conservative and is
NOT part of the default keep/drop aggregate (the parity gate is vs the
reference pipeline, which has no quality classifier); it is emitted as its
own column so a corpus builder can filter on it explicitly.
"""

from __future__ import annotations

import math
import string
from collections import Counter
from typing import List, NamedTuple, Tuple

import pyarrow.compute as pc

from localmod_spark.kernel.prefilter import AsciiBatch, Tokens, ascii_table

# ~1.5 kB of ordinary English prose (written for this module) used purely
# as bigram-statistics seed material.
_SEED_CORPUS = (
    "the quick brown fox jumps over the lazy dog while the sun sets behind "
    "the hills and the river keeps moving toward the sea people gather in "
    "the town square to talk about the harvest and the weather and the news "
    "from distant places a good sentence carries its meaning with simple "
    "words placed in a natural order readers understand text that flows the "
    "way speech flows with subjects and verbs and objects arriving when "
    "expected every language has its own rhythm but english leans on word "
    "order more than most the cat sat on the mat and the child read a book "
    "by the window as rain fell softly on the roof science and art both "
    "begin with careful attention to the world we measure we compare we "
    "describe and then we explain the history of writing is the history of "
    "people trying to hold a thought still long enough to share it markets "
    "open in the morning and close in the evening and between those hours "
    "a thousand small decisions move goods from one hand to another "
    "questions deserve clear answers and clear answers come from clear "
    "thinking practice improves almost every skill from cooking to coding "
    "to playing the piano and patience is the quiet engine of practice"
)

_ALPHABET = "abcdefghijklmnopqrstuvwxyz "  # index 27 = OTHER
_N_SYMBOLS = 28

import numpy as np  # noqa: E402

# byte → symbol index; every byte outside [a-z ] (including each byte of a
# multi-byte UTF-8 char) maps to OTHER.
_BYTE_TO_SYM = np.full(256, 27, dtype=np.int64)
for _i, _c in enumerate(_ALPHABET):
    _BYTE_TO_SYM[ord(_c)] = _i


def _sym_indices(text: str) -> np.ndarray:
    # "surrogatepass": a lone surrogate encodes to three bytes >= 0x80
    encoded = text.lower().encode("utf-8", "surrogatepass")
    return _BYTE_TO_SYM[np.frombuffer(encoded, dtype=np.uint8)]


def bigram_counts(text: str) -> np.ndarray:
    """Raw (unsmoothed) 28×28 transition counts of one text."""
    counts = np.zeros((_N_SYMBOLS, _N_SYMBOLS))
    syms = _sym_indices(text)
    if len(syms) >= 2:
        np.add.at(counts, (syms[:-1], syms[1:]), 1.0)
    return counts


def logprob_table(counts: np.ndarray) -> np.ndarray:
    """Add-one-smoothed row-normalized log-probability table from raw
    transition counts (the static seed-corpus LM's)."""
    sm = counts + 1.0  # add-one smoothing
    return np.log(sm / sm.sum(axis=1, keepdims=True))


def _build_logprob_table() -> np.ndarray:
    return logprob_table(bigram_counts(_SEED_CORPUS))


_LOGPROB = _build_logprob_table()
_LOGPROB_FLAT = _LOGPROB.reshape(-1)

# Every byte except ASCII A-Z/a-z: deleting these from a text's UTF-8
# bytes leaves exactly the chars ``[A-Za-z]`` matched (no IGNORECASE, so
# no Kelvin sign or long s; every byte of a multi-byte char is >= 0x80).
_NON_ALPHA_BYTES = bytes(b for b in range(256) if chr(b) not in string.ascii_letters)

# The batch form's byte tables, each built by asking Python about every
# ASCII character (an ASCII row holds no other byte):
#   * SPACE_BYTES: what ``str.split`` splits at (``\x0b`` and
#     ``\x1c``-``\x1f`` included, unlike Arrow's whitespace) to a space,
#     every other character kept;
#   * _ALPHA_BYTES: 1 where ``_NON_ALPHA_BYTES`` keeps the byte
#     (``[A-Za-z]``), else 0;
#   * _LOWER_SYM: the bigram symbol of the lowered character;
#   * _PAIR_LOGPROB: two bytes, read as one little-endian uint16, to the
#     logprob of the transition between their symbols.
SPACE_BYTES = ascii_table(lambda c: c if c.split() else " ")
_ALPHA_BYTES = np.array([len(bytes([b]).translate(None, _NON_ALPHA_BYTES)) for b in range(256)])
_LOWER_SYM = np.array(
    [_BYTE_TO_SYM[ord(chr(b).lower())] if b < 128 else _N_SYMBOLS - 1 for b in range(256)]
)
_PAIR_LOGPROB = _LOGPROB[_LOWER_SYM[:, None], _LOWER_SYM[None, :]].T.reshape(-1)


def char_perplexity(text: str) -> float:
    """Bigram perplexity over UTF-8 bytes of the lowercased text; 0.0 for
    texts shorter than one transition.  Deterministic; higher = less
    English-like.  (Bytes, not code points: each byte of a multi-byte
    char counts as an OTHER transition — a vectorizable simplification
    that only affects non-ASCII text, which scores as OTHER either way.)"""
    syms = _sym_indices(text)
    if len(syms) < 2:
        return 0.0
    total = _LOGPROB_FLAT[syms[:-1] * _N_SYMBOLS + syms[1:]].sum()
    return math.exp(-total / (len(syms) - 1))


class QualityStats(NamedTuple):
    n_tokens: int
    mean_word_len: float
    alpha_ratio: float       # alphabetic chars / chars
    symbol_word_ratio: float  # '#'/ellipsis per word (Gopher rule)
    top_token_frac: float    # share of the most frequent token
    dup_bigram_frac: float   # share of duplicate word-bigrams
    perplexity: float


_NO_TOKENS = QualityStats(0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)


def quality_stats(text: str) -> QualityStats:
    # str.split() splits on the same whitespace set as sre's \s
    # (Py_UNICODE_ISSPACE) and drops empty tokens, as split-on-\s+ did
    tokens = text.split()
    n = len(tokens)
    n_chars = len(text)
    if n == 0:
        return _NO_TOKENS
    # map(len)/Counter are the C-speed forms of the old per-token Python
    # loops — identical counts, same floats
    mean_len = sum(map(len, tokens)) / n
    # "surrogatepass": a lone surrogate encodes to bytes >= 0x80 too
    n_alpha = len(text.encode("utf-8", "surrogatepass").translate(None, _NON_ALPHA_BYTES))
    alpha = n_alpha / max(n_chars, 1)
    # '#', '…' and '...' never overlap, so these non-overlapping counts sum
    # to the old findall of ``[#…]|\.\.\.``
    symbols = (text.count("#") + text.count("…") + text.count("...")) / n
    top = max(Counter(tokens).values()) / n
    if n >= 2:
        bigrams = list(zip(tokens, tokens[1:]))
        dup = 1.0 - len(set(bigrams)) / len(bigrams)
    else:
        dup = 0.0
    return QualityStats(n, mean_len, alpha, symbols, top, dup, char_perplexity(text))


def _top_and_distinct(tokens: Tokens) -> Tuple[np.ndarray, np.ndarray]:
    """Per row of *tokens*: the count of its most frequent token and the
    number of its distinct token bigrams, from one sort each."""
    codes, rows, n_words = tokens.codes, tokens.rows, len(tokens.words)
    top = np.zeros(tokens.n_rows, dtype=np.int64)
    distinct = np.zeros(tokens.n_rows, dtype=np.int64)
    key = rows.astype(np.int64) * n_words + codes  # (row, token)
    order = np.argsort(key)
    key = key[order]
    run_start = np.empty(len(key), dtype=bool)
    run_start[:1] = True
    np.not_equal(key[1:], key[:-1], out=run_start[1:])
    starts = np.flatnonzero(run_start)
    run_row = key[starts] // n_words  # each (row, token) run's row
    del key
    np.maximum.at(top, run_row, np.diff(starts, append=len(order)))
    # a token's run number times n_words plus the next token's code is the
    # bigram's key: below n_tokens ** 2, so within int64
    run_no = np.empty(len(order), dtype=np.int64)
    run_no[order] = np.cumsum(run_start) - 1
    same_row = rows[1:] == rows[:-1]
    bigrams = np.unique(run_no[:-1][same_row] * n_words + codes[1:][same_row])
    np.add.at(distinct, run_row[bigrams // n_words], 1)
    return top, distinct


def quality_stats_batch(batch: AsciiBatch) -> List[QualityStats]:
    """:func:`quality_stats` of every text of *batch*.  The ASCII rows come
    from their whitespace tokens: per-token length, letter and symbol
    counts summed per row, the top-token count and the distinct bigrams
    from one sort each, and the perplexity as one gather and ``sum`` per
    row of its byte pairs' logprobs (the floats, in the order, that
    :func:`char_perplexity` sums).  The other rows run
    :func:`quality_stats`."""
    out: List[QualityStats] = [None] * len(batch.texts)  # type: ignore[list-item]
    for i in np.flatnonzero(~batch.ascii):
        out[i] = quality_stats(batch.texts[i])
    ascii_rows = np.flatnonzero(batch.ascii).tolist()
    offsets, data = batch.buffers()
    # each byte and the next as one little-endian uint16 (the last byte
    # pairs with none)
    pairs = np.ndarray((max(len(data) - 1, 0),), dtype="<u2", buffer=data, strides=(1,))
    for tokens in batch.tokens(SPACE_BYTES):
        lo, hi = tokens.lo, tokens.lo + tokens.n_rows
        words = tokens.words
        # per distinct token: length, [A-Za-z] count, '#' and '...' count
        # (none spans whitespace, so a row's counts are its tokens' sums)
        ends = np.frombuffer(words.buffers()[1], dtype=np.int32)[: len(words) + 1]
        chars = np.frombuffer(words.buffers()[2], dtype=np.uint8)[: ends[-1]]
        alpha_upto = np.concatenate(([0], np.cumsum(_ALPHA_BYTES[chars])))
        symbols = pc.add(pc.count_substring(words, "#"), pc.count_substring(words, "..."))
        per_row = [
            np.bincount(tokens.rows, weights=per_token[tokens.codes], minlength=tokens.n_rows)
            .astype(np.int64)
            .tolist()
            for per_token in (np.diff(ends), np.diff(alpha_upto[ends]), symbols.to_numpy())
        ]
        n_tokens = np.bincount(tokens.rows, minlength=tokens.n_rows).tolist()
        top, distinct = _top_and_distinct(tokens)
        cols = zip(
            ascii_rows[lo:hi], n_tokens, *per_row, top.tolist(), distinct.tolist(),
            offsets[lo:hi].tolist(), np.diff(offsets[lo : hi + 1]).tolist(),
        )
        for i, n, n_token_chars, n_alpha, n_sym, n_top, n_distinct, start, n_chars in cols:
            if n == 0:
                out[i] = _NO_TOKENS
                continue
            ppl = 0.0
            if n_chars >= 2:
                total = _PAIR_LOGPROB[pairs[start : start + n_chars - 1]].sum()
                ppl = math.exp(-total / (n_chars - 1))
            dup = 1.0 - n_distinct / (n - 1) if n >= 2 else 0.0
            out[i] = QualityStats(
                n, n_token_chars / n, n_alpha / max(n_chars, 1), n_sym / n, n_top / n, dup, ppl
            )
    return out


# Conservative gates: only degenerate text trips the flag.
MAX_MEAN_WORD_LEN = 30.0
MIN_ALPHA_RATIO = 0.05   # (only applied when n_tokens >= 20)
MAX_PERPLEXITY = 26.0    # uniform-random 28-symbol text scores ~= 28


def quality_score(stats: QualityStats) -> float:
    """Composite in [0, 1]; 1 = clean prose.  Deterministic arithmetic."""
    if stats.n_tokens == 0:
        return 1.0  # blank turns are the blank-guard's business, not ours
    penalty = 0.0
    penalty += min(max(stats.perplexity - 18.0, 0.0) / 10.0, 0.4)
    penalty += min(stats.dup_bigram_frac * 0.3, 0.3)
    penalty += min(max(stats.mean_word_len - 12.0, 0.0) / 30.0, 0.2)
    if stats.n_tokens >= 20:
        penalty += min(max(MIN_ALPHA_RATIO - stats.alpha_ratio, 0.0) * 4.0, 0.1)
    return max(0.0, round(1.0 - penalty, 6))


def quality_flagged(stats: QualityStats) -> bool:
    if stats.n_tokens == 0:
        return False
    if stats.mean_word_len > MAX_MEAN_WORD_LEN:
        return True
    if stats.n_tokens >= 20 and stats.alpha_ratio < MIN_ALPHA_RATIO:
        return True
    if stats.perplexity > MAX_PERPLEXITY and stats.n_tokens >= 5:
        return True
    return False
