"""Deterministic language identification (fastText-style, self-contained).

The north rule adds language-ID on top of the reference's classifiers.
No model downloads are available in the sandbox, so this is a compact,
fully deterministic two-stage identifier in the spirit of fastText's
character-n-gram approach:

  1. **Script vote** — Unicode block ranges decide non-Latin scripts
     outright (CJK, kana, hangul, cyrillic, arabic, hebrew, greek,
     devanagari, thai).
  2. **Latin profiles** — per-language sets of very frequent words plus
     characteristic diacritics, scored as (hits / tokens); argmax with a
     fixed tie-break order.

:func:`detect_language` decides one text; :func:`detect_language_batch`
decides a batch's ASCII rows from one Arrow token pass and runs
:func:`detect_language` on the rest.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from localmod_spark.kernel.prefilter import AsciiBatch, ascii_table

# Fixed evaluation order = deterministic tie-break.
_LATIN_PROFILES: List[Tuple[str, frozenset, str]] = [
    # (lang, stopwords, characteristic-chars regex)
    ("en", frozenset("the of and to in is you that it he was for on are as with his they at be this have from or had by word but not what all were we when your can said there use an each which she do how their if i my me".split()), r""),
    ("es", frozenset("de la que el en y a los del se las por un para con no una su al lo como más pero sus le ya o este sí porque esta entre cuando muy sin sobre también".split()), r"[ñ¿¡]"),
    ("fr", frozenset("de la le et les des en un du une que est pour qui dans a par plus pas au sur ne se ce il sont la vous je nous leur aux avec son".split()), r"[àâçéèêëîïôùûœ]"),
    ("de", frozenset("der die und in den von zu das mit sich des auf für ist im dem nicht ein eine als auch es an werden aus er hat dass sie nach wird bei einer um am sind".split()), r"[äöüß]"),
    ("it", frozenset("di e il la che in a per è un sono della le con si dei non una i al lo gli più ma come dal anche questo".split()), r"[àèéìòù]"),
    ("pt", frozenset("de a o que e do da em um para é com não uma os no se na por mais as dos como mas foi ao ele das tem à seu sua ou".split()), r"[ãõçáâê]"),
    ("nl", frozenset("de van het een en in is dat op te zijn met voor niet aan er ook als bij maar om uit dan zij naar dit worden".split()), r"[ĳ]"),
]

_SCRIPT_RANGES: List[Tuple[str, str]] = [
    ("ja", r"[぀-ヿ]"),            # hiragana/katakana → Japanese
    ("ko", r"[가-힯ᄀ-ᇿ]"),
    ("zh", r"[一-鿿]"),            # CJK ideographs (after kana check)
    ("ru", r"[Ѐ-ӿ]"),
    ("ar", r"[؀-ۿ]"),
    ("he", r"[֐-׿]"),
    ("el", r"[Ͱ-Ͽ]"),
    ("hi", r"[ऀ-ॿ]"),
    ("th", r"[฀-๿]"),
]
_SCRIPT_COMPILED = [(lang, re.compile(pat)) for lang, pat in _SCRIPT_RANGES]
_LATIN_COMPILED = [
    (lang, words, re.compile(chars) if chars else None) for lang, words, chars in _LATIN_PROFILES
]
_WORD_RE = re.compile(r"[a-zà-öø-ÿœĳñ']+")

# token → bitmask of profiles containing it: ONE dict lookup per distinct
# token replaces seven per-profile set intersections in the hot loop
# (identical hit counts by construction; ~2× on profile scoring).
_WORD_TO_MASK: dict = {}
for _i, (_lang, _words, _chars) in enumerate(_LATIN_PROFILES):
    for _w in _words:
        _WORD_TO_MASK[_w] = _WORD_TO_MASK.get(_w, 0) | (1 << _i)
_N_PROFILES = len(_LATIN_PROFILES)

UNKNOWN = "und"

# ASCII byte → its lowered character where that is a ``_WORD_RE`` char,
# else a space: the mapped text's space-split tokens are the findall
# tokens of the lowered text (an ASCII text matches no diacritic class
# and no script range)
WORD_BYTES = ascii_table(lambda c: c.lower() if _WORD_RE.fullmatch(c.lower()) else " ")
_PROFILE_WORDS = [pa.array(sorted(words)) for _lang, words, _chars in _LATIN_PROFILES]
_LANGS = np.array([lang for lang, _words, _chars in _LATIN_PROFILES] + [UNKNOWN], dtype=object)


def detect_language(text: str) -> Tuple[str, float]:
    """Return (lang, confidence).  Deterministic; 'und' for empty/no-signal."""
    if not text or not text.strip():
        return UNKNOWN, 0.0

    # Fast path: pure-ASCII text can match no script range and no
    # diacritic class — identical decisions, ~5× cheaper on real corpora.
    is_ascii = text.isascii()

    if not is_ascii:
        # Stage 1: script vote — first range with >=1 hit wins; confidence
        # is the share of non-space chars in that script.
        n_chars = sum(1 for c in text if not c.isspace()) or 1
        for lang, pat in _SCRIPT_COMPILED:
            hits = len(pat.findall(text))
            if hits:
                return lang, min(hits / n_chars, 1.0)

    # Stage 2: Latin profiles over lowercase word tokens (duplicates count).
    lowered = text.lower()
    tokens = _WORD_RE.findall(lowered)
    if not tokens:
        return UNKNOWN, 0.0
    counts = Counter(tokens)  # C-level; same (token, count) pairs
    hits = [0] * _N_PROFILES
    mask_get = _WORD_TO_MASK.get
    for t, c in counts.items():
        m = mask_get(t)
        if m:
            i = 0
            while m:
                if m & 1:
                    hits[i] += c
                m >>= 1
                i += 1
    best_lang, best_score = UNKNOWN, 0.0
    n_tokens = len(tokens)
    for i, (lang, _words, chars) in enumerate(_LATIN_COMPILED):
        score = hits[i] / n_tokens
        if not is_ascii and chars is not None and chars.search(lowered):
            score += 0.2  # diacritic bonus
        if score > best_score:  # strict > keeps earlier profile on ties
            best_lang, best_score = lang, score
    if best_score == 0.0:
        return UNKNOWN, 0.0
    return best_lang, min(best_score, 1.0)


def detect_language_batch(batch: AsciiBatch) -> Tuple[np.ndarray, np.ndarray]:
    """:func:`detect_language` of every text of *batch*, as (lang, conf)
    arrays.  The ASCII rows are scored from their word tokens: per profile,
    ``pc.is_in`` over the distinct tokens and a per-row count of the hits,
    divided by the row's token count, argmax in profile order (the first
    of equal scores, as the strict ``>`` keeps).  The other rows run
    :func:`detect_language`."""
    m = len(batch.arrow)
    best = np.zeros(m)
    best_ix = np.full(m, _N_PROFILES)
    for tokens in batch.tokens(WORD_BYTES):
        rows = slice(tokens.lo, tokens.lo + tokens.n_rows)
        n_tokens = np.bincount(tokens.rows, minlength=tokens.n_rows)
        chunk_best, chunk_ix = best[rows], best_ix[rows]  # views
        for i, words in enumerate(_PROFILE_WORDS):
            hit = pc.is_in(tokens.words, value_set=words).to_numpy(zero_copy_only=False)
            hits = np.bincount(tokens.rows[hit[tokens.codes]], minlength=tokens.n_rows)
            score = np.divide(hits, n_tokens, out=np.zeros(tokens.n_rows), where=n_tokens > 0)
            better = score > chunk_best
            chunk_best[better] = score[better]
            chunk_ix[better] = i
    langs = np.empty(len(batch.texts), dtype=object)
    confs = np.zeros(len(batch.texts))
    langs[batch.ascii] = _LANGS[best_ix]
    confs[batch.ascii] = np.minimum(best, 1.0)
    for i in np.flatnonzero(~batch.ascii):
        langs[i], confs[i] = detect_language(batch.texts[i])
    return langs, confs
