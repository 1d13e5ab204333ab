"""Seeded input generators for the benchmark workloads.

The program under test only ever sees the generated tables; the seed is
the benchmark's argument.  Two tables:

* ``turns`` — conversation transcripts in the program's transcript schema
  (``conv_id, turn_idx, role, text, tool, ts``).  User turns are fixture
  templates filled with seeded PII values (valid and invalid emails,
  phones, SSNs and cards), plus the spam/injection/toxicity fixtures with
  seeded filler around them.  Assistant and tool turns are slices of a
  seeded document stream, a few hundred to a few thousand characters
  long.  A fixed share of turns lands in a few hot conversations, so the
  conv_id exchange sees the skew the program is built to survive.
  Almost every text is distinct: a per-text memo cannot fake a kernel
  gain.
* ``documents`` — the curation queries' ``documents`` schema
  (``doc_id, text, lang, source, n_chars``): lowercase word streams over a
  small vocabulary, with exact and near duplicates so dedup, clustering
  and span removal have work to do.

Both are pure functions of (seed, size).  :func:`text_stats` records the
distinct-text share and the length distribution of what was generated.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from localmod_spark.sources.transcripts import FILLER_TEXTS, FIXTURE_TEXTS

HOT_CONVS = 3
HOT_SHARE = 0.10
TURNS_PER_CONV = 25
SLICE_CHARS = (200, 3000)  # assistant/tool turn length range (log-uniform)

_BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_TOOLS = ("search", "code", "browser")
_FIRST = ("john", "jane", "ana", "li", "omar", "sara", "ivan", "mei", "raj", "zoe")
_LAST = ("doe", "smith", "garcia", "chen", "khan", "novak", "ito", "okafor")
_DOMAINS = ("example.com", "mail.org", "corp.net", "uni.edu", "shop.co.uk")

# {slot} templates for user turns; every slot gets a fresh seeded value.
_PII_TEMPLATES = (
    "Contact me at {email} for details.",
    "Call me at {phone} anytime.",
    "My SSN is {ssn}",
    "Card number: {card}",
    "Email: {email}, Phone: {phone}, SSN: {ssn}",
    "My email is {email} and my phone is {phone}",
    "Name: {name}\nEmail: {email}\nPhone: {phone}\nSSN: {ssn}\nIP: {ip}",
    "Card: {card} exp {month}/{year}.",
    "Server IP is {ip}",
    "Please send the invoice to {email} before {month}/{day}/{year}.",
)
_PLAIN_FIXTURES = tuple(t for t in FIXTURE_TEXTS if not any(ch.isdigit() for ch in t))

# curation documents: the vocabulary and language mix of the driver's
# synthetic documents table
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002


def _luhn_digit(digits: str) -> int:
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 0:
            d = d * 2 - 9 if d * 2 > 9 else d * 2
        total += d
    return (10 - total % 10) % 10


class _Pii:
    """Seeded PII value factory; about a third of SSNs and cards are
    invalid (bad area number, failed Luhn) so validators have work."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def _pick(self, seq):
        return seq[int(self.rng.integers(len(seq)))]

    def email(self) -> str:
        r = self.rng
        user = f"{self._pick(_FIRST)}{self._pick('._')}{self._pick(_LAST)}{int(r.integers(100))}"
        return f"{user}@{self._pick(_DOMAINS)}"

    def phone(self) -> str:
        r = self.rng
        a, b, c = int(r.integers(200, 999)), int(r.integers(100, 999)), int(r.integers(10000))
        return self._pick((f"{a}-{b}-{c:04d}", f"({a}) {b}-{c:04d}", f"{b}-{c:04d}", f"+1 {a}.{b}.{c:04d}"))

    def ssn(self) -> str:
        r = self.rng
        area = int(r.integers(1, 900)) if r.random() < 0.7 else self._pick((0, 666, 901))
        return f"{area:03d}-{int(r.integers(1, 100)):02d}-{int(r.integers(1, 10000)):04d}"

    def card(self) -> str:
        body = "4" + "".join(str(int(d)) for d in self.rng.integers(0, 10, 14))
        check = _luhn_digit(body + "0")
        if self.rng.random() < 0.3:
            check = (check + 1 + int(self.rng.integers(9))) % 10
        num = body + str(check)
        sep = self._pick(("-", " ", ""))
        return sep.join(num[i:i + 4] for i in range(0, 16, 4))

    def ip(self) -> str:
        hi = 256 if self.rng.random() < 0.8 else 1000
        return ".".join(str(int(x)) for x in self.rng.integers(0, hi, 4))

    def fill(self, template: str) -> str:
        r = self.rng
        return template.format(
            email=self.email(), phone=self.phone(), ssn=self.ssn(), card=self.card(),
            ip=self.ip(), name=f"{self._pick(_FIRST).title()} {self._pick(_LAST).title()}",
            month=int(r.integers(1, 13)), day=int(r.integers(1, 29)), year=int(r.integers(20, 31)),
        )


def _doc_stream(rng: np.random.Generator, pii: _Pii, n_chars: int) -> str:
    """One long seeded document: filler prose with PII-bearing sentences
    at a low rate, from which assistant/tool turns take slices."""
    parts, size = [], 0
    while size < n_chars:
        u = rng.random()
        if u < 0.04:
            s = pii.fill(_PII_TEMPLATES[int(rng.integers(len(_PII_TEMPLATES)))])
        else:
            s = FILLER_TEXTS[int(rng.integers(len(FILLER_TEXTS)))]
        parts.append(s)
        size += len(s) + 1
    return " ".join(parts)


def _user_text(rng: np.random.Generator, pii: _Pii) -> str:
    u = rng.random()
    if u < 0.5:
        return pii.fill(_PII_TEMPLATES[int(rng.integers(len(_PII_TEMPLATES)))])
    base = _PLAIN_FIXTURES[int(rng.integers(len(_PLAIN_FIXTURES)))]
    if u < 0.6:
        return base  # the verbatim fixture, blanks included
    filler = FILLER_TEXTS[int(rng.integers(len(FILLER_TEXTS)))]
    return f"{base} {filler}" if u < 0.8 else f"{filler} {base}"


def turns(seed: int, n_turns: int) -> pd.DataFrame:
    """``n_turns`` transcript rows, deterministic in ``seed``.

    Row ids below ``HOT_SHARE * n_turns`` round-robin into ``HOT_CONVS``
    hot conversations; the rest fill conversations of ``TURNS_PER_CONV``
    turns.  Roles cycle user → assistant → tool by turn index."""
    rng = np.random.default_rng([seed, 1])
    pii = _Pii(rng)
    hot = int(n_turns * HOT_SHARE)
    i = np.arange(n_turns)
    is_hot = i < hot
    conv_no = np.where(is_hot, i % HOT_CONVS, (i - hot) // TURNS_PER_CONV)
    conv_id = [f"hot-{c:03d}" if h else f"conv-{c:08d}" for c, h in zip(conv_no, is_hot)]
    turn_idx = np.where(is_hot, i // HOT_CONVS, (i - hot) % TURNS_PER_CONV).astype("int32")
    role_ix = turn_idx % 3

    lo, hi = SLICE_CHARS
    n_long = int((role_ix != 0).sum())
    lengths = np.exp(rng.uniform(np.log(lo), np.log(hi), n_long)).astype(int)
    stream = _doc_stream(rng, pii, max(int(lengths.sum()) // 4, 4 * hi))
    starts = rng.integers(0, len(stream) - hi, n_long)
    long_texts = iter(stream[s:s + n] for s, n in zip(starts, lengths))
    texts = [_user_text(rng, pii) if r == 0 else next(long_texts) for r in role_ix]

    conv_offset = rng.integers(0, 86400, int(conv_no.max()) + 1)
    seconds = conv_offset[conv_no] + 60 * turn_idx.astype("int64")
    ts = pd.Timestamp(_BASE_TS) + pd.to_timedelta(seconds, unit="s")
    roles = np.array(["user", "assistant", "tool"])[role_ix]
    tools = [_TOOLS[k % 3] if r == 2 else None for k, r in enumerate(role_ix)]
    return pd.DataFrame(
        {"conv_id": conv_id, "turn_idx": turn_idx, "role": roles, "text": texts,
         "tool": tools, "ts": ts}
    )


def documents(seed: int, n_docs: int, near_dup_share: float = NEAR_DUP_SHARE) -> pd.DataFrame:
    """``n_docs`` curation documents, deterministic in ``seed``.  About
    ``near_dup_share`` of them copy an earlier original with its last word
    dropped or one word appended or replaced, and ``EXACT_DUP_SHARE``
    copy one verbatim.  Copying only originals keeps every duplicate
    cluster a star of diameter two, so the clustering's round count does
    not swing with the seed."""
    rng = np.random.default_rng([seed, 2])
    vocab = DOC_VOCAB
    texts: list = []
    originals: list = []  # copies are made of originals only, so no chain grows
    for d in range(n_docs):
        u = rng.random()
        if originals and u < EXACT_DUP_SHARE:
            texts.append(texts[originals[int(rng.integers(len(originals)))]])
        elif originals and u < EXACT_DUP_SHARE + near_dup_share:
            words = texts[originals[int(rng.integers(len(originals)))]].split(" ")
            word = vocab[int(rng.integers(len(vocab)))]
            edit = int(rng.integers(3))
            if edit == 0:
                words = words[:-1]
            elif edit == 1:
                words.append(word)
            else:
                words[int(rng.integers(len(words)))] = word
            texts.append(" ".join(words))
        else:
            originals.append(d)
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[int(k)] for k in rng.integers(0, len(vocab), n)))
    return pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype="int64"), "text": texts,
         "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
         "source": [f"src{d % 20}" for d in range(n_docs)],
         "n_chars": np.array([len(t) for t in texts], dtype="int64")}
    )


def text_stats(texts: pd.Series) -> dict:
    """Distinct-text share and character-length distribution."""
    lens = texts.fillna("").str.len().to_numpy()
    q = np.percentile(lens, [10, 50, 90, 99])
    return {
        "rows": int(len(texts)),
        "distinct_share": round(texts.nunique(dropna=False) / max(len(texts), 1), 4),
        "len_mean": round(float(lens.mean()), 1),
        "len_p10": int(q[0]), "len_p50": int(q[1]), "len_p90": int(q[2]),
        "len_p99": int(q[3]), "len_max": int(lens.max()),
    }


def stage(pdf: pd.DataFrame, path: str, files: int) -> str:
    """Write ``pdf`` as ``files`` parquet files under ``path`` (pyarrow,
    no Spark job), so every workload scans the same on-disk input."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"),
                       coerce_timestamps="us")
    return path
