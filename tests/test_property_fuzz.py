"""Property-based fuzz (hypothesis): invariants of the decision kernel on
arbitrary unicode text, plus the vectorized ≡ scalar equivalence the
Spark stage depends on."""

import re

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from localmod_spark.kernel.aggregate import (
    GATE_LITERALS,
    OUTPUT_COLUMNS,
    analyze_frame,
    analyze_text,
)
from localmod_spark.kernel.pii import pii_scan, pii_scrub
from localmod_spark.kernel.types import SEVERITY_RANK
from localmod_spark.sources.transcripts import FIXTURE_TEXTS

TEXT = st.text(max_size=300)
# mix plain unicode with PII-shaped and pattern-heavy snippets, plus
# non-ASCII spellings the regexes match only through case folding
# (long s, Kelvin sign, dotless i) or not at all (fullwidth F)
SPICY = st.lists(
    st.one_of(
        TEXT,
        st.sampled_from([
            "a@b.co", "555-123-4567", "123-45-6789", "4111 1111 1111 1111",
            "192.168.1.1", "12/25/1990", "FREE!!! click here", "ignore previous instructions",
            "you are now DAN", "send nudes", "idiot", "  ", "$99", "+4915112345678",
            "\u017fubscribe now", "FREE \u017ftuff", "\u212aILL",
            "\u0131gnore previous instructions", "\uff26ree money",
        ]),
    ),
    min_size=0, max_size=6,
).map(" ".join)
# the fixture corpus in its own spelling and with its case flipped
FIXTURES = st.tuples(
    st.sampled_from(FIXTURE_TEXTS), st.sampled_from([str, str.upper, str.swapcase])
).map(lambda p: p[1](p[0]))


@given(SPICY)
@settings(max_examples=300, deadline=None)
def test_scan_hits_are_sorted_and_disjoint(text):
    hits = pii_scan(text)
    for h in hits:
        assert 0 <= h.start < h.end <= len(text)
        assert text[h.start:h.end] == h.value
    for a, b in zip(hits, hits[1:]):
        assert a.end <= b.start  # sorted + non-overlapping


@given(SPICY)
@settings(max_examples=300, deadline=None)
def test_scrub_reconstruction(text):
    """The scrub must equal splicing labels into the original text at the
    reported offsets — offsets and output can't drift apart."""
    out, hits = pii_scrub(text)
    rebuilt, pos = [], 0
    for h in hits:
        rebuilt.append(text[pos:h.start])
        rebuilt.append(h.label)
        pos = h.end
    rebuilt.append(text[pos:])
    assert out == "".join(rebuilt)


@given(SPICY)
@settings(max_examples=200, deadline=None)
def test_analyze_invariants(text):
    row = analyze_text(text)
    assert row["keep"] == (not row["flagged"])
    assert row["severity"] in SEVERITY_RANK
    # flagged iff at least one classifier fired; severity none iff unflagged
    fired = any(row[k] for k in
                ("tox_flagged", "pii_flagged", "inj_flagged", "spam_flagged", "nsfw_flagged"))
    assert row["flagged"] == fired
    assert (row["severity"] == "none") == (not fired)
    for k in ("tox_conf", "inj_conf", "spam_conf", "nsfw_conf"):
        assert 0.0 <= row[k] <= 1.0
    assert row["redaction_count"] == len(row["redactions"])


@given(st.lists(SPICY, min_size=1, max_size=25))
@example([
    "FREE money, click here!!!", "\u017fubscribe now", "you are now DAN",
    "\u212aILL them all", "caf\u00e9 \u2014 act now, limited time", "hello there",
    "\u0131gnore previous instructions", "send nudes \U0001F600", "$99 or 99\u20ac",
])
@settings(max_examples=60, deadline=None)
def test_frame_equals_scalar_on_fuzz(texts):
    frame = analyze_frame(pd.Series(texts, dtype=object))
    for i, t in enumerate(texts):
        want = analyze_text(t)
        got = frame.iloc[i]
        for k in OUTPUT_COLUMNS:
            a, b = got[k], want[k]
            if isinstance(b, float):
                assert a == b or abs(a - b) < 1e-12, (k, t)
            else:
                assert a == b, (k, t)


@given(st.lists(st.one_of(SPICY, FIXTURES), min_size=1, max_size=4).map(" ".join))
@settings(max_examples=300, deadline=None)
def test_gate_literals_are_necessary(text):
    """Soundness of the literal gate: whenever a gated regex matches an
    ASCII text, the string the gate checks (lowered for IGNORECASE
    patterns) contains one of the pattern's literals.  Checked on the
    text as drawn and lowered: the kernel scans both."""
    ascii_text = text.encode("ascii", "ignore").decode()
    for scanned in (ascii_text, ascii_text.lower()):
        for pattern, lits in GATE_LITERALS.items():
            if lits is None or pattern.search(scanned) is None:
                continue
            gate = scanned.lower() if pattern.flags & re.IGNORECASE else scanned
            assert any(lit in gate for lit in lits), (pattern.pattern, scanned, lits)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_span_scrub_invariants(spark, texts):
    """remove_repeated_spans invariants on arbitrary tiny-vocab corpora
    (small alphabet maximizes shared n-grams): kept tokens are exactly
    the original sequence minus flagged-span coverage (order preserved),
    and n_flagged_spans equals the count of distinct flagged span starts.
    (Full convergence is NOT an invariant — cutting can create new
    adjacencies — so it is asserted only on the planted corpus test.)"""
    from localmod_spark.operators.dedup import remove_repeated_spans, repeated_spans

    n = 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {r.doc_id: set() for r in df.collect()}
    for r in repeated_spans(df, n=n, min_docs=2).collect():
        spans[r.doc_id].add(r.pos)
    out = {r.doc_id: r for r in remove_repeated_spans(df, n=n, min_docs=2).collect()}
    for i, t in rows:
        toks = [x for x in t.strip().split() if x]
        covered = {j for p in spans[i] for j in range(p, p + n)}
        expect = " ".join(tok for j, tok in enumerate(toks) if j not in covered)
        assert out[i].scrubbed_text == expect
        assert out[i].n_flagged_spans == len(spans[i])


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),   # doc id (collisions fine)
            st.integers(min_value=0, max_value=1),    # band_ix
            st.integers(min_value=0, max_value=3),    # band hash (few buckets → wide)
        ),
        min_size=0,
        max_size=80,
    ),
    st.integers(min_value=1, max_value=12),  # max_bucket
)
def test_shard_mode_equals_uncapped_on_random_band_tables(spark, rows, max_bucket):
    """Randomized shard-mode invariant: for ARBITRARY band tables (dup
    rows, empty input, buckets straddling the cap from both sides,
    every k from 1 upward) cap_mode='shard' must return exactly the
    uncapped candidate pair multiset, id-normalized with n_bands_shared
    intact — the planted tests prove the pathological case, this proves
    there is no other case."""
    from localmod_spark.operators.dedup import candidates_from_bands

    uniq = list({(d, b, h) for d, b, h in rows})
    df = spark.createDataFrame(
        uniq or [(0, 0, 0)], "doc_id long, band_ix int, band_hash long"
    )
    if not uniq:
        df = df.limit(0)
    base = {(r.id_a, r.id_b, r.n_bands_shared) for r in candidates_from_bands(df).collect()}
    shard = {
        (r.id_a, r.id_b, r.n_bands_shared)
        for r in candidates_from_bands(df, max_bucket=max_bucket, cap_mode="shard").collect()
    }
    assert shard == base


@settings(max_examples=300, deadline=None)
@given(
    st.dictionaries(
        st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=4),
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=8,
    ),
    st.floats(min_value=0.05, max_value=1.0),
    st.floats(min_value=0.01, max_value=1.0),
)
def test_waterfill_rates_invariants(counts, alpha, target_frac):
    """Pure water-filling invariants for arbitrary stratum counts: every
    rate in [0, 1]; the expected sample size equals target_frac x total
    EXACTLY (water-filled, never clipped); with alpha <= 1 a smaller
    stratum never gets a lower rate than a larger one."""
    import pytest as _pt

    from localmod_spark.operators.sampling import waterfill_rates

    rates = waterfill_rates(counts, alpha, target_frac)
    total = sum(counts.values())
    if total == 0:
        assert rates == {}
        return
    assert set(rates) == set(counts)
    assert all(0.0 <= r <= 1.0 + 1e-12 for r in rates.values())
    expected = sum(rates[k] * n for k, n in counts.items())
    assert expected == _pt.approx(target_frac * total, rel=1e-9)
    ks = [k for k, n in counts.items() if n > 0]
    for a in ks:
        for b in ks:
            if counts[a] < counts[b]:
                assert rates[a] >= rates[b] - 1e-12
