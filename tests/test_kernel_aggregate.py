"""Aggregation semantics (`src/localmod/pipeline.py:127-171`) and the
vectorized-batch ≡ per-text equivalence that the Spark stage relies on."""

import random
import re
import string

import pandas as pd
import pytest

from localmod_spark.kernel.aggregate import OUTPUT_COLUMNS, analyze_frame, analyze_text
from localmod_spark.kernel.literals import required_literals
from localmod_spark.sources.transcripts import CORPUS


def test_keep_is_not_any_flagged():  # pipeline.py:128
    row = analyze_text("My SSN is 123-45-6789")
    assert row["flagged"] and not row["keep"]
    row = analyze_text("The weather is nice outside.")
    assert row["keep"] and not row["flagged"]


def test_max_severity():  # pipeline.py:129
    # pii critical (ssn) + spam low-ish → overall critical
    row = analyze_text("FREE!!! My SSN is 123-45-6789 click here now!!!")
    assert row["severity"] == "critical"


def test_summary_passed():  # pipeline.py:161-162
    assert analyze_text("hi there")["summary"] == "Content passed all safety checks."


def test_summary_flagged_format_and_order():  # pipeline.py:164-171
    row = analyze_text("Contact me at john.doe@example.com for details.")
    assert row["summary"] == "Content flagged for: pii (medium): email"
    # registry order toxicity→pii→…: toxic+pii text lists toxicity first
    row = analyze_text("you idiot, my SSN is 123-45-6789")
    assert row["summary"].startswith("Content flagged for: toxicity (")
    assert "pii (critical): ssn" in row["summary"]


def test_scrubbed_text_byte_exact_passthrough():
    # unflagged text must pass through unchanged (incl. whitespace)
    t = "Line 1\nLine 2\tTabbed\r\nWindows line"
    assert analyze_text(t)["scrubbed_text"] == t


def test_null_text():
    row = analyze_text(None)
    assert row["keep"] and row["scrubbed_text"] is None and row["n_tokens"] == 0


def _assert_frame_matches_per_text(texts):
    frame = analyze_frame(pd.Series(texts, dtype=object))
    for i, t in enumerate(texts):
        want = analyze_text(t)
        got = frame.iloc[i]
        for k in OUTPUT_COLUMNS:
            a, b = got[k], want[k]
            if isinstance(b, float):
                assert a == pytest.approx(b, abs=1e-12), (i, k, t)
            elif b is None:
                assert a is None or pd.isna(a), (i, k, t)
            else:
                assert a == b, (i, k, repr(t)[:80])


def test_frame_equals_per_text_on_corpus():
    _assert_frame_matches_per_text(CORPUS + [None])


def test_frame_equals_per_text_fuzz():
    rng = random.Random(1234)
    alphabet = string.ascii_letters + string.digits + " .-@+()/\n!?$€"
    words = (
        "free winner urgent click here buy now DAN ignore previous instructions "
        "naked puppies idiot hate die ssn 123-45-6789 test@example.com sensual"
    ).split()
    texts = []
    for _ in range(400):
        if rng.random() < 0.5:
            texts.append(" ".join(rng.choice(words) for _ in range(rng.randint(0, 12))))
        else:
            texts.append("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80))))
    _assert_frame_matches_per_text(texts)


def test_frame_empty_batch_returns_typed_empty_frame():
    """Arrow can hand a UDF a zero-row batch; the guard must return an
    empty frame with the full column set (previously raised TypeError)."""
    out = analyze_frame(pd.Series([], dtype=object))
    assert list(out.columns) == OUTPUT_COLUMNS
    assert len(out) == 0
    assert str(out["keep"].dtype) == "bool"
    assert str(out["redaction_count"].dtype) == "int64"


def test_config_from_env_overrides_and_defaults():
    from localmod_spark.kernel.aggregate import DEFAULT_CONFIG, config_from_env

    cfg = config_from_env({})
    assert cfg == DEFAULT_CONFIG  # unset env keeps the verified defaults
    cfg2 = config_from_env(
        {"LOCALMOD_TOXICITY_THRESHOLD": "0.5", "LOCALMOD_SPAM_THRESHOLD": "0.45"}
    )
    assert cfg2.toxicity_threshold == 0.5 and cfg2.spam_threshold == 0.45
    assert cfg2.injection_threshold == DEFAULT_CONFIG.injection_threshold
    # a raised threshold actually changes decisions
    from localmod_spark.kernel.aggregate import analyze_text

    t = "you are a complete idiot and a moron"
    assert analyze_text(t)["tox_flagged"]
    assert not analyze_text(t, cfg2._replace(toxicity_threshold=0.99))["tox_flagged"]


@pytest.mark.parametrize(
    "pattern, flags, want",
    [
        ("[A-Z]{5,}", re.IGNORECASE, None),  # a range: no literal
        ("[$€£¥]\\s*\\d+", 0, ("$",)),  # only '$' can match in ASCII text
        ("ſ", re.IGNORECASE, ("s",)),  # long s folds onto s/S
        ("K", re.IGNORECASE, ("k",)),  # Kelvin sign folds onto k/K
        ("ſ", 0, ()),  # no ASCII text can match
        ("Hello", re.IGNORECASE, ("hello",)),  # IGNORECASE: lowered space
        ("Hello", 0, ("Hello",)),
        ("\\bact\\s+now\\b", re.IGNORECASE, ("act",)),  # anchors, categories split runs
        ("click\\s+here", 0, ("click",)),  # the longest shortest string wins
        ("you(?!going)", 0, ("you",)),  # a lookaround adds nothing
        ("ab|c", 0, ("ab", "c")),
        ("ab|c*", 0, None),  # one alternative without a literal
        ("x?yz", 0, ("yz",)),  # min 0 repeat: no literal
        ("(?:ab){2,}", 0, ("ab",)),
        ("nude|nudes", 0, ("nude",)),  # a superstring adds no row
        ("(?i:ab)c", 0, ("c",)),  # a local flag change: no literal inside
    ],
)
def test_required_literals_rules(pattern, flags, want):
    assert required_literals(re.compile(pattern, flags)) == want
