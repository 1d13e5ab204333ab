"""Aggregation semantics (`src/localmod/pipeline.py:127-171`) and the
vectorized-batch ≡ per-text equivalence that the Spark stage relies on."""

import random
import re
import string

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from localmod_spark.kernel import injection as inj_mod
from localmod_spark.kernel import nsfw as nsfw_mod
from localmod_spark.kernel import spam as spam_mod
from localmod_spark.kernel.aggregate import GATES, OUTPUT_COLUMNS, analyze_frame, analyze_text
from localmod_spark.kernel.prefilter import re2_prefilter
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


def test_lone_surrogate_text_scores_in_both_forms():
    """A lone surrogate (a Spark string can carry one) cannot encode to
    strict UTF-8; quality's byte view encodes it with "surrogatepass", so
    analyze_text and analyze_frame score it instead of raising."""
    t = "\ud800 lone 555-123-4567 idiot"
    row = analyze_text(t)
    assert row["pii_flagged"] and row["tox_flagged"] and row["n_tokens"] == 4
    assert row["scrubbed_text"] == "\ud800 lone [PHONE] idiot"
    _assert_frame_matches_per_text([t, "plain text", "\ud800"])


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


def _re2_matches(source, texts):
    return pc.match_substring_regex(pa.array(list(texts), pa.string()), pattern=source).to_pylist()


# want: (ASCII texts the prefilter must match, ASCII texts it must not
# match), or None when the pattern has no prefilter
@pytest.mark.parametrize(
    "pattern, flags, want",
    [
        ("[A-Z]{5,}", re.IGNORECASE, (("abcde", "xABCDE"), ("abcd", "ab cde"))),
        ("[$€£¥]\\s*\\d+", 0, (("$ 5", "$\x0b5"), ("5$", "$x5"))),  # only '$' is ASCII
        ("ſ", re.IGNORECASE, (("s", "S"), ("t",))),  # long s folds onto s/S
        ("K", re.IGNORECASE, (("k", "K"), ("x",))),  # Kelvin sign folds onto k/K
        ("ſ", 0, ((), ("s", "S", ""))),  # no ASCII text can match
        ("Hello", re.IGNORECASE, (("hello", "HeLLo"), ("hell",))),
        ("Hello", 0, (("Hello",), ("hello",))),
        ("\\bact\\s+now\\b", re.IGNORECASE, (("ACT\x0bnow", "act \x1c now"), ("react now", "act nowhere", "act_now"))),
        ("click\\s+here", 0, (("click\x1fhere", "click\x1dhere"), ("clickhere",))),  # Python's \s
        ("you(?!going)", 0, (("yougoing",), ("yo",))),  # a lookahead is dropped
        ("ab|c", 0, (("ab", "c"), ("a", "b"))),
        ("ab|c*", 0, (("", "z"), ())),  # matches the empty string
        ("x?yz", 0, (("yz", "xyz"), ("xz",))),
        ("(?:ab){2,}", 0, (("abab",), ("ab", "aba b"))),
        ("nude|nudes", 0, (("nudes",), ("nud",))),
        ("(?i:ab)c", 0, (("ABc",), ("ABC",))),  # a local flag group
        ("a$", 0, (("a\n", "ab"), ("b",))),  # $ before a final newline: anchors drop
        ("\\s", 0, (("\x0b", "\x1c", "\x1d", "\x1e", "\x1f"), ("a", "_"))),
        ("[\\s\\S]x", 0, (("\nx",), ("x",))),  # a class of complementary categories
        ("\\bDAN\\b", re.IGNORECASE, (("dan.", "a dan"), ("dan_", "1dan", "dan2"))),
        ("[^a]", re.IGNORECASE, (("b",), ("a", "A", ""))),
        (".", 0, (("a",), ("\n", ""))),
        ("(a)\\1", 0, None),  # a backreference
        ("a{1001}", 0, None),  # above RE2's repeat limit
        ("(?>ab)c", 0, None),  # an atomic group
    ],
)
def test_required_literals_rules(pattern, flags, want):
    """The RE2 prefilter's rules (kernel/prefilter.py), row by row; every
    text a row lists that Python matches, RE2 must match too."""
    compiled = re.compile(pattern, flags)
    source = re2_prefilter(compiled)
    if want is None:
        assert source is None
        return
    matched, unmatched = want
    assert _re2_matches(source, matched) == [True] * len(matched)
    assert _re2_matches(source, unmatched) == [False] * len(unmatched)
    assert all(compiled.search(t) is None for t in unmatched)


def test_lowered_prefilter_decides_the_lowered_scan():
    """A lowered prefilter matches, over the original text, what the
    pattern matches on the lowered text."""
    compiled = re.compile("nsfw|k")  # case-sensitive, scanned lowered
    source = re2_prefilter(compiled, lowered=True)
    assert _re2_matches(source, ["NSFW", "nSfW", "K", "x"]) == [True, True, True, False]
    assert _re2_matches(re2_prefilter(compiled), ["NSFW", "K"]) == [False, False]


def test_every_kernel_pattern_has_a_prefilter_re2_compiles():
    """A pattern edit that loses the prefilter would silently scan every
    row in CPython ``re``."""
    assert set(GATES) == {
        *(p for _, p, _ in spam_mod._COMPILED),
        *(p for _, p in inj_mod._CAT_ALT),
        nsfw_mod._KEYWORD_ALT, nsfw_mod._SUGGESTIVE_ALT, nsfw_mod._SAFE_ALT,
    }
    for g in GATES.values():
        assert g.re2 is not None, g.pattern.pattern
        _re2_matches(g.re2, ["x"])  # raises if RE2 rejects it
