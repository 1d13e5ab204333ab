"""Language-ID and quality-scoring kernels (north-rule additions)."""

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import example, given, settings
from hypothesis import strategies as st

from localmod_spark.kernel import prefilter
from localmod_spark.kernel import quality as quality_mod
from localmod_spark.kernel.langid import (
    _WORD_RE,
    WORD_BYTES,
    detect_language,
    detect_language_batch,
)
from localmod_spark.kernel.prefilter import AsciiBatch
from localmod_spark.kernel.quality import (
    SPACE_BYTES,
    char_perplexity,
    quality_flagged,
    quality_score,
    quality_stats,
    quality_stats_batch,
)
from localmod_spark.kernel.toxicity import surrogate_prob, surrogate_prob_batch
from localmod_spark.sources.transcripts import CORPUS, FIXTURE_TEXTS


def test_script_detection():
    assert detect_language("这是一个中文句子，有足够的字符。")[0] == "zh"
    assert detect_language("Это русское предложение для теста.")[0] == "ru"
    assert detect_language("هذه جملة عربية للاختبار والتقييم")[0] == "ar"
    assert detect_language("これは日本語の文です。")[0] == "ja"
    assert detect_language("한국어 문장입니다 테스트")[0] == "ko"


def test_latin_profiles():
    assert detect_language("the cat sat on the mat and it was happy there")[0] == "en"
    assert detect_language("el perro corre por la calle y no se detiene porque está feliz")[0] == "es"
    assert detect_language("der Hund läuft über die Straße und die Kinder spielen im Park")[0] == "de"
    assert detect_language("le chien court dans la rue et les enfants jouent dans le parc")[0] == "fr"


def test_unknown_cases():
    assert detect_language("")[0] == "und"
    assert detect_language("12345 67890 %%%")[0] == "und"


def test_confidence_bounds():
    for t in ["the the the", "xyzzy plugh", "这是中文"]:
        lang, conf = detect_language(t)
        assert 0.0 <= conf <= 1.0


def test_perplexity_orders_text_quality():
    prose = char_perplexity("the quick brown fox jumps over the lazy dog")
    gibberish = char_perplexity("zqxj wvkq zzzz qqqq xjxj kvkv")
    assert prose < gibberish
    assert char_perplexity("") == 0.0
    assert char_perplexity("a") == 0.0


def test_quality_stats_counts():
    s = quality_stats("hello world hello world")
    assert s.n_tokens == 4
    assert s.top_token_frac == 0.5
    assert s.dup_bigram_frac > 0.0  # "hello world" bigram repeats


def test_quality_conservative_on_fixtures():
    # ordinary fixture prose must not trip the quality flag
    for t in [
        "Hello, how are you today?",
        "The weather is nice outside.",
        "Hello world. " * 1000,
        "",
    ]:
        assert not quality_flagged(quality_stats(t)), t


def test_quality_flags_degenerate():
    assert quality_flagged(quality_stats("a" * 500))  # one 500-char word
    assert quality_flagged(
        quality_stats("zzqqxxjj " * 30)  # high perplexity, many tokens
    )


def test_quality_score_bounds():
    for t in ["nice text here", "zzz qqq xxx", "", "a" * 100]:
        assert 0.0 <= quality_score(quality_stats(t)) <= 1.0


def test_ccnet_buckets_terciles_and_monotonicity(spark):
    """Per-group bands are near-equal thirds, ordered head <= middle <=
    tail in perplexity, and the threshold table reaches the bucket join
    as a broadcast (no shuffle on the data side)."""
    from pyspark.sql import functions as F

    from localmod_spark.operators.textstats import ccnet_buckets

    df = spark.createDataFrame(
        [(i, float((i * 7) % 31), "en" if i % 2 else "fr") for i in range(90)],
        "doc_id long, perplexity double, lang string",
    )
    out = ccnet_buckets(df)
    rows = out.collect()
    assert len(rows) == 90
    for lang in ("en", "fr"):
        by = {b: [r["perplexity"] for r in rows if r["lang"] == lang and r["ccnet_bucket"] == b]
              for b in ("head", "middle", "tail")}
        assert all(14 <= len(v) <= 16 for v in by.values()), {k: len(v) for k, v in by.items()}
        assert max(by["head"]) <= min(by["middle"])
        assert max(by["middle"]) <= min(by["tail"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the scale path (t-digest approx thresholds) agrees on comfortable data
    approx = ccnet_buckets(df, exact=False)
    assert sorted(map(tuple, approx.collect())) == sorted(map(tuple, rows))


# 65 words with 64 bigrams, and no penalty but the duplicate-bigram one:
# 5 repeated bigrams make it 0.3 * 5/64 = 0.0234375 exactly, a true tie
# at 6 decimals; 1 repeat makes it 0.3/64, whose score lies a hair above
# the tie 0.9953125
_WORDS = (
    "the quick brown fox jumps over lazy dog while sun sets behind hills and river "
    "keeps moving toward sea people gather in town square to talk about harvest "
    "weather news from distant places a good sentence carries its meaning with simple "
    "words placed natural order readers understand text that flows way speech subjects "
    "verbs objects arriving when expected every language has own rhythm"
).split()
TIE_TEXTS = {
    " ".join(_WORDS[:59] + _WORDS[:6]): 0.976562,
    " ".join(_WORDS[:63] + _WORDS[:2]): 0.995313,
}


def test_quality_score_on_rounding_ties_matches_the_oracle(spark):
    """The kernel rounds its score with Python ``round(x, 6)``; the DuckDB
    oracle gives the same value on an exact tie and next to one."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as em
    from localmod_spark.functions import quality_udf

    for text in TIE_TEXTS:
        st = quality_stats(text)
        assert st.n_tokens == 65 and st.perplexity < 18.0 and st.mean_word_len < 12.0
    texts = list(TIE_TEXTS)
    docs = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = [
        r.q for r in spark.createDataFrame(docs).orderBy("doc_id")
        .select(quality_udf("text").quality_score.alias("q")).collect()
    ]
    con = duckdb.connect()
    con.register("documents", docs)
    want = [r[0] for r in con.execute(
        f"SELECT quality_score FROM ({em._quality_sql()}) ORDER BY doc_id"
    ).fetchall()]
    assert got == want == list(TIE_TEXTS.values())


ASCII_CHARS = [chr(b) for b in range(128)]


def test_byte_tables_follow_pythons_rules():
    """Each byte table of the batch forms, per ASCII character, against
    the rule the per-text form applies to that character."""
    space = ord(" ")
    for c in ASCII_CHARS:
        b = ord(c)
        # langid's tokens: _WORD_RE over the lowered text
        assert chr(WORD_BYTES[b]) == (c.lower() if _WORD_RE.fullmatch(c.lower()) else " "), c
        # quality's tokens: str.split's whitespace
        assert (SPACE_BYTES[b] == space) == (c.split() == []), c
        assert SPACE_BYTES[b] in (b, space), c
        # quality's letters and bigram symbols
        assert quality_mod._ALPHA_BYTES[b] == len(re.findall("[A-Za-z]", c)), c
        assert quality_mod._LOWER_SYM[b] == quality_mod._sym_indices(c)[0], c
    # str.split's whitespace holds \x0b and \x1c-\x1f, which Arrow's does not
    spaces = {c for c in ASCII_CHARS if SPACE_BYTES[ord(c)] == space}
    assert spaces == set(" \t\n\x0b\x0c\r\x1c\x1d\x1e\x1f")
    # every pair of ASCII bytes, read as one little-endian uint16
    pair = np.array([a + 256 * b for a in range(128) for b in range(128)])
    text = "".join(a + b for a in ASCII_CHARS for b in ASCII_CHARS)
    syms = quality_mod._sym_indices(text)
    want = quality_mod._LOGPROB_FLAT[syms[0::2] * quality_mod._N_SYMBOLS + syms[1::2]]
    assert (quality_mod._PAIR_LOGPROB[pair] == want).all()


def test_mapped_bytes_split_only_at_spaces_in_arrow():
    """After either map, the one byte Arrow's whitespace split cuts at is
    the space: every other mapped byte stays inside its token."""
    for table in (WORD_BYTES, SPACE_BYTES):
        mapped = pa.array(["a" + chr(t) + "a" for t in table[:128]])
        split = pc.ascii_split_whitespace(mapped).to_pylist()
        assert [len(x) for x in split] == [2 if t == ord(" ") else 1 for t in table[:128]]


def _batch_tokens(texts, table):
    """Each ASCII text's tokens, read back from AsciiBatch.tokens."""
    out = [[] for _ in texts]
    for tokens in AsciiBatch(np.array(texts, dtype=object)).tokens(table):
        words = tokens.words.to_pylist()
        for row, code in zip(tokens.rows.tolist(), tokens.codes.tolist()):
            out[tokens.lo + row].append(words[code])
    return out


@given(st.lists(st.text(alphabet=st.characters(max_codepoint=127), max_size=40), max_size=8))
@example(["  lead and trail\x1f", "", "don't\x0bIDIOT's\x1c#...", "\x1d\x1e"])
@settings(max_examples=300, deadline=None)
def test_tokens_are_pythons_tokens(texts):
    assert _batch_tokens(texts, WORD_BYTES) == [_WORD_RE.findall(t.lower()) for t in texts]
    assert _batch_tokens(texts, SPACE_BYTES) == [t.split() for t in texts]


def _texts_across_chunks():
    """ASCII and non-ASCII rows, blank and empty ones, and rows long
    enough to fill a token chunk alone."""
    texts = list(CORPUS) + list(FIXTURE_TEXTS)
    texts += ["", "  ", "\x1c", "caf\u00e9 de la", "the " * 300, "IDIOT's don't # ... x"]
    texts += ["".join(reversed(t)) for t in texts]
    return np.array(texts, dtype=object)


def test_batch_forms_equal_per_text_across_token_chunks(monkeypatch):
    """The batch forms give the per-text functions' values exactly,
    whatever rows a token chunk boundary falls between."""
    texts = _texts_across_chunks()
    want_lang = [detect_language(t) for t in texts]
    want_quality = [quality_stats(t) for t in texts]
    want_tox = [surrogate_prob(t) for t in texts]
    for chunk_bytes in (1, 7, 64, 1000, 1 << 18):
        monkeypatch.setattr(prefilter, "_TOKEN_CHUNK_BYTES", chunk_bytes)
        batch = AsciiBatch(texts)
        langs, confs = detect_language_batch(batch)
        assert list(zip(langs, confs)) == want_lang, chunk_bytes
        assert quality_stats_batch(batch) == want_quality, chunk_bytes
        assert surrogate_prob_batch(batch).tolist() == want_tox, chunk_bytes


def test_batch_forms_on_empty_and_all_blank_batches():
    for texts in ([], [""], ["", "   "], ["\u00e9"]):
        batch = AsciiBatch(np.array(texts, dtype=object))
        langs, confs = detect_language_batch(batch)
        assert list(zip(langs, confs)) == [detect_language(t) for t in texts]
        assert quality_stats_batch(batch) == [quality_stats(t) for t in texts]
        assert surrogate_prob_batch(batch).tolist() == [surrogate_prob(t) for t in texts]
