"""Language-ID and quality-scoring kernels (north-rule additions)."""

from localmod_spark.kernel.langid import detect_language
from localmod_spark.kernel.quality import (
    char_perplexity,
    quality_flagged,
    quality_score,
    quality_stats,
)


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
