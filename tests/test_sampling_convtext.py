"""Deterministic sampling operators + order-stable conversation text."""

import pytest
from pyspark.sql import functions as F

from localmod_spark.operators.context import conv_text
from localmod_spark.operators.sampling import sample_stratified


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, ["en", "de", "fr", "zh"][i % 4], f"document number {i} body") for i in range(2000)]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string").persist()


def _sample_all(docs, rate):
    """Every stratum at one rate: keep each row iff hash_uniform(id) < rate."""
    return sample_stratified(docs, {}, default_rate=rate)


def test_sample_rate_and_determinism(docs):
    kept = _sample_all(docs, 0.25)
    ids1 = {r.doc_id for r in kept.collect()}
    # approximate rate (hash uniforms, n=2000)
    assert 0.19 < len(ids1) / 2000 < 0.31
    # identical under a different partitioning and on a rebuilt plan —
    # the property df.sample() does NOT give
    ids2 = {r.doc_id for r in _sample_all(docs.repartition(17), 0.25).collect()}
    assert ids1 == ids2


def test_sample_rate_monotone_supersets(docs):
    """Raising the rate must only ADD rows (hash-threshold property) —
    retuning a mix never reshuffles the already-selected sample."""
    small = {r.doc_id for r in _sample_all(docs, 0.1).collect()}
    big = {r.doc_id for r in _sample_all(docs, 0.3).collect()}
    assert small <= big


def test_sample_stratified_rates_and_isolation(docs):
    kept = sample_stratified(docs, {"en": 0.8, "de": 0.2}, default_rate=0.0)
    by_lang = {
        r.lang: r.n for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert 0.7 < by_lang["en"] / 500 < 0.9
    assert 0.12 < by_lang["de"] / 500 < 0.28
    assert "fr" not in by_lang and "zh" not in by_lang  # default 0.0
    # changing ANOTHER stratum's rate must not touch this stratum's sample
    en_before = {r.doc_id for r in kept.where(F.col("lang") == "en").collect()}
    kept2 = sample_stratified(docs, {"en": 0.8, "de": 0.9}, default_rate=0.0)
    en_after = {r.doc_id for r in kept2.where(F.col("lang") == "en").collect()}
    assert en_before == en_after


def test_conv_text_order_stable_under_shuffled_input(spark):
    """The concatenation must come out in turn order no matter how the
    input is partitioned or pre-ordered — the byte-exactness contract."""
    rows = [(f"c{c}", t, f"turn {t} of conv {c}") for c in range(20) for t in range(10)]
    import random

    random.Random(5).shuffle(rows)
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string").repartition(13)
    got = {r.conv_id: (r.conv_text, r.n_turns) for r in conv_text(df).collect()}
    for c in range(20):
        want = "\n".join(f"turn {t} of conv {c}" for t in range(10))
        assert got[f"c{c}"] == (want, 10)


def test_conv_text_feeds_conversation_dedup(spark):
    """Composition: whole-conversation duplicates (invisible at turn
    granularity once order differs across convs) collapse via
    conv_text → exact_dup_groups (one representative per text)."""
    from localmod_spark.operators.dedup import exact_dup_groups

    def conv(cid, texts):
        return [(cid, t, x) for t, x in enumerate(texts)]

    rows = (
        conv("a", ["hi", "how are you", "bye"])
        + conv("b", ["hi", "how are you", "bye"])  # duplicate of a
        + conv("c", ["hi", "bye", "how are you"])  # same turns, other order
    )
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    agg = conv_text(df)
    survivors = sorted(
        r.rep_id
        for r in exact_dup_groups(agg, text_col="conv_text", id_col="conv_id").collect()
    )
    assert survivors == ["a", "c"]  # b collapsed into a; c distinct by order


def test_temperature_rates_recipe_and_waterfill(spark):
    """mT5/CC-100 temperature mixture: alpha<1 up-weights small strata;
    a stratum whose formula rate exceeds 1 is kept entirely with its
    excess budget WATER-FILLED onto the rest, so the expected sample
    size stays exactly target_frac x total."""
    import pytest as _pt

    from localmod_spark.operators.sampling import temperature_rates

    rows = (
        [(i, "big") for i in range(1000)]
        + [(10_000 + i, "mid") for i in range(100)]
        + [(20_000 + i, "tiny") for i in range(4)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = temperature_rates(df, alpha=0.2, target_frac=0.5)
    assert rates["tiny"] == 1.0  # formula rate > 1 -> kept entirely
    assert rates["tiny"] >= rates["mid"] >= rates["big"]  # alpha<1 up-weights small
    counts = {"big": 1000, "mid": 100, "tiny": 4}
    expected = sum(rates[k] * n for k, n in counts.items())
    assert expected == _pt.approx(0.5 * sum(counts.values()))  # water-filled, not clipped
    assert all(0.0 <= r <= 1.0 for r in rates.values())

    # alpha=1 degenerates to plain proportional sampling: uniform rates
    uniform = temperature_rates(df, alpha=1.0, target_frac=0.25)
    assert all(r == _pt.approx(0.25) for r in uniform.values())

    with _pt.raises(ValueError, match="target_frac"):
        temperature_rates(df, target_frac=0.0)
