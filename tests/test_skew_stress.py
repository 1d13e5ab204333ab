"""Hot-conversation skew: the pipeline's skew-sensitive stages under an
extreme distribution (one conversation holding ~40% of all turns)."""

import pytest
from pyspark.sql import functions as F

from localmod_spark.operators.context import add_context
from localmod_spark.operators.score import score_turns
from localmod_spark.operators.skew import salted_agg
from localmod_spark.sources.transcripts import synth_transcripts

N = 60_000


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot conversation with 40% of all turns
    df = synth_transcripts(spark, N, n_hot=1, hot_share=0.4, slices=8)
    return df.persist()


def test_skew_shape(skewed):
    sizes = {r.conv_id: r.n for r in skewed.groupBy("conv_id").agg(F.count("*").alias("n")).collect()}
    assert sizes["hot-000"] == int(N * 0.4)


def test_scoring_is_skew_immune(spark, skewed):
    """The fused scoring stage is narrow — per-turn work, no grouping —
    so skew in conv_id cannot serialize it."""
    out = score_turns(skewed)
    assert out.count() == N


def test_conv_features_skew_safe_and_correct(spark, skewed):
    """Salted two-phase aggregation over the skewed table must equal the
    naive single-phase plan, with the hot conversation's phase-1 rows
    spread over several salts."""
    scored = score_turns(skewed).select("conv_id", "turn_idx", "flagged", "pii_flagged", "severity")
    naive = {
        r.conv_id: (r.n, r.f)
        for r in scored.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.sum(F.col("flagged").cast("long")).alias("f"))
        .collect()
    }
    partial = [F.count(F.lit(1)).alias("_n"), F.sum(F.col("flagged").cast("long")).alias("_nf")]
    merge = [
        F.sum("_n").alias("n_turns"),
        F.sum("_nf").alias("n_flagged"),
        F.count(F.lit(1)).alias("n_salts"),
    ]
    rows = salted_agg(scored, "conv_id", merge, partial, salt_buckets=16).collect()
    assert naive == {r.conv_id: (r.n_turns, r.n_flagged) for r in rows}
    assert {r.conv_id: r.n_salts for r in rows}["hot-000"] > 1


def test_full_context_completes_under_skew(spark, skewed):
    """End-to-end with the window stage: completes and conv totals are
    right with the 24k-turn hot conversation on one task (the sort and
    the window buffer spill; context.py records a 3M-turn run)."""
    ctx = add_context(score_turns(skewed))
    hot = ctx.where(F.col("conv_id") == "hot-000").select("n_turns").first()
    assert hot.n_turns == int(N * 0.4)
    assert ctx.count() == N
