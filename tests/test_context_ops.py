"""Conversation-context operators (W1–W3) on hand-built conversations."""

import pyspark.sql.functions as F

from localmod_spark.operators.context import add_context
from localmod_spark.operators.skew import SALT_COL, salted_agg


def _toy(spark):
    rows = [
        ("a", 0, "hi", True, False, "low"),
        ("a", 1, "hi", False, False, "none"),
        ("a", 2, "yo", True, True, "critical"),
        ("b", 0, "x", False, False, "none"),
        ("b", 1, "x", False, False, "none"),
        ("b", 2, "y", False, False, "none"),
        ("b", 3, "x", False, False, "none"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, flagged boolean, pii_flagged boolean, severity string"
    )


def test_add_context_conv_features(spark):
    feats = {r.conv_id: r for r in add_context(_toy(spark)).collect()}
    assert feats["a"].n_turns == 3 and feats["a"].n_flagged == 2
    assert feats["a"].flag_share == 0.666667
    assert feats["a"].max_severity_rank == 4 and feats["a"].n_pii_turns == 1
    assert feats["b"].n_turns == 4 and feats["b"].n_flagged == 0
    assert feats["b"].max_severity_rank == 0


def test_repetition_lag(spark):
    df = add_context(_toy(spark))
    got = {(r.conv_id, r.turn_idx): (r.turn_rank, r.is_repeat_turn) for r in df.collect()}
    assert got[("a", 0)] == (1, False) and got[("a", 1)] == (2, True)
    assert got[("a", 2)] == (3, False)
    # b: x,x,y,x → repeats only at idx 1 (adjacent equality, not global dup)
    assert got[("b", 1)] == (2, True) and got[("b", 3)] == (4, False)


def _salted_conv_counts(df, salt_buckets):
    partial = [F.count(F.lit(1)).alias("_n"), F.sum(F.col("flagged").cast("long")).alias("_nf")]
    merge = [F.sum("_n").alias("n_turns"), F.sum("_nf").alias("n_flagged")]
    return salted_agg(df, "conv_id", merge, partial, salt_buckets)


def test_salt_deterministic_and_bounded(spark):
    """The phase-1 salt is visible to the merge step as a group column."""
    def salts():
        got = salted_agg(
            _toy(spark).repartition(5), "conv_id",
            [F.sort_array(F.collect_list(SALT_COL)).alias("salts")],
            [F.count(F.lit(1)).alias("_n")], salt_buckets=3,
        )
        return {r.conv_id: r.salts for r in got.collect()}

    first = salts()
    assert all(0 <= s < 3 for ss in first.values() for s in ss)
    assert first == salts()  # no rand() — stable across retries/resume


def test_conv_features_match_unsalted(spark):
    """Salted two-phase agg must equal the naive single-phase plan."""
    toy = _toy(spark)
    naive = {
        r.conv_id: (r.n, r.nf)
        for r in toy.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.sum(F.col("flagged").cast("long")).alias("nf"))
        .collect()
    }
    salted = {
        r.conv_id: (r.n_turns, r.n_flagged) for r in _salted_conv_counts(toy, 3).collect()
    }
    assert naive == salted


def test_conv_grouped_features(spark):
    from localmod_spark.operators.context import conv_grouped_features
    import pyspark.sql.functions as SF

    rows = [
        ("a", 0, True, "2024-01-01 00:00:00"),
        ("a", 1, True, "2024-01-01 00:01:00"),
        ("a", 2, False, "2024-01-01 00:03:00"),
        ("a", 3, True, "2024-01-01 00:03:30"),
        ("b", 0, False, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, flagged boolean, ts string")
    df = df.withColumn("ts", SF.to_timestamp("ts"))
    got = {
        (r.conv_id, r.turn_idx): (r.cum_flagged, r.gap_seconds, r.flagged_run_len)
        for r in conv_grouped_features(df).collect()
    }
    assert got[("a", 0)] == (1, None, 1)
    assert got[("a", 1)] == (2, 60.0, 2)
    assert got[("a", 2)] == (2, 120.0, 0)
    assert got[("a", 3)] == (3, 30.0, 1)
    assert got[("b", 0)] == (0, None, 0)
