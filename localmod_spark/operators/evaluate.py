"""Evaluation metrics operator (reference A5).

Computes precision/recall/F1/balanced-accuracy + confusion counts from a
(prediction, label) pair table, exactly as the reference benchmark
harness does (`evaluation/chi2025_benchmark.py:79-115`).  This is the
operator behind the repo's own F1 ≥ 0.99 gate: join the pipeline output
with a reference-label table on (conv_id, turn_idx) and aggregate.

One narrow projection + one global aggregate — partial aggregation makes
the shuffle four longs per upstream partition regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def confusion_counts(pairs: DataFrame, pred_col: str = "pred", label_col: str = "label") -> DataFrame:
    """One row: tp/fp/fn/tn (positive class = flagged/drop)."""
    p = F.col(pred_col).cast("boolean")
    y = F.col(label_col).cast("boolean")
    return pairs.agg(
        F.sum((p & y).cast("long")).alias("tp"),
        F.sum((p & ~y).cast("long")).alias("fp"),
        F.sum((~p & y).cast("long")).alias("fn"),
        F.sum((~p & ~y).cast("long")).alias("tn"),
    )


def _metrics_select(counts: DataFrame, lead_cols=()) -> DataFrame:
    """Metric formulas over a tp/fp/fn/tn table
    (`evaluation/chi2025_benchmark.py:86-115`; zero-guarded the same way:
    empty denominators → 0)."""
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    precision = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    recall = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    tnr = F.when(tn + fp > 0, tn / (tn + fp)).otherwise(F.lit(0.0))
    return counts.select(
        *lead_cols,
        "tp", "fp", "fn", "tn",
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(
            F.when(
                precision + recall > 0, 2 * precision * recall / (precision + recall)
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("f1"),
        F.round((tp + tn) / (tp + fp + fn + tn), 6).alias("accuracy"),
        F.round((recall + tnr) / 2, 6).alias("balanced_accuracy"),
    )


def classification_metrics(
    pairs: DataFrame, pred_col: str = "pred", label_col: str = "label"
) -> DataFrame:
    """One-row precision/recall/F1/accuracy/balanced-accuracy."""
    return _metrics_select(confusion_counts(pairs, pred_col, label_col))


def grouped_metrics(
    pairs: DataFrame, group_cols, pred_col: str = "pred", label_col: str = "label"
) -> DataFrame:
    """Per-DATASET benchmark metrics — the reference harness's dataset
    sweep (`evaluation/chi2025_benchmark.py:343-381` evaluates each
    benchmark split separately and reports a per-dataset metric table).
    ONE grouped aggregate: partial aggregation makes the shuffle four
    longs per (upstream partition, group) regardless of input size — at
    100 TB the sweep costs a single scan, not one job per dataset."""
    p = F.col(pred_col).cast("boolean")
    y = F.col(label_col).cast("boolean")
    counts = pairs.groupBy(*group_cols).agg(
        F.sum((p & y).cast("long")).alias("tp"),
        F.sum((p & ~y).cast("long")).alias("fp"),
        F.sum((~p & y).cast("long")).alias("fn"),
        F.sum((~p & ~y).cast("long")).alias("tn"),
    )
    return _metrics_select(counts, lead_cols=list(group_cols))
