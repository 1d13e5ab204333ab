"""Conversation-level context features, one window exchange on conv_id.

North-rule operators W1–W3 (SURVEY §2.5), all in :func:`add_context`:
  W1 stable turn ordering  — row_number over (conv_id, turn_idx);
  W2 conv-level features   — turns/flagged-share per conversation, as
                             unbounded-frame window aggregates over the
                             same conv_id partition;
  W3 repetition heuristic  — exact-duplicate detection of adjacent turns
                             via lag(hash) over the turn ordering.

A hot conversation lands on one task, and Spark's window operator buffers
its rows spillably: one 3M-turn conversation with 400-byte texts (1.2 GB
of text) completes exact on ``local[4]`` with a 1 GB driver heap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType


def add_context(scored: DataFrame, text_col: str = "text") -> DataFrame:
    """W1+W2+W3 fused over ONE shuffle.

    The repetition lag needs an ordered window partitioned by conv_id; the
    conversation aggregates reuse the exact same exchange as unbounded-
    frame window functions, so the expensive scoring stage upstream is
    computed once and shuffled once.  A hot conversation sorts on one
    task; the sort and the window buffer spill, so it stays exact (see
    the module docstring for the measured bound).
    """
    w_ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_all = Window.partitionBy("conv_id")
    h = F.xxhash64(F.col(text_col))
    sev_rank = (
        F.when(F.col("severity") == "critical", 4)
        .when(F.col("severity") == "high", 3)
        .when(F.col("severity") == "medium", 2)
        .when(F.col("severity") == "low", 1)
        .otherwise(0)
    )
    n_turns = F.count(F.lit(1)).over(w_all)
    n_flagged = F.sum(F.col("flagged").cast("long")).over(w_all)
    # one projection: seven chained withColumn calls analyze the plan
    # seven times.  flag_share repeats the two aggregates inside the same
    # Window operator (same partition, no extra exchange or sort).
    return scored.withColumns({
        "turn_rank": F.row_number().over(w_ord),
        "is_repeat_turn": F.coalesce(h == F.lag(h).over(w_ord), F.lit(False)),
        "n_turns": n_turns,
        "n_flagged": n_flagged,
        "n_pii_turns": F.sum(F.col("pii_flagged").cast("long")).over(w_all),
        "max_severity_rank": F.max(sev_rank).over(w_all),
        "flag_share": F.round(n_flagged / n_turns, 6),
    })


def conv_grouped_features(scored: DataFrame) -> DataFrame:
    """Per-conversation ORDERED features via grouped-map ``applyInPandas``
    (SURVEY §2.9): the escape hatch for context logic that window
    functions can't express — here, per-turn cumulative flagged counts,
    inter-turn time gaps, and the longest run of consecutive flagged
    turns up to each position.

    One shuffle on conv_id; each group arrives as one pandas frame sorted
    by turn_idx inside the UDF.  Unlike :func:`add_context`'s spillable
    window, a grouped map holds a whole conversation in one Python
    worker's memory, so the longest conversation must fit there.
    """
    import pandas as pd

    out_schema = StructType(
        list(scored.select("conv_id", "turn_idx").schema.fields)
        + [
            StructField("cum_flagged", IntegerType(), False),
            StructField("gap_seconds", DoubleType(), True),
            StructField("flagged_run_len", IntegerType(), False),
        ]
    )

    def _per_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        flagged = pdf["flagged"].to_numpy()
        cum = flagged.cumsum().astype("int32")
        ts = pd.to_datetime(pdf["ts"])
        gap = ts.diff().dt.total_seconds()
        run, runs = 0, []
        for f in flagged:
            run = run + 1 if f else 0
            runs.append(run)
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].to_numpy(),
                "turn_idx": pdf["turn_idx"].to_numpy(),
                "cum_flagged": cum,
                "gap_seconds": gap.to_numpy(),
                "flagged_run_len": runs,
            }
        )

    slim = scored.select("conv_id", "turn_idx", "flagged", "ts")
    return slim.groupBy("conv_id").applyInPandas(_per_conv, schema=out_schema)


def conv_text(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Order-stable conversation concatenation: one row per conversation,
    turns joined by ``sep`` in ``order_col`` order — the byte-exact input
    to conversation-granularity dedup (a whole-conversation duplicate is
    invisible at turn granularity).

    One exchange on conv_col; ordering is enforced INSIDE the aggregate
    (collect_list of (order, text) structs → array_sort → join), not by a
    pre-sort — sortWithinPartitions before a hash aggregate is not
    guaranteed to survive partial aggregation, so relying on it would be
    silently order-unstable.  A conversation's turn list is one
    aggregation buffer and its text one row, so the longest conversation
    must fit in one task's memory."""
    pair = F.struct(F.col(order_col).alias("_o"), F.col(text_col).alias("_t"))
    return (
        df.groupBy(conv_col)
        .agg(F.array_sort(F.collect_list(pair)).alias("_pairs"))
        .select(
            conv_col,
            F.array_join(F.transform(F.col("_pairs"), lambda p: p["_t"]), sep).alias(
                "conv_text"
            ),
            F.size("_pairs").alias("n_turns"),
        )
    )


def truncate_to_budget(
    df: DataFrame,
    budget: int,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    tokens_col: str = "n_tokens",
    keep: str = "suffix",
) -> DataFrame:
    """Context-window truncation: per conversation, keep the maximal
    contiguous run of turns whose token total fits ``budget``.

    ``keep='suffix'`` keeps the LATEST turns (drop-oldest — how a serving
    stack or a train-time packer trims an over-long conversation);
    ``keep='prefix'`` keeps the earliest.  A turn that alone exceeds the
    budget is dropped with the rest of its conversation side — the caller
    decides whether lone over-budget turns deserve splitting (that is a
    tokenizer-level concern, cf. operators/bpe.py).

    One running-sum window in the chosen direction, then a filter — no
    join, no second pass.  The window partitions by conversation, so a
    hot conversation sorts on one task; the sort and the window buffer
    spill, as in :func:`add_context`.  Emits the surviving rows plus ``cum_tokens`` (the running
    total INCLUDING the row, counted from the kept end).  A NULL token
    count costs zero (SQL ``sum`` skips nulls — identically in every
    engine), so un-counted turns never evict counted ones.
    """
    if keep not in ("suffix", "prefix"):
        raise ValueError(f"keep must be 'suffix' or 'prefix', got {keep!r}")
    order = F.col(idx_col).desc() if keep == "suffix" else F.col(idx_col).asc()
    w = (
        Window.partitionBy(conv_col)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # coalesce BEFORE the sum: a frame of only-NULL costs would otherwise
    # yield a NULL running total, and `NULL <= budget` would drop the
    # newest turns — the opposite of the free-rider contract above
    cum = F.sum(F.coalesce(F.col(tokens_col), F.lit(0))).over(w)
    return df.withColumn("cum_tokens", cum).where(F.col("cum_tokens") <= F.lit(budget))
