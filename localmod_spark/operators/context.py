"""Conversation-level context features (window + salted aggregation).

North-rule operators W1–W3 (SURVEY §2.5):
  W1 stable turn ordering  — row_number over (conv_id, turn_idx);
  W2 conv-level features   — turns/flagged-share per conversation,
                             computed skew-safely (salted two-phase agg +
                             broadcast-capable join back), NOT a window —
                             a window over conv_id would serialize hot
                             conversations onto single tasks;
  W3 repetition heuristic  — exact-duplicate detection of adjacent turns
                             via lag(hash) over the turn ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from localmod_spark.operators.skew import salted_agg


def conv_features(scored: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """W2: per-conversation aggregate features, hot-key safe.

    Returns one row per conv_id: n_turns, n_flagged, flag_share,
    n_pii_turns, max_severity_rank.  Sums/counts are decomposable, so the
    salted two-phase plan keeps every reducer's input bounded at
    n_turns(conv)/salt_buckets regardless of skew.
    """
    sev_rank = (
        F.when(F.col("severity") == "critical", 4)
        .when(F.col("severity") == "high", 3)
        .when(F.col("severity") == "medium", 2)
        .when(F.col("severity") == "low", 1)
        .otherwise(0)
    )
    with_rank = scored.withColumn("_sev_rank", sev_rank)
    partial = [
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("flagged").cast("long")).alias("_nf"),
        F.sum(F.col("pii_flagged").cast("long")).alias("_np"),
        F.max("_sev_rank").alias("_ms"),
    ]
    merge = [
        F.sum("_n").alias("n_turns"),
        F.sum("_nf").alias("n_flagged"),
        F.sum("_np").alias("n_pii_turns"),
        F.max("_ms").alias("max_severity_rank"),
    ]
    feats = salted_agg(with_rank, "conv_id", merge, partial, salt_buckets, salt_key="turn_idx")
    return feats.withColumn(
        "flag_share", F.round(F.col("n_flagged") / F.col("n_turns"), 6)
    )


def with_conv_features(scored: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Join W2 features back onto turns.  The feature side has one row per
    conversation — orders of magnitude smaller than the turn side — and
    AQE converts the join to broadcast when it fits, else splits skew.

    NOTE: this branches the input plan (agg side + probe side), so Spark
    recomputes upstream stages twice unless the caller persists.  Inside
    the pipeline prefer :func:`add_context`, which computes the same
    features in the single conv_id exchange the repetition window already
    pays for."""
    return scored.join(conv_features(scored, salt_buckets), "conv_id", "left")


def add_context(scored: DataFrame, text_col: str = "text") -> DataFrame:
    """W1+W2+W3 fused over ONE shuffle.

    The repetition lag needs an ordered window partitioned by conv_id; the
    conversation aggregates reuse the exact same exchange as unbounded-
    frame window functions, so the expensive scoring stage upstream is
    computed once and shuffled once.  (For pathologically hot
    conversations switch to `with_conv_features` + `with_repetition`
    bounded by day — see those docstrings.)
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


def add_context_bounded(scored: DataFrame, text_col: str = "text") -> DataFrame:
    """W1+W2+W3 for PATHOLOGICAL hot conversations (millions of turns):
    the ordered window is bounded by day — ``(conv_id, to_date(ts))`` —
    so no single task ever sorts more than one conversation-day, while
    the conversation-level aggregates (W2) come from the salted two-phase
    plan joined back (AQE broadcasts the tiny feature side).

    Trade-offs vs :func:`add_context` (documented, deliberate):
    ``turn_rank`` restarts per day and ``is_repeat_turn`` can't see a
    duplicate across a midnight boundary — repetition across days is
    rare, and the alternative is serializing a million-turn sort on one
    task.  Same output columns, so the two variants are drop-in."""
    w_ord = Window.partitionBy("conv_id", F.to_date("ts")).orderBy("turn_idx")
    h = F.xxhash64(F.col(text_col))
    per_day = (
        scored.withColumn("turn_rank", F.row_number().over(w_ord))
        .withColumn("is_repeat_turn", F.coalesce(h == F.lag(h).over(w_ord), F.lit(False)))
    )
    return per_day.join(conv_features(scored), "conv_id", "left")


def conv_grouped_features(scored: DataFrame) -> DataFrame:
    """Per-conversation ORDERED features via grouped-map ``applyInPandas``
    (SURVEY §2.9): the escape hatch for context logic that window
    functions can't express — here, per-turn cumulative flagged counts,
    inter-turn time gaps, and the longest run of consecutive flagged
    turns up to each position.

    One shuffle on conv_id; each group arrives as one pandas frame sorted
    by turn_idx inside the UDF.  Same skew caveat as any per-conversation
    grouping: bound pathological conversations by day upstream.
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
    silently order-unstable.  Same skew note as every per-conversation
    grouping: bound pathological conversations upstream."""
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


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """W3: adjacent-duplicate-turn detection via lag over the turn order.

    Uses xxhash64(text) equality, so only 8 bytes per row cross the
    shuffle beyond the sort key.  Note: an ordered window over conv_id
    cannot be salted (ordering is global per conversation); for hot
    conversations bound the window by day via
    ``partitionBy(conv_id, to_date(ts))`` — repetition across a boundary
    is rare and the cost drops to the day's turn count.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    h = F.xxhash64(F.col(text_col))
    return df.withColumn(
        "is_repeat_turn",
        F.coalesce(h == F.lag(h).over(w), F.lit(False)),
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
    join, no second pass.  The window partitions by conversation: length
    is bounded by the upstream context-window itself (a conversation a
    model can consume fits in memory), and day-bounded splitting
    (add_context_bounded) is the guard for pathological never-ending
    streams.  Emits the surviving rows plus ``cum_tokens`` (the running
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
