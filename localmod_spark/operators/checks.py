"""Data-quality verification: Deequ-style constraint checks, structural
checks on conversations and distribution drift.

Every constraint is a conditional count, so :func:`check_suite` evaluates
a whole suite in ONE aggregation pass.  Approximate-distinct is
deliberately out (HLL sketches are not exactly verifiable cross-engine);
`check_suite` offers exact `uniqueness` as a whole-relation check
instead.

Partition-mergeable quality state (cf. Schelter et al., "Differential
Data Quality Verification on Partitioned Data", ICDE 2019 — PAPERS.md)
is not kept here until a plan's ledger records it; the last version
(``quality_state``/``merge_states``) is in commit 98c8750.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ------------------------------------------------------------- checks ----


@dataclass(frozen=True)
class Check:
    """One verifiable constraint: a row predicate plus the minimum share
    of rows that must satisfy it (1.0 = every row)."""

    name: str
    predicate: Column
    min_pass_share: float = 1.0


def completeness_check(col: str, min_share: float = 1.0) -> Check:
    return Check(f"complete({col})", F.col(col).isNotNull(), min_share)


def in_range_check(col: str, lo, hi, min_share: float = 1.0) -> Check:
    return Check(f"range({col})", F.col(col).between(lo, hi), min_share)


def in_set_check(col: str, values: Sequence, min_share: float = 1.0) -> Check:
    return Check(f"in_set({col})", F.col(col).isin(list(values)), min_share)


def check_suite(df: DataFrame, checks: List[Check], unique_col: Optional[str] = None) -> DataFrame:
    """Evaluate every check in ONE aggregation pass (each check is a
    conditional count — map-side combinable, one row out).  Returns one
    row per check: (check, pass_share, min_pass_share, passed).

    ``unique_col`` adds an exact uniqueness check (distinct/count) — the
    one constraint that genuinely needs a shuffle."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(checks):
        aggs.append(F.sum(c.predicate.cast("long")).alias(f"_p{i}"))
    if unique_col is not None:
        aggs.append(F.countDistinct(unique_col).alias("_u"))
    row = df.agg(*aggs)
    out = []
    for i, c in enumerate(checks):
        out.append(
            (F.lit(c.name), F.round(F.col(f"_p{i}") / F.col("_n"), 6), F.lit(c.min_pass_share))
        )
    if unique_col is not None:
        out.append(
            (F.lit(f"unique({unique_col})"), F.round(F.col("_u") / F.col("_n"), 6), F.lit(1.0))
        )
    rows = F.array(
        *[
            F.struct(n.alias("check"), s.alias("pass_share"), m.alias("min_pass_share"))
            for n, s, m in out
        ]
    )
    return (
        row.select(F.explode(rows).alias("r"))
        .select("r.check", "r.pass_share", "r.min_pass_share")
        .withColumn("passed", F.col("pass_share") >= F.col("min_pass_share"))
    )


# ------------------------------- conversation-structure checks ----


def conversation_checks(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    ts_col: str = "ts",
    first_role: str = "user",
    tool_role: str = "tool",
    min_pass_share: float = 1.0,
) -> DataFrame:
    """Multi-row (ordering) constraints over conversations — the checks a
    transcript ingest must run that single-row Deequ predicates cannot
    express.  One row out per check, same shape as :func:`check_suite`
    (check, pass_share, min_pass_share, passed), where ``pass_share`` is
    the share of CONVERSATIONS satisfying the constraint:

      * ``dense(turn_idx)``   — turn_idx is exactly 0..n-1 (no gaps, no
        dups, zero-based): a hole means a dropped or duplicated turn;
      * ``monotone(ts)``      — timestamps never decrease in turn order;
      * ``first(role)``       — the opening turn has ``first_role``;
      * ``tool_iff_role``     — ``tool_col`` is non-null exactly on
        ``tool_role`` turns (no orphan tool payloads, no missing ones).

    The opening-role check reads the role at the MINIMUM ``idx_col``
    (min_by); a duplicated minimum index would make that pick
    engine-dependent — but a duplicated index is itself a
    ``dense`` violation, so the dense check is the authority there.

    Plan: one lag window for the adjacent-ts comparison, then ONE
    grouped aggregation to conversation grain, then one global
    aggregation — per-conversation state is O(1) regardless of length.
    The window partitions by conversation, so a hot conversation sorts
    on one task; the sort and the window buffer spill, as in
    ``context.add_context``.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    prev_ts = F.lag(ts_col).over(w)
    # coalesce the indicators to 0: a NULL role or ts makes the predicate
    # UNKNOWN, and F.min would silently SKIP it — a structural field being
    # null must count as a violation, not vanish from the conjunction
    rows = df.select(
        F.col(conv_col).alias("_conv"),
        F.col(idx_col).alias("_idx"),
        F.col(role_col).alias("_role"),
        F.coalesce(
            (prev_ts.isNull() | (prev_ts <= F.col(ts_col))).cast("long"), F.lit(0)
        ).alias("_ts_ok"),
        F.coalesce(
            ((F.col(role_col) == tool_role) == F.col(tool_col).isNotNull()).cast("long"),
            F.lit(0),
        ).alias("_tool_ok"),
    )
    conv = rows.groupBy("_conv").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("_idx").alias("_imin"),
        F.max("_idx").alias("_imax"),
        F.countDistinct("_idx").alias("_idist"),
        F.min("_ts_ok").alias("_ts_ok"),
        F.min("_tool_ok").alias("_tool_ok"),
        F.min_by("_role", "_idx").alias("_role0"),
    )
    g = conv.agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum(
            (
                (F.col("_imin") == 0)
                & (F.col("_imax") == F.col("_n") - 1)
                & (F.col("_idist") == F.col("_n"))
            ).cast("long")
        ).alias("_dense"),
        F.sum("_ts_ok").alias("_mono"),
        F.sum(F.col("_role0").eqNullSafe(first_role).cast("long")).alias("_first"),
        F.sum("_tool_ok").alias("_tool"),
    )
    checks = [
        (f"dense({idx_col})", "_dense"),
        (f"monotone({ts_col})", "_mono"),
        (f"first({role_col}={first_role})", "_first"),
        (f"tool_iff_role({tool_col})", "_tool"),
    ]
    rows_arr = F.array(
        *[
            F.struct(
                F.lit(name).alias("check"),
                F.round(F.col(c) / F.col("_c"), 6).alias("pass_share"),
                F.lit(min_pass_share).alias("min_pass_share"),
            )
            for name, c in checks
        ]
    )
    return (
        g.select(F.explode(rows_arr).alias("r"))
        .select("r.check", "r.pass_share", "r.min_pass_share")
        .withColumn("passed", F.col("pass_share") >= F.col("min_pass_share"))
    )


def psi_drift(
    base: DataFrame,
    current: DataFrame,
    col: str,
    breaks: Sequence[float],
    max_psi: float = 0.25,
) -> DataFrame:
    """Population Stability Index between two corpus snapshots — the
    standard drift gate a recurring ingest runs before promoting a new
    increment (PSI < 0.1 stable / 0.1-0.25 drifting / > 0.25 shifted).

    ``breaks`` are EXPLICIT bucket edges (bucket i = #{edges < value}) so
    the metric is deterministic and cross-engine checkable — no
    quantile estimation inside the check.  NULL values are EXCLUDED from
    both sides (a share-of-nulls completeness check is
    :func:`completeness_check`'s job; folding them into a bucket would
    bias every other share).  Both sides reduce to one #buckets-row
    count table (grouped conditional counts, map-side combined) and the
    totals are derived IN-PLAN from those counts via a window over the
    ≤ #buckets joined rows — constructing the result runs NO driver
    actions.  Laplace-smoothed (+0.5 per bucket) so empty buckets never
    produce infinities; an empty side degrades to the uniform
    distribution.

    Output shape matches :func:`check_suite` rows with the INVERTED
    comparison made explicit in the check name: ``pass_share`` carries
    the PSI value and ``passed`` is ``psi <= max_psi``.
    """
    k = len(breaks) + 1

    def bucket(c: Column) -> Column:
        b = F.lit(0)
        for e in breaks:
            b = b + (c > F.lit(float(e))).cast("int")
        return b

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.where(F.col(col).isNotNull())
            .select(bucket(F.col(col)).alias("_b"))
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias(name))
        )

    all_buckets = base.sparkSession.range(k).select(F.col("id").cast("int").alias("_b"))
    j = all_buckets.join(counts(base, "_nb"), "_b", "left").join(
        counts(current, "_nc"), "_b", "left"
    )
    w = Window.partitionBy()
    nb = F.coalesce(F.sum("_nb").over(w), F.lit(0))
    nc = F.coalesce(F.sum("_nc").over(w), F.lit(0))
    shares = j.select(
        ((F.coalesce(F.col("_nb"), F.lit(0)) + 0.5) / (nb + F.lit(0.5 * k))).alias("_p"),
        ((F.coalesce(F.col("_nc"), F.lit(0)) + 0.5) / (nc + F.lit(0.5 * k))).alias("_q"),
    )
    psi = shares.agg(
        F.round(F.sum((F.col("_q") - F.col("_p")) * F.log(F.col("_q") / F.col("_p"))), 6).alias(
            "_psi"
        )
    )
    return psi.select(
        F.lit(f"psi({col})<={max_psi}").alias("check"),
        F.col("_psi").alias("pass_share"),
        F.lit(float(max_psi)).alias("min_pass_share"),
        (F.col("_psi") <= F.lit(float(max_psi))).alias("passed"),
    )
