"""Deterministic sampling for training-corpus construction.

``df.sample()`` is the wrong tool for corpus building at 10^12 rows: its
Bernoulli draw depends on partition layout and rerun seed plumbing, so a
resumed or re-planned job samples a DIFFERENT subset.  These operators
key every decision on a content-stable hash of the row id instead —

  * reproducible: same ids → same sample, any partitioning, any rerun
    (exactly what a checkpoint-resumable pipeline needs: a wave that
    reruns must re-select the same rows);
  * shuffle-free: a narrow filter, no global count, no sort;
  * engine-independent: MD5-based uniforms, so a SQL oracle (DuckDB)
    reproduces the exact keep set — same trick as the media/simhash
    oracles.

The hash uniform is ``first 8 hex chars of md5(id) / 2^32`` — 32 bits of
mantissa is ample for sampling rates down to ~1e-8.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_uniform(col: Column) -> Column:
    """Deterministic U[0,1) from any column (via its string form)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(1 << 32))


def sample_stratified(
    df: DataFrame,
    rates: Mapping[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum rate sampling (the training-mix knob: e.g. keep 50% of
    English, 10% of everything else).  The stratum only selects the RATE;
    the keep decision still hashes the id, so changing one stratum's rate
    never reshuffles another stratum's sample — mixes can be retuned
    incrementally without invalidating downstream caches."""
    pairs = []
    for k, v in rates.items():
        pairs += [F.lit(k), F.lit(float(v))]
    rate = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(stratum_col)),
        F.lit(float(default_rate)),
    )
    return df.where(hash_uniform(F.col(id_col)) < rate)


def temperature_rates(
    df: DataFrame,
    alpha: float = 0.3,
    target_frac: float = 0.3,
    stratum_col: str = "lang",
) -> dict:
    """Per-stratum keep rates for TEMPERATURE-BASED mixture sampling —
    the mT5/CC-100 recipe: the probability of drawing a document from
    stratum ``l`` is ``p_l ∝ n_l^alpha`` (``alpha < 1`` up-weights
    low-resource strata), so with a target of ``T = target_frac · N``
    sampled rows the keep rate is ``r_l = T · n_l^(alpha-1) / Σ n^alpha``.

    Rates above 1 are WATER-FILLED, not just clipped: a stratum whose
    formula rate exceeds 1 is kept entirely and its mass re-distributed
    over the remaining strata (iterating driver-side over the ≤ |strata|
    fixings) — so the expected sample size stays ``T`` exactly, matching
    the published recipe's behavior for tiny languages.

    One grouped count (|strata| rows to the driver — languages/domains,
    never data-sized); the returned dict feeds
    :func:`sample_stratified`, so the keep decisions stay hash-
    deterministic, shuffle-free and per-stratum independent."""
    if not 0 < target_frac <= 1:
        raise ValueError(f"target_frac must be in (0, 1], got {target_frac}")
    counts = {
        r[stratum_col]: r["n"]
        for r in df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return waterfill_rates(counts, alpha, target_frac)


def waterfill_rates(counts: Mapping[str, int], alpha: float, target_frac: float) -> dict:
    """The pure water-filling math behind :func:`temperature_rates`
    (separated so its invariants are property-testable without Spark):
    rates ∈ [0, 1], Σ rate·n == target_frac·Σn exactly, and with
    ``alpha ≤ 1`` smaller strata never get a lower rate than larger
    ones."""
    total = sum(counts.values())
    if not total:
        return {}
    budget = target_frac * total
    rates = {k: 0.0 for k in counts}
    free = {k: n for k, n in counts.items() if n > 0}
    while free and budget > 0:
        denom = sum(n ** alpha for n in free.values())
        over = {
            k for k, n in free.items() if budget * (n ** alpha) / denom >= n
        }
        if not over:
            for k, n in free.items():
                rates[k] = budget * (n ** (alpha - 1)) / denom
            break
        for k in over:  # kept entirely; redistribute their budget share
            rates[k] = 1.0
            budget -= free.pop(k)
    return rates


def waterfill_budgets(
    avail: Mapping[str, int], weights: Mapping[str, float], total: float
) -> dict:
    """Per-source TOKEN budgets for weighted corpus mixing, water-filled
    (the :func:`waterfill_rates` shape, over weights instead of a
    temperature formula): start from ``b_s = total · w_s / Σw``; any
    source whose budget exceeds its available tokens is taken whole and
    its unmet share redistributed over the remaining sources
    proportionally to THEIR weights, iterating (≤ |sources| fixings,
    driver-side).  Invariants (property-tested): ``b_s ≤ avail_s``,
    ``Σ b_s == min(total, Σ avail over weighted sources)``, and
    unsaturated budgets stay exactly weight-proportional.

    Sources with zero/negative weight or nothing available get 0 —
    weighting a source out of the mix must not leak budget to it."""
    budgets = {s: 0.0 for s in weights}
    free = {s: float(w) for s, w in weights.items() if w > 0 and avail.get(s, 0) > 0}
    remaining = float(total)
    while free and remaining > 0:
        wsum = sum(free.values())
        # remaining * (w / wsum), NOT (remaining * w) / wsum: the share
        # ratio is always in (0, 1], so the product cannot underflow for
        # tiny absolute weights (the ratio form is also what the oracle
        # generator replicates literally)
        over = {s for s, w in free.items() if remaining * (w / wsum) >= avail[s]}
        if not over:
            for s, w in free.items():
                budgets[s] = remaining * (w / wsum)
            break
        for s in over:  # source runs dry: take it whole, refill the rest
            budgets[s] = float(avail[s])
            remaining -= avail[s]
            free.pop(s)
    return budgets


def mix_corpora(
    df: DataFrame,
    weights: Mapping[str, float],
    total_budget: int,
    source_col: str = "source",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    order_by=None,
    avail: "Mapping[str, int] | None" = None,
) -> DataFrame:
    """Weighted multi-source mixing to an exact total token budget — the
    training-mixture composer: given per-source weights and a corpus
    with a token-count column, keep each source's deterministic-order
    prefix whose cumulative tokens fit its water-filled share of the
    budget.  Appends ``cum_tokens``.

    Plan shape at 10^12 rows: one partial-aggregated grouped count
    (|sources| rows to the driver — corpora/domains, never data-sized),
    the driver water-fill, a broadcast join against the |sources|-row
    budget table, and ONE window exchange on the source key.  Like
    :func:`select_token_budget`, a source is its whole window partition —
    keep sources at corpus/domain granularity, or pre-prune with
    :func:`select_token_budget_scalable`'s histogram before the exact
    cut.  Default order is the deterministic md5 shuffle order
    (rerun/partitioning-stable, source-interleaved); pass ``order_by``
    (ending with the id column) for quality-ranked mixing instead.

    A source whose budget exceeds its stock is kept WHOLE and the
    leftover re-spread over the other sources by weight — so the
    selected total stays at ``total_budget`` (to within one document per
    source) until the weighted corpus itself is exhausted.

    ``avail`` (optional): precomputed per-source token totals — pass it
    when the caller already aggregated them (e.g. for its own saturation
    checks) so the corpus is scanned once, not twice."""
    from pyspark.sql import Window

    if avail is None:
        avail = {
            r[source_col]: r["_t"]
            for r in df.groupBy(source_col)
            .agg(F.sum(F.col(token_col).cast("long")).alias("_t"))
            .collect()
        }
    ghosts = [s for s, w in weights.items() if w > 0 and not avail.get(s)]
    if ghosts:
        # a weighted source with no tokens is almost always a typo (or a
        # whitespace artifact of CLI parsing) — its share silently
        # refills the OTHER sources, so say it loudly
        import warnings

        warnings.warn(
            f"mix_corpora: weighted sources {ghosts!r} have no tokens in the "
            f"input (present sources: {sorted(map(str, avail))!r}); their "
            "budget share redistributes to the remaining sources",
            stacklevel=2,
        )
    budgets = waterfill_budgets(avail, weights, total_budget)
    if order_by is None:
        order_by = (hash_uniform(F.col(id_col)).asc(), F.col(id_col).asc())
    spark = df.sparkSession
    stype = df.schema[source_col].dataType.simpleString()
    bt = spark.createDataFrame(
        [(s, float(b)) for s, b in budgets.items() if b > 0],
        f"{source_col} {stype}, _budget double",
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col).cast("long")).over(w)
    return (
        df.join(F.broadcast(bt), source_col)
        .withColumn("cum_tokens", cum)
        .where(F.col("cum_tokens") <= F.col("_budget"))
        .drop("_budget")
    )


def select_token_budget(
    df: DataFrame,
    budget: int,
    order_by,
    token_col: str = "n_tokens",
    group_cols=("lang",),
) -> DataFrame:
    """Quality-ranked TOKEN-BUDGET selection — the training-mixture
    builder's final cut: per group (language/domain), walk the docs in
    quality order and keep them while the cumulative token count stays
    within the group's budget.  Appends ``cum_tokens``.

    ``order_by`` must be a deterministic total order (end it with the id
    column) — the selection is then rerun/partitioning-stable like the
    hash samplers above.  One window per group (a single exchange on the
    group key); a running ``rows between unbounded preceding`` sum —
    no driver-side iteration, no second pass.  At 10^12 rows a single
    group IS its whole sort partition, so keep groups at
    language × domain-shard granularity (the same bounding rule as
    ``pack_greedy``) or pre-prune with a cheap quality floor before the
    exact budget cut."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col).cast("long")).over(w)
    return df.withColumn("cum_tokens", cum).where(F.col("cum_tokens") <= budget)


def select_token_budget_scalable(
    df: DataFrame,
    budget: int,
    score_col: str,
    token_col: str = "n_tokens",
    group_cols=("lang",),
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    score_range=(0.0, 1.0),
) -> DataFrame:
    """:func:`select_token_budget` with the window's input bounded by the
    BUDGET instead of the corpus — the 10^12-row shape.

    The exact operator sorts each whole group in one window partition; at
    scale a group is the entire language.  Two phases fix that without
    changing a single output row:

      1. **Histogram prune** (one partial-aggregated pass): bucket the
         quality score into ``n_buckets`` fixed bins, sum tokens per
         (group, bin) — only ``groups × n_buckets`` rows reach the
         driver — and walk each group's bins best-first until the budget
         would overflow.  Bins strictly above the crossing bin fit
         entirely; bins below can contain no selected doc.
      2. **Exact window on the pruned set**: keep rows with
         ``bin >= crossing bin`` (a broadcast join against the tiny
         boundary table) and run the EXACT operator on them.  The pruned
         set is prefix-closed under (score desc, id asc) — every row
         preceding a kept row is itself pruned-in — so the prefix sums,
         the kept set, and ``cum_tokens`` are IDENTICAL to the
         single-window operator (equality-tested, ties included), while
         the window now sorts ~budget/avg_tokens rows plus one bin's
         worth instead of the whole group."""
    lo, hi = score_range
    if not float(hi) > float(lo):
        raise ValueError(f"score_range must satisfy lo < hi, got {score_range}")
    width = (float(hi) - float(lo)) / n_buckets
    # NULL scores sort LAST under the exact operator's desc order (Spark
    # desc = nulls last), i.e. worst quality — give them their own bin
    # below every real one so the prune treats them identically
    bucket = F.when(F.col(score_col).isNull(), F.lit(-1)).otherwise(
        F.greatest(
            F.least(
                F.floor((F.col(score_col) - F.lit(float(lo))) / F.lit(width)),
                F.lit(n_buckets - 1),
            ),
            F.lit(0),
        )
    ).cast("int")
    # two passes read `bucketed` (histogram, then the pruned window) —
    # persist so an expensive upstream (the token/score expressions are
    # typically UDF or split-heavy projections) computes once; the block
    # is registered for release like the dedup sketch caches
    from pyspark.storagelevel import StorageLevel

    from localmod_spark.cache_registry import register_stage_cache

    bucketed = register_stage_cache(
        df.withColumn("_qb", bucket).persist(StorageLevel.MEMORY_AND_DISK)
    )
    hist_df = bucketed.groupBy(*group_cols, "_qb").agg(
        F.sum(F.col(token_col).cast("long")).alias("_t")
    )
    # the driver-side bin walk holds groups × n_buckets histogram rows —
    # bounded by GROUP CARDINALITY, not data size; probe the bound with a
    # DISTRIBUTED count BEFORE collecting, so a caller who groups by a
    # high-cardinality key (user_id...) fails loudly instead of OOMing
    # the driver inside the collect.  The intended granularity is
    # language × domain-shard (thousands of groups at most); the probe's
    # second aggregation pass reads the persisted input.
    _HIST_LIMIT = 2_000_000
    n_cells = hist_df.limit(_HIST_LIMIT + 1).count()
    if n_cells > _HIST_LIMIT:
        raise ValueError(
            f"token-budget histogram exceeds {_HIST_LIMIT} (group, bin) rows — "
            f"group_cols={list(group_cols)} is too high-cardinality for the "
            "driver-side bin walk; group at language/domain granularity or "
            "reduce n_buckets"
        )
    hist = hist_df.collect()
    _KEEP_ALL = -2  # sentinel below the null bin: every bin fits
    per_group: dict = {}
    for r in hist:
        key = tuple(r[g] for g in group_cols)
        per_group.setdefault(key, {})[r["_qb"]] = r["_t"]
    rows = []
    for key, bins in per_group.items():
        cum = 0
        crossing = _KEEP_ALL
        for b in sorted(bins, reverse=True):  # null bin (-1) walks last
            if cum + bins[b] > budget:
                crossing = b
                break
            cum += bins[b]
        rows.append(tuple(key) + (crossing,))
    spark = df.sparkSession
    fields = ", ".join(f"{g} {df.schema[g].dataType.simpleString()}" for g in group_cols)
    boundary = spark.createDataFrame(rows, f"{fields}, _crossing int")
    pruned = (
        bucketed.join(F.broadcast(boundary), list(group_cols))
        .where((F.col("_crossing") == _KEEP_ALL) | (F.col("_qb") >= F.col("_crossing")))
        .drop("_qb", "_crossing")
    )
    return select_token_budget(
        pruned,
        budget,
        order_by=(F.desc(score_col), F.asc(id_col)),
        token_col=token_col,
        group_cols=group_cols,
    )
