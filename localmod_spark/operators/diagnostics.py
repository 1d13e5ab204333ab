"""Operational diagnostics for a large-scale pipeline: key-skew
statistics (to SIZE the salting the context stage applies — see
`operators/context.py` two-phase salted aggregation) and deterministic
audit sampling (N reviewable examples per category, stable across
reruns and partitionings).

Everything here is exact and hash-deterministic so the outputs are
cross-engine checkable; nothing depends on partition layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def key_counts(df: DataFrame, key_col: str) -> DataFrame:
    """Per-key row counts (one map-side-combined groupBy)."""
    return df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("cnt"))


def key_skew_stats(df: DataFrame, key_col: str, *, salt_cap: int = 64) -> DataFrame:
    """One-row skew summary for a join/agg key: ``n_keys``, ``total``,
    ``max_cnt``, ``avg_cnt``, ``skew_factor`` (= max/avg) and
    ``recommended_salt`` = ceil(skew_factor) clamped to [1, salt_cap] —
    the bucket fan-out that levels the hottest key down to the average.

    Two aggregations end-to-end (per-key counts, then a global reduce of
    the count table); no windows, no collects.
    """
    c = key_counts(df, key_col)
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_cnt"),
        F.avg("cnt").alias("avg_cnt"),
    ).select(
        "n_keys",
        "total",
        "max_cnt",
        F.round("avg_cnt", 6).alias("avg_cnt"),
        F.round(F.col("max_cnt") / F.col("avg_cnt"), 6).alias("skew_factor"),
        F.least(
            F.greatest(F.ceil(F.col("max_cnt") / F.col("avg_cnt")), F.lit(1)),
            F.lit(salt_cap),
        )
        .cast("int")
        .alias("recommended_salt"),
    )


def heavy_hitters(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """The ``top_n`` hottest keys with count, share of total rows and a
    deterministic rank (count desc, key asc tiebreak).

    The sort+limit plans as TakeOrderedAndProject over the per-key count
    table (no global sort); the rank window and the share join then run
    over ≤ ``top_n`` rows and one broadcast total row.
    """
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    c = key_counts(df, key_col)
    total = c.agg(F.sum("cnt").alias("_total"))
    top = c.orderBy(F.desc("cnt"), F.asc("key")).limit(top_n)
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("_total"), 6).alias("share"),
            "rank",
        )
    )


def _audit_hash(id_col: str, seed: int):
    """Deterministic per-row sort key: md5 over the id and seed.  md5 is
    engine-portable (Spark F.md5 == DuckDB md5 on identical bytes) and
    its hex form sorts identically as a string everywhere."""
    return F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))


def audit_sample(
    df: DataFrame,
    category_col: str,
    id_col: str,
    n_per: int = 5,
    seed: int = 0,
) -> DataFrame:
    """Deterministic audit sample: the ``n_per`` rows with the smallest
    md5(id, seed) per category, with ``sample_rank`` (1-based).  Stable
    across reruns, partitionings and input file order.

    Same NULL-id rule as the rate samplers in `operators/sampling`:
    rows with a NULL id are EXCLUDED — a NULL hash would sort first
    under asc and occupy audit slot 1 in every category for every seed.

    This plain form windows over EVERY row of each category — fine when
    no category is huge; for skewed categories use
    :func:`audit_sample_scalable`.
    """
    if n_per < 1:
        raise ValueError(f"n_per must be >= 1, got {n_per}")
    df = df.where(F.col(id_col).isNotNull())
    h = _audit_hash(id_col, seed)
    w = Window.partitionBy(category_col).orderBy(h.asc(), F.col(id_col).asc())
    return df.withColumn("sample_rank", F.row_number().over(w)).where(
        F.col("sample_rank") <= n_per
    )


def audit_sample_scalable(
    df: DataFrame,
    category_col: str,
    id_col: str,
    n_per: int = 5,
    seed: int = 0,
    oversample: int = 8,
) -> DataFrame:
    """Exactly :func:`audit_sample`'s rows, with the window bounded for
    hot categories.

    Two-phase: per-category counts (tiny — one row per category,
    broadcast back) give a hash-threshold keep rate of
    ``oversample * n_per / cnt``; because rows are kept by a PREFIX
    threshold of the SAME md5 the final rank orders by, the ``n_per``
    hash-smallest rows of a category survive whenever at least
    ``min(n_per, cnt)`` rows do, so the window runs over
    ~``oversample * n_per`` rows per category instead of all of them.
    Categories where the prefilter undershot (binomially unlikely at
    oversample 8, but possible) are detected by a bounded count and
    re-sampled exactly via the plain path — the result is equal to
    :func:`audit_sample` by construction, not approximately.

    The shortfall check collects one row per category AT CONSTRUCTION
    TIME; like the per-stratum counts in `operators/sampling.py`, it is
    bounded by the category cardinality, which is small by definition
    for an audit dimension (language, severity, event type, ...).  The
    count table and the sampled rows it reads are persisted (shared
    cache registry), so the probe's work is reused by the returned
    plan, not recomputed.  NULL ids are excluded exactly as in
    :func:`audit_sample`.
    """
    if n_per < 1:
        raise ValueError(f"n_per must be >= 1, got {n_per}")
    if oversample < 1:
        raise ValueError(f"oversample must be >= 1, got {oversample}")
    from localmod_spark.cache_registry import register_stage_cache

    df = df.where(F.col(id_col).isNotNull())
    h = _audit_hash(id_col, seed)
    # numeric value of the first 15 hex digits, in [0, 1): monotone with
    # the lexicographic order of the full digest, so a threshold on it is
    # a prefix of the rank order
    frac = F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / F.lit(
        float(16**15)
    )
    # both the survivors join and the shortfall probe read the count
    # table, and the probe plus the returned plan read the sampled rows:
    # persist both so the input scans and the prefilter+window run once
    counts = register_stage_cache(
        df.groupBy(F.col(category_col).alias("_cat"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .persist()
    )
    rate = F.least(F.lit(1.0), F.lit(float(oversample * n_per)) / F.col("_cnt"))
    survivors = (
        df.join(F.broadcast(counts), df[category_col].eqNullSafe(F.col("_cat")), "inner")
        .where(frac <= rate)
        .drop("_cat")
    )
    w = Window.partitionBy(category_col).orderBy(h.asc(), F.col(id_col).asc())
    sampled = register_stage_cache(
        survivors.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n_per)
        .drop("_cnt")
        .persist()
    )
    # bounded shortfall probe: one row per category (null-safe so a NULL
    # category behaves exactly as in the plain path)
    got = sampled.groupBy(F.col(category_col).alias("_gcat")).agg(
        F.count(F.lit(1)).alias("_got")
    )
    short = [
        r["_cat"]
        for r in counts.join(got, F.col("_cat").eqNullSafe(F.col("_gcat")), "left")
        .where(
            F.coalesce(F.col("_got"), F.lit(0))
            < F.least(F.lit(n_per), F.col("_cnt"))
        )
        .select("_cat")
        .collect()
    ]
    if not short:
        return sampled
    nonnull = [s for s in short if s is not None]
    cond = F.col(category_col).isin(nonnull) if nonnull else F.lit(False)
    if any(s is None for s in short):
        cond = cond | F.col(category_col).isNull()
    redo = audit_sample(df.where(cond), category_col, id_col, n_per, seed)
    # coalesce: a NULL category not in the shortfall list makes `cond`
    # UNKNOWN, and a bare ~cond would silently drop its sampled rows
    return sampled.where(~F.coalesce(cond, F.lit(False))).unionByName(redo)
