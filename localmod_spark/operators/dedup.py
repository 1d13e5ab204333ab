"""Deduplication operators for training-data pipelines.

Exact dedup is a hash group-by (shuffle on a 64-bit hash, not the full
text).  Near-dup (MinHash-LSH / SimHash / n-gram Jaccard) follows the
standard shingle → sketch → band-bucket → candidate-join shape; every
stage is expressed in DataFrame ops so Catalyst handles partial
aggregation and AQE balances the bucket join.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# The sketch-stage persists (see minhash_candidates) must outlive the
# caller's ACTION, so the operator cannot unpersist them itself — they go
# through the session-scoped registry in localmod_spark.cache_registry
# (re-exported here for compatibility with existing callers).
from localmod_spark.cache_registry import (  # noqa: F401 — re-export
    _STAGE_CACHES,
    release_stage_caches,
)


# ---------------------------------------------------------------- exact ----


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: representative id (min), group size.

    Groups on (xxhash64(text), text): the leading 64-bit hash partitions
    and pre-sorts the shuffle cheaply, while keeping the full text in the
    key makes the grouping collision-proof — at 10^12 rows a hash-only
    group-by has thousands of expected 64-bit collisions, each silently
    merging distinct documents.  Semantically identical to grouping on
    the text alone (the hash is a function of the text), so any SQL
    oracle that groups on text matches exactly.
    """
    h = F.xxhash64(F.col(text_col))
    return (
        df.select(F.col(id_col), h.alias("_h"), F.col(text_col).alias("_t"))
        .groupBy("_h", "_t")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("rep_id", "n_dups")
    )


# -------------------------------------------------------------- minhash ----

_MASK63 = np.uint64((1 << 63) - 1)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _hash_params(num_hashes: int, seed: int = 7) -> np.ndarray:
    """Per-permutation 64-bit seeds for splitmix64 mixing.

    Why not the textbook (a*x + b) mod p family: computed exactly with
    a,b small enough to avoid int64 overflow, a*x + b never wraps the
    modulus, so the map is MONOTONE in x — every 'permutation' then picks
    (nearly) the same argmin shingle and signature agreement collapses
    far below the true Jaccard (measured: 0.23 agreement on a 0.97-Jaccard
    pair).  Computed with a up to p, the product silently overflows int64
    instead.  splitmix64 avalanche over (shingle + seed) in numpy uint64
    (wrap-around is exact, deterministic C semantics) gives true min-wise
    behavior with one multiply-free broadcast per batch."""
    rng = np.random.RandomState(seed)
    return rng.randint(0, (1 << 63) - 1, size=num_hashes, dtype=np.int64).astype(np.uint64)


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public domain constants), top bit masked so
    signatures fit Spark's signed LongType."""
    z = (z ^ (z >> np.uint64(30))) * _MIX1
    z = (z ^ (z >> np.uint64(27))) * _MIX2
    z = z ^ (z >> np.uint64(31))
    return z & _MASK63


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 32-bit hashes of the text's k-byte shingles.

    zlib.crc32 over byte windows: deterministic across processes (unlike
    builtin hash()), C-speed, and 32 bits is ample for near-dup banding.
    """
    import zlib

    data = text.encode("utf-8")
    if len(data) <= k:
        return np.array([zlib.crc32(data)], dtype=np.int64)
    return np.unique(
        np.fromiter(
            (zlib.crc32(data[i : i + k]) for i in range(len(data) - k + 1)),
            dtype=np.int64,
            count=len(data) - k + 1,
        )
    )


def _word_shingle_hashes(text: str, n: int) -> np.ndarray:
    """Distinct 32-bit hashes of the text's word n-grams — the SAME gram
    definition :func:`ngram_jaccard` verifies (lowercase whitespace
    tokens, space-joined), so the MinHash estimates exactly the Jaccard
    the verification stage measures.  Estimating char-shingle similarity
    but verifying word-gram similarity makes the banding recall math
    inapplicable (a high word-Jaccard pair can have mediocre
    char-Jaccard and get silently dropped by LSH)."""
    import zlib

    toks = text.lower().split()
    if len(toks) < n:
        grams = [" ".join(toks)]
    else:
        grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return np.unique(
        np.fromiter(
            (zlib.crc32(g.encode("utf-8")) for g in grams),
            dtype=np.int64,
            count=len(grams),
        )
    )


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 7,
    shingle_mode: str = "char",
) -> DataFrame:
    """Append a MinHash signature column (array<long>, length num_hashes).

    Vectorized pandas UDF: per Arrow batch, shingle-hash each text once,
    then one numpy broadcast per text computes all permutation minima.

    ``shingle_mode="char"``: k-byte character shingles (robust to
    whitespace/tokenization noise).  ``shingle_mode="word"``: word
    ``shingle_k``-grams matching :func:`ngram_jaccard`'s gram definition —
    use this when the candidate set will be verified with word-gram
    Jaccard, so the LSH recall guarantee applies to the verified metric."""
    if shingle_mode not in ("char", "word"):
        raise ValueError("shingle_mode must be 'char' or 'word'")
    seeds = _hash_params(num_hashes, seed)
    shingle_fn = _word_shingle_hashes if shingle_mode == "word" else _shingle_hashes

    @F.pandas_udf(ArrayType(LongType()))
    def _minhash(texts: pd.Series) -> pd.Series:
        sigs: List[list] = []
        for t in texts.fillna(""):
            sh = shingle_fn(t, shingle_k).astype(np.uint64)
            # (num_hashes, n_shingles) mixed values, min per row
            vals = _splitmix64(sh[None, :] + seeds[:, None])
            sigs.append(vals.min(axis=1).astype(np.int64).tolist())
        return pd.Series(sigs)

    return df.withColumn("minhash", _minhash(F.col(text_col)))


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 8,
    max_bucket: Optional[int] = None,
    stage: str = "persist",
    observation: Optional[Observation] = None,
    cap_mode: str = "drop",
) -> DataFrame:
    """LSH banding: equal band-slices bucket together → candidate pairs.

    Returns (id_a, id_b, n_bands_shared).  The explode keys the shuffle on
    (band_ix, band_hash).

    The exploded (id, band_ix, band_hash) table is **persisted before
    banding** (``stage="persist"``, MEMORY_AND_DISK): every consumer —
    the bucket-width count, the semi-join probe side, and the self-join's
    two sides — otherwise re-evaluates the upstream shingle+minhash
    pandas UDF, the most expensive stage in the whole near-dup pipeline
    (measured: 4 ArrowEvalPython evaluations, 0 exchange reuse).  The
    persisted table is narrow (~24 B/row × bands), re-computable on
    eviction, and is exactly the signature table a production selection
    job stages to parquet for re-runs.  ``stage="none"`` opts out (e.g.
    when the caller already staged signatures).

    Giant-bucket cap (the 100 TB guard): the self-join is quadratic
    *within* a bucket, so one boilerplate string repeated 1M times would
    emit 10^12 candidate pairs from a single bucket.  With
    ``max_bucket=N``, buckets wider than N are dropped before the join,
    bounding the candidate count at ``bands * max_bucket^2 / 2`` per
    pathological text.  The cap is **opt-in** (default ``None``): it
    trades recall for boundedness, so callers must choose it knowingly —
    scale jobs should pass a cap AND collapse byte-identical boilerplate
    to one representative upstream (:func:`exact_dup_groups`) before
    sketching.  The trade is OBSERVABLE, not silent: pass an
    ``observation`` (:class:`pyspark.sql.Observation`) and, after the
    first action, ``observation.get`` carries ``dropped_buckets``,
    ``dropped_pairs`` (the quadratic pair potential the cap averted) and
    ``max_bucket_width`` — riding the candidate action itself, no extra
    pass (plans/selection.py records them in its ledger).

    ``cap_mode="shard"`` keeps the bound WITHOUT the recall loss: wide
    buckets are hash-sharded and every shard-pair cell is covered, so the
    pair set equals the uncapped run's exactly while no task exceeds
    ~2·max_bucket rows per cell (see :func:`_sharded_self_pair_rows`;
    counters become sharded_buckets / replica_rows / max_bucket_width).
    """
    if stage not in ("persist", "none"):
        raise ValueError("stage must be 'persist' or 'none'")
    exploded = explode_minhash_bands(df, id_col=id_col, bands=bands, rows_per_band=rows_per_band)
    if stage == "persist":
        from pyspark.storagelevel import StorageLevel

        exploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)
        _STAGE_CACHES.append(exploded)
    return candidates_from_bands(
        exploded, id_col=id_col, max_bucket=max_bucket, observation=observation,
        cap_mode=cap_mode,
    )


def explode_minhash_bands(
    df: DataFrame, id_col: str = "doc_id", bands: int = 8, rows_per_band: int = 8
) -> DataFrame:
    """Signature → exploded band table (id, band_ix, band_hash) — the
    narrow artifact a production selection job stages to parquet: at
    100 TB sketching dominates, and a staged band table makes re-runs,
    resumes and downstream experiments pay it once (plans/selection.py)."""
    sig = F.col("minhash")
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_ix"),
                F.xxhash64(F.slice(sig, i * rows_per_band + 1, rows_per_band)).alias("band_hash"),
            )
            for i in range(bands)
        ]
    )
    return df.select(F.col(id_col), F.explode(band_arr).alias("band")).select(
        id_col, "band.band_ix", "band.band_hash"
    )


_CAP_UNCHECKED = object()


def _check_cap_mode(cap_mode: str, max_bucket: object = _CAP_UNCHECKED) -> None:
    if cap_mode not in ("drop", "shard"):
        raise ValueError(f"cap_mode must be 'drop' or 'shard', got {cap_mode!r}")
    if max_bucket is None and cap_mode != "drop":
        # without a width cap, every cap_mode degenerates to the uncapped
        # plain join — a caller asking for bounded task size would
        # silently get an unbounded quadratic self-join
        raise ValueError(
            "cap_mode='shard' has no effect without max_bucket; "
            "pass max_bucket=<width cap> (or use the default cap_mode='drop')"
        )


def _wide_buckets(
    exploded: DataFrame,
    key_cols: list,
    max_bucket: int,
    observation: Optional[Observation],
) -> DataFrame:
    """Buckets wider than the cap, with their shard count:
    (key_cols…, _w, _k = ⌈w/max_bucket⌉) — the control table of shard
    mode.  Persisted (it is tiny — at most total_rows/max_bucket rows,
    in practice a handful of pathological buckets) because every shard
    plan consumes it from 2-3 branches; persisting also makes the
    attached Observation's CollectMetrics execute exactly once (it sits
    below the cached node, on the single-consumer width aggregation).
    Metrics — over ALL buckets, so ``max_bucket_width`` keeps reporting
    the true maximum even when nothing exceeds the cap (parity with
    drop mode's ``_cap_metrics``): ``sharded_buckets``,
    ``replica_rows`` (extra replicas the shard fan-out creates on the
    replicated side, in DOUBLE — same overflow rationale as
    ``_cap_metrics``), ``max_bucket_width``."""
    from pyspark.storagelevel import StorageLevel

    widths = exploded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_w"))
    if observation is not None:
        over = F.col("_w") > max_bucket
        k = F.ceil(F.col("_w") / F.lit(max_bucket)).cast("double")
        widths = widths.observe(
            observation,
            F.sum(over.cast("long")).alias("sharded_buckets"),
            F.sum(
                F.when(over, F.col("_w").cast("double") * (k - 1)).otherwise(F.lit(0.0))
            ).alias("replica_rows"),
            F.max("_w").alias("max_bucket_width"),
        )
    wide = widths.where(F.col("_w") > max_bucket).withColumn(
        "_k", F.ceil(F.col("_w") / F.lit(max_bucket)).cast("int")
    )
    wide = wide.persist(StorageLevel.MEMORY_AND_DISK)
    _STAGE_CACHES.append(wide)
    if observation is not None:
        # materialize the control table EAGERLY: when no bucket exceeds
        # the cap, AQE's empty-relation propagation elides the downstream
        # branches and the CollectMetrics node would never execute
        # (Observation.get then raises) — the common healthy-corpus case.
        # One tiny action on the persisted aggregate, and the metrics are
        # guaranteed exactly once; the cache is warm for the join plan.
        wide.count()
    return wide


def _self_pair_rows(
    exploded: DataFrame, key_cols: list, id_col: str, extra_cols: tuple = ()
) -> DataFrame:
    """Per-bucket ordered pair occurrences from a bucket-keyed self
    equi-join: (id_a < id_b, a_<extra>, b_<extra>) — one row per bucket
    the pair shares (callers aggregate/dedupe across buckets)."""
    import functools
    import operator

    left, right = exploded.alias("l"), exploded.alias("r")
    cond = functools.reduce(
        operator.and_, [F.col(f"l.{c}") == F.col(f"r.{c}") for c in key_cols]
    ) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    sel = [F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")]
    for c in extra_cols:
        sel += [F.col(f"l.{c}").alias(f"a_{c}"), F.col(f"r.{c}").alias(f"b_{c}")]
    return left.join(right, cond).select(*sel)


def _sharded_self_pair_rows(
    exploded: DataFrame,
    key_cols: list,
    id_col: str,
    max_bucket: int,
    observation: Optional[Observation] = None,
    extra_cols: tuple = (),
) -> DataFrame:
    """The recall-PRESERVING giant-bucket strategy (``cap_mode="shard"``):
    instead of dropping an over-wide bucket (a recall loss), split its
    rows into ``k = ⌈w/max_bucket⌉`` hash shards and cover all C(k+1, 2)
    shard-pair cells — every uncapped pair is still emitted exactly once,
    while no single join task sees more than ~2·max_bucket rows per cell.

    Mechanics (the classic 1-bucket theta-join decomposition): a row in
    shard ``s`` replicates into the ``k`` cells ``(min(s,t), max(s,t))``
    for ``t ∈ [0, k)``; within a cell, rows whose shard equals the cell's
    first coordinate join as the left side, second coordinate as the
    right (diagonal cells qualify both ways and keep the ``id_a < id_b``
    half).  Exactly-once: two rows share precisely one cell — the one
    named by their two shards — and exactly one (left, right) role
    assignment within it.  Emitted ids are normalized ``least/greatest``
    (cross-shard pairs can join in either id order); ``extra_cols`` swap
    with them.

    The trade vs ``cap_mode="drop"``: zero recall loss, but the pair
    count stays inherently quadratic in the bucket width — shard mode
    bounds TASK size, not total work.  w·k replicas ≈ w²/max_bucket rows
    materialize for a width-w bucket, so truly degenerate buckets
    (byte-identical boilerplate at 10^6+) still want
    :func:`exact_dup_groups` upstream; the Observation's
    ``replica_rows`` makes the fan-out visible.  Normal-width buckets
    take the plain self-join path unchanged."""
    keys = list(key_cols)
    wide_keys = _wide_buckets(exploded, keys, max_bucket, observation)
    normal = exploded.join(wide_keys.select(*keys), keys, "left_anti")
    normal_pairs = _self_pair_rows(normal, keys, id_col, extra_cols)

    wide = exploded.join(wide_keys.select(*keys, "_k"), keys)
    shard = F.pmod(F.xxhash64(F.col(id_col), F.lit(909)), F.col("_k")).cast("int")
    wide = wide.withColumn("_s", shard)
    cells = F.transform(
        F.sequence(F.lit(0), F.col("_k") - 1),
        lambda t: F.struct(
            F.least(F.col("_s"), t).alias("ci"), F.greatest(F.col("_s"), t).alias("cj")
        ),
    )
    rep = wide.select(
        F.col(id_col), *[F.col(c) for c in keys], *[F.col(c) for c in extra_cols],
        F.col("_s"), F.explode(cells).alias("_c"),
    ).select(
        id_col, *keys, *extra_cols, "_s",
        F.col("_c.ci").alias("_ci"), F.col("_c.cj").alias("_cj"),
    )
    import functools
    import operator

    lefts = rep.where(F.col("_s") == F.col("_ci")).alias("l")
    rights = rep.where(F.col("_s") == F.col("_cj")).alias("r")
    cond = functools.reduce(
        operator.and_,
        [F.col(f"l.{c}") == F.col(f"r.{c}") for c in [*keys, "_ci", "_cj"]],
    ) & (
        (F.col("l._ci") < F.col("l._cj"))
        | (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    )
    lid, rid = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    swap = lid > rid
    sel = [F.least(lid, rid).alias("id_a"), F.greatest(lid, rid).alias("id_b")]
    for c in extra_cols:
        sel += [
            F.when(swap, F.col(f"r.{c}")).otherwise(F.col(f"l.{c}")).alias(f"a_{c}"),
            F.when(swap, F.col(f"l.{c}")).otherwise(F.col(f"r.{c}")).alias(f"b_{c}"),
        ]
    wide_pairs = lefts.join(rights, cond).select(*sel)
    return normal_pairs.unionByName(wide_pairs)


def _capped_self_pair_rows(
    exploded: DataFrame,
    key_cols: list,
    id_col: str,
    max_bucket: Optional[int],
    observation: Optional[Observation],
    cap_mode: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """The ONE giant-bucket dispatch for every banding self-join
    (MinHash bands, SimHash bands, embedding LSH buckets): uncapped
    plain pairs, ``cap_mode="drop"`` (width semi-join prune + observed
    ``_cap_metrics``), or ``cap_mode="shard"``
    (:func:`_sharded_self_pair_rows`)."""
    _check_cap_mode(cap_mode, max_bucket)
    if max_bucket is not None and cap_mode == "shard":
        return _sharded_self_pair_rows(
            exploded, key_cols, id_col, max_bucket, observation, extra_cols
        )
    if max_bucket is not None:
        widths = exploded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_w"))
        if observation is not None:
            widths = widths.observe(observation, *_cap_metrics(max_bucket))
        narrow = widths.where(F.col("_w") <= max_bucket).select(*key_cols)
        exploded = exploded.join(narrow, list(key_cols), "left_semi")
    return _self_pair_rows(exploded, key_cols, id_col, extra_cols)


def _cap_metrics(max_bucket: int) -> list:
    """Observation aggregates over the bucket-width table: how much the
    giant-bucket cap actually dropped (and how wide the worst bucket was).
    ``dropped_pairs`` is computed in DOUBLE: a width beyond ~3e9 rows —
    exactly the pathological case the cap exists for — would overflow
    ``w*(w-1)`` in long arithmetic (ANSI mode would fail the job; non-ANSI
    would record garbage); the metric is an audit magnitude, not an exact
    count, so float precision is the right trade."""
    over = F.col("_w") > max_bucket
    w = F.col("_w").cast("double")
    return [
        F.sum(over.cast("long")).alias("dropped_buckets"),
        F.sum(F.when(over, w * (w - 1) / 2).otherwise(F.lit(0.0))).alias("dropped_pairs"),
        F.max("_w").alias("max_bucket_width"),
    ]


def candidates_from_bands(
    exploded: DataFrame,
    id_col: str = "doc_id",
    max_bucket: Optional[int] = None,
    observation: Optional[Observation] = None,
    cap_mode: str = "drop",
) -> DataFrame:
    """Band table → candidate pairs (the join half of the LSH pipeline);
    accepts either the in-session exploded table or one read back from a
    staged parquet.

    Giant buckets (wider than ``max_bucket``) are handled per
    ``cap_mode``: ``"drop"`` prunes them before the join (bounded work,
    recall loss — observed as dropped_buckets / dropped_pairs /
    max_bucket_width, riding the width aggregation the cap needs anyway);
    ``"shard"`` splits them into hash shards and covers every shard-pair
    cell (:func:`_sharded_self_pair_rows`) — ZERO dropped pairs, bounded
    task size, observed as sharded_buckets / replica_rows /
    max_bucket_width."""
    pair_rows = _capped_self_pair_rows(
        exploded, ["band_ix", "band_hash"], id_col, max_bucket, observation, cap_mode
    )
    return pair_rows.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_bands_shared")
    )


def select_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    score_col: str = "quality_score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup survivor choice: per duplicate cluster, keep
    the HIGHEST-scoring member (ties → min id) instead of the arbitrary
    min-id representative — the selection a corpus builder actually wants
    (drop the boilerplate-ridden copy, keep the clean one).

    One row_number window over cluster; deterministic because the score
    is itself deterministic (rounded) and ties fall back to the id."""
    w = Window.partitionBy("cluster").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        clusters.join(scores.select(id_col, score_col), id_col)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("cluster", id_col, score_col)
    )


def contaminated_docs(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: docs sharing ANY word n-gram with an
    evaluation set → (id, n_shared_grams).  The standard pre-training
    hygiene pass (n=13 is the common contamination window).

    Entirely JVM-side — tokens, n-grams (``transform`` over a
    ``sequence`` of offsets), distinct, explode — no Python.  The eval
    side (benchmarks are small) is distinct-ed and BROADCAST into a semi
    join against the exploded corpus grams, so the corpus side never
    shuffles: scan → explode → broadcast-probe → partial count.  At
    10^12 docs the explode factor is ~tokens-per-doc; hash the gram
    (xxhash64) before the join if gram strings dominate the probe width.
    """

    def grams(col: str):
        toks = F.split(F.lower(F.trim(F.col(col))), r"\s+")
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    doc_grams = docs.select(F.col(id_col), F.explode(grams(text_col)).alias("g"))
    eval_grams = eval_df.select(F.explode(grams(eval_text_col)).alias("g")).distinct()
    return (
        doc_grams.join(F.broadcast(eval_grams), "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def _with_doc_freq(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """Add ``n_docs`` (long): the number of distinct non-NULL ``id_col``
    values among the rows that share the row's ``key``.

    ``dense_rank`` over the key's rows ordered by id, then ``max(rank)``
    over the key, less one when the key holds a NULL id (NULLs sort
    first, take rank 1 and count as no document).  One hash exchange and
    one sort on the key; both window functions keep O(1) state over
    Spark's spillable window row buffer, so a key shared by every
    document costs a sort, never an in-memory set of its ids."""
    by_key = Window.partitionBy(key)
    rank = F.dense_rank().over(by_key.orderBy(F.col(id_col).asc_nulls_first()))
    has_null = F.max(F.col(id_col).isNull().cast("int")).over(by_key)
    return (
        df.withColumn("_rk", rank)
        .withColumn("n_docs", (F.max("_rk").over(by_key) - has_null).cast("long"))
        .drop("_rk")
    )


def repeated_spans(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    unit: str = "word",
) -> DataFrame:
    """Substring-level exact dedup: flag every ``n``-gram SPAN that
    occurs in at least ``min_docs`` distinct documents (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL'22 —
    the repeated-substring mode that whole-doc exact + near dedup both
    miss: boilerplate shared across otherwise-distinct docs).  Returns
    one row per flagged span: (id, pos, gram, n_docs) with ``pos`` the
    0-based token offset.  NULL ids count as no document.

    Shape (all JVM-side, no Python): tokenize → positions via
    ``transform`` over a ``sequence`` of offsets → explode → per-gram
    doc-frequency (:func:`_with_doc_freq`: a rank window on the gram) →
    frequency filter.  Never a self-join and never a join-back: the
    window's gram exchange is the only shuffle after the span build, the
    span build runs once, and the output is linear in corpus gram count.
    A gram in every document is one sorted window group with O(1) state
    per row, so hot boilerplate costs a sort, not a per-gram id set.

    ``unit``: ``"word"`` (default) tokenizes lowercase and ``pos``/``n``
    count whitespace tokens — the moderation-normalized variant.
    ``"char"`` shingles the RAW text (Lee et al. actually operate on
    byte streams): ``pos``/``n`` count characters, case-sensitive, no
    whitespace normalization — the mode that catches boilerplate
    STRADDLING word boundaries (markup, code, stitched templates), which
    word grams provably miss (tested).  Char mode materializes
    O(chars·n) gram bytes before the frequency cut, so use a larger
    ``n`` (~4-6 words' worth)."""
    if unit not in ("word", "char"):
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    empty = F.array().cast("array<struct<pos:int,gram:string>>")
    # The span build is the CPU hot spot (O(tokens·n) slice+join per
    # position) and the doc table may arrive in few/one input split(s) —
    # spread it across the cluster before the projection.  Word mode
    # materializes the token array BEHIND that exchange: a tokenizer
    # expression referenced from inside the transform lambda is re-inlined
    # by project collapse and re-split per position (measured 1.2 s →
    # 0.9 s at sf0.1 from this alone); an Exchange is a hard projection
    # boundary, so the lambda sees a real attribute.
    n_part = max(docs.sparkSession.sparkContext.defaultParallelism, 8)
    if unit == "word":
        toks_expr = F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
        )
        src = docs.select(F.col(id_col), toks_expr.alias("_toks"))
        s, size = F.col("_toks"), F.size

        def cut(i):
            return F.array_join(F.slice(s, i + 1, n), " ")

    else:
        src = docs.select(F.col(id_col), F.col(text_col))
        s, size = F.col(text_col), F.length

        def cut(i):
            return s.substr(i + F.lit(1), F.lit(n))

    spans_arr = F.when(
        size(s) >= n,
        F.transform(
            F.sequence(F.lit(0), size(s) - n),
            lambda i: F.struct(i.alias("pos"), cut(i).alias("gram")),
        ),
    ).otherwise(empty)
    spans = src.repartition(n_part).select(
        F.col(id_col), F.explode(spans_arr).alias("s")
    ).select(id_col, F.col("s.pos").alias("pos"), F.col("s.gram").alias("gram"))
    return (
        _with_doc_freq(spans, "gram", id_col)
        .where(F.col("n_docs") >= min_docs)
        .select(id_col, "pos", "gram", "n_docs")
    )


def remove_repeated_spans(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    unit: str = "word",
) -> DataFrame:
    """Span REMOVAL — Lee et al. (ACL'22) don't just flag repeated
    substrings, they cut them: emit ``scrubbed_text`` with every flagged
    span excised.  Returns (id, scrubbed_text, n_flagged_spans).

    A token at offset ``i`` is cut iff SOME flagged span covers it
    (``∃ pos: pos ≤ i < pos+n``) — coverage over the span-start set, so
    overlapping spans merge implicitly; the splice happens once per
    document, analogous to the PII scrub's end→start byte splice.
    Reconstruction keeps the ORIGINAL token case and single-space joins
    (flagging tokenizes lowercase; positions map 1:1 because lowering
    never changes whitespace).

    Shape: :func:`repeated_spans` (all-JVM) → per-doc SORTED span-start
    array (one grouped ``array_sort(collect_set)`` — bounded by
    tokens-per-doc, never by corpus size) → LEFT join back to the docs →
    GAP reconstruction: because every span has the same fixed length
    ``n``, the coverage of all starts ≤ p ends exactly at p+n, so the
    kept text is the concatenation of the inter-span gaps
    ``[sp[i]+n, sp[i+1])`` plus head/tail — one bulk cut per gap
    (``substr`` for char, ``slice`` for word) instead of an ``exists``
    over the span set per token (O(gaps) vs O(tokens·spans) per doc).
    The sort lives INSIDE the aggregate so ``_sp`` is a real attribute —
    an ``array_sort`` referenced from inside the transform lambda would
    be re-inlined by project collapse and re-evaluated per element
    (measured: 52 s vs 1.9 s at sf0.1 for the char leg).

    ``unit="char"`` cuts character spans from the RAW text (no
    whitespace re-normalization — untouched bytes survive verbatim),
    matching the char flagging mode."""
    flagged = repeated_spans(
        docs, n=n, min_docs=min_docs, id_col=id_col, text_col=text_col, unit=unit
    )
    pos_tbl = flagged.groupBy(id_col).agg(
        F.array_sort(F.collect_set("pos")).alias("_sp")
    )
    sp = F.col("_sp")
    k = F.size(sp)
    txt = F.col(text_col)
    if unit == "word":
        # tokenize ONCE on the join's docs side: a tokenizer expression
        # referenced from inside the gap lambdas would be re-inlined by
        # project collapse and re-split per gap; the join is a hard
        # projection boundary, so the lambdas see a real attribute
        toks_expr = F.filter(F.split(F.trim(txt), r"\s+"), lambda x: x != "")
        docs = docs.select(F.col(id_col), toks_expr.alias("_toks"))
        toks = F.col("_toks")
        total, whole = F.size(toks), F.array_join(toks, " ")

        def cut(start, length):
            return F.slice(toks, start, length)

        def join(pieces):
            return F.array_join(F.flatten(pieces), " ")

    else:
        total, whole = F.length(txt), txt

        def cut(start, length):
            return txt.substr(start, length)

        def join(pieces):
            return F.array_join(pieces, "")

    def _piece(i):
        last_end = F.element_at(sp, k) + n
        head = cut(F.lit(1), F.element_at(sp, 1))
        tail = cut(last_end + 1, F.greatest(total - last_end, F.lit(0)))
        gap_start = F.element_at(sp, i) + n
        gap_len = F.element_at(sp, i + 1) - gap_start
        mid = cut(gap_start + 1, F.greatest(gap_len, F.lit(0)))
        return F.when(i == 0, head).when(i == k, tail).otherwise(mid)

    scrubbed = F.when(sp.isNull() | (k == 0), whole).otherwise(
        join(F.transform(F.sequence(F.lit(0), k), _piece))
    )
    return (
        docs.join(pos_tbl, id_col, "left")
        .select(
            F.col(id_col),
            scrubbed.alias("scrubbed_text"),
            F.size(F.coalesce(sp, F.array().cast("array<int>"))).alias(
                "n_flagged_spans"
            ),
        )
    )


def dedup_paragraphs(
    docs: DataFrame,
    sep: str = "\n\n",
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Paragraph-level exact dedup — the CCNet / RefinedWeb hygiene pass
    (Wenzek et al. LREC'20 §3.1; Penedo et al. 2023 §4): cut every
    paragraph whose normalized form appears in ``min_docs`` or more
    DISTINCT documents, and rejoin the survivors with ``sep``.  Returns
    (id, scrubbed_text, n_flagged_spans) — the exact shape of
    :func:`remove_repeated_spans`, with ``n_flagged_spans`` counting the
    cut paragraph INSTANCES in that document.

    Boilerplate (headers, footers, navigation, license blurbs) repeats
    verbatim at paragraph granularity across a crawl; cutting at the
    paragraph boundary keeps the surrounding prose intact where the
    n-gram window scrub would nibble into it.  Normalization (trim +
    lowercase) follows CCNet's paragraph-hash preprocessing.
    Whitespace-only paragraphs are NEVER flagged (cutting every blank
    line would reflow the whole corpus), and ``min_docs`` counts
    distinct non-NULL ids, so within-document repeats survive — that is
    :func:`remove_repeated_spans`'s job.

    Plan shape: split → posexplode (one row per paragraph) → per-key
    doc-frequency (:func:`_with_doc_freq`: a rank window on the
    paragraph key, one exchange) → one groupBy(id) reassembly
    (``collect_list`` is bounded by paragraphs-per-doc, never corpus
    size).  All JVM, no driver state; the explode has one consumer.  A
    boilerplate paragraph in millions of docs is one sorted window group
    with O(1) state per row, never an in-memory set of its doc ids."""
    # split() takes a regex — quote the separator with java.util.regex
    # Pattern.quote's exact recipe (an embedded \E must close, re-emit
    # itself literally, and reopen the quote region)
    esc = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    # posexplode_OUTER: a NULL text splits to NULL and must still come
    # back as a row (shape contract with remove_repeated_spans) — the
    # plain posexplode would silently drop the document
    paras = docs.select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.col(text_col), esc)).alias("_pos", "_para"),
    )
    key = F.lower(F.trim(F.col("_para"))) if normalize else F.col("_para")
    paras = paras.withColumn("_k", key)
    # blank-ness is a function of `_k`, so every row of a blank key is
    # blank: the `_dup` gate alone keeps blank paragraphs unflagged and
    # the doc-frequency needs no blank filter of its own
    paras = _with_doc_freq(paras, "_k", id_col).withColumn(
        "_dup", (F.trim(F.col("_para")) != "") & (F.col("n_docs") >= min_docs)
    )
    joined = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        ~F.coalesce(F.col("_dup"), F.lit(False))
                        & F.col("_pos").isNotNull(),
                        F.struct("_pos", "_para"),
                    )
                )
            ),
            lambda x: x["_para"],
        ),
        sep,
    )
    return (
        paras
        .groupBy(id_col)
        .agg(
            # a NULL-text doc scrubs to NULL (remove_repeated_spans parity),
            # never to the empty string of a doc whose every para was cut
            F.when(F.max(F.col("_pos").isNotNull()), joined)
            .otherwise(F.lit(None).cast("string"))
            .alias("scrubbed_text"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0)).cast("int").alias(
                "n_flagged_spans"
            ),
        )
    )


def cross_dedup_pairs(
    new_docs: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 7,
    new_bands: Optional[DataFrame] = None,
    max_bucket: Optional[int] = None,
    observation: Optional[Observation] = None,
    cap_mode: str = "drop",
) -> DataFrame:
    """Candidate near-dup pairs BETWEEN a new ingest batch and an
    already-sketched corpus: (id_new, id_old).

    The incremental-dedup shape: the corpus side is the STAGED exploded
    band table (``explode_minhash_bands`` output, e.g.
    ``plans/selection.py``'s ``bands/`` stage read back from parquet) —
    it is **never re-sketched**; only the new batch pays the sketch UDF.
    Candidates come from a (band_ix, band_hash) equi-join of the new
    batch's bands against the staged table — at 10^12 corpus rows the
    staged side is a narrow parquet scan shuffled on the band key (or
    pre-bucketed by it, making the join exchange-free on that side).
    The banding parameters MUST match the ones the corpus was sketched
    with (same num_hashes/shingle space/bands/rows/seed), or the band
    hashes aren't comparable — plans/selection records them in its
    ledger.

    ``new_bands`` (optional) supplies a precomputed band table for the
    batch (skipping the sketch here) so a caller that also needs the
    bands afterwards — e.g. to append the survivors' bands to the staged
    corpus — pays the sketch UDF ONCE.  ``max_bucket`` is the same
    opt-in giant-bucket guard as :func:`candidates_from_bands`, applied
    to the CORPUS side (the quadratic blowup is |new|×|corpus| within a
    bucket, and the corpus side is the unbounded one): buckets whose
    corpus width exceeds the cap are pruned before the join, observably
    (``observation`` → dropped_buckets / dropped_corpus_rows /
    max_bucket_width).

    ``cap_mode="shard"`` preserves recall instead: wide CORPUS buckets
    split into ``k = ⌈w/max_bucket⌉`` hash shards (shard rides the join
    key, so no shard's task exceeds ~max_bucket corpus rows) and the
    small BATCH side replicates ×k into those buckets — zero dropped
    pairs, bounded task size (``observation`` → sharded_buckets /
    replica_rows / max_bucket_width; replica_rows counts corpus-row
    magnitude, the batch-side fan-out is k× per probe of a wide
    bucket)."""
    _check_cap_mode(cap_mode, max_bucket)
    if new_bands is None:
        sigs = with_minhash(
            new_docs,
            text_col=text_col,
            num_hashes=num_hashes,
            shingle_k=shingle_k,
            seed=seed,
            shingle_mode="word",
        )
        new_bands = explode_minhash_bands(
            sigs, id_col=id_col, bands=bands, rows_per_band=rows_per_band
        )
    keys = ["band_ix", "band_hash"]
    join_keys = list(keys)
    if max_bucket is not None and cap_mode == "shard":
        wk = _wide_buckets(corpus_bands, keys, max_bucket, observation).select(
            *keys, "_k"
        )
        # corpus rows in a wide bucket scatter into k hash shards (the
        # shard joins as part of the key, bounding each task); rows in
        # normal buckets sit in shard 0
        corpus_bands = (
            corpus_bands.join(wk, keys, "left")
            .withColumn(
                "_shard",
                F.when(F.col("_k").isNull(), F.lit(0)).otherwise(
                    F.pmod(F.xxhash64(F.col(id_col), F.lit(909)), F.col("_k")).cast("int")
                ),
            )
            .drop("_k")
        )
        # the batch side replicates into every shard of a wide bucket
        # (×k only where it probes a wide bucket — the small side pays
        # the fan-out, the unbounded side never moves twice)
        new_bands = (
            new_bands.join(wk, keys, "left")
            .withColumn(
                "_shard",
                F.explode(F.sequence(F.lit(0), F.coalesce(F.col("_k"), F.lit(1)) - 1)),
            )
            .drop("_k")
        )
        join_keys = keys + ["_shard"]
    elif max_bucket is not None:
        widths = corpus_bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("_w"))
        if observation is not None:
            over = F.col("_w") > max_bucket
            widths = widths.observe(
                observation,
                F.sum(over.cast("long")).alias("dropped_buckets"),
                F.sum(F.when(over, F.col("_w")).otherwise(F.lit(0))).alias(
                    "dropped_corpus_rows"
                ),
                F.max("_w").alias("max_bucket_width"),
            )
        narrow = widths.where(F.col("_w") <= max_bucket).select(*keys)
        corpus_bands = corpus_bands.join(narrow, keys, "left_semi")
    a = new_bands.select(F.col(id_col).alias("id_a"), *join_keys)
    b = corpus_bands.select(F.col(id_col).alias("id_b"), *join_keys)
    return (
        a.join(b, join_keys)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def cross_dedup_survivors(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_bands: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 7,
    new_bands: Optional[DataFrame] = None,
    max_bucket: Optional[int] = None,
    observation: Optional[Observation] = None,
    cap_mode: str = "drop",
) -> DataFrame:
    """New-batch rows with NO verified near-duplicate in the corpus —
    the keep set of an incremental ingest (daily batch vs the selected
    corpus).  Candidates via :func:`cross_dedup_pairs` (corpus sketch
    reused, not recomputed; ``new_bands``/``max_bucket``/``observation``
    pass through), verification via exact word-n-gram Jaccard on
    candidates only (``ngram_jaccard`` with the corpus as the ``id_b``
    side), survivors via LEFT ANTI join.  Within-batch duplicates are a
    separate concern: callers dedup the batch itself first
    (:func:`exact_dup_groups` / :func:`minhash_candidates`)."""
    cands = cross_dedup_pairs(
        new_docs, corpus_bands,
        id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        shingle_k=shingle_k, bands=bands, rows_per_band=rows_per_band, seed=seed,
        new_bands=new_bands, max_bucket=max_bucket, observation=observation,
        cap_mode=cap_mode,
    )
    verified = ngram_jaccard(
        new_docs, cands, id_col=id_col, text_col=text_col, n=shingle_k, df_b=corpus_docs
    )
    dup_new_ids = (
        verified.where(F.round("jaccard", 4) >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return new_docs.join(dup_new_ids, id_col, "left_anti")


def star_components(pairs: DataFrame, max_iter: int = 40) -> DataFrame:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — the scale-safe fallback for
    adversarially deep duplicate chains where plain min-label
    propagation's O(diameter) rounds would exhaust any budget.

    Input: undirected edges (id_a, id_b).  Output: (v, lbl) for every
    vertex that appears in an edge, lbl = component min.  Each round is
    two join+agg passes whose shuffles are keyed on vertex ids (the same
    shape as one label-propagation round); the edge set provably
    converges to a star per component in O(log n) rounds.

      * large-star(E): for each u, attach every LARGER neighbor to
        m = min(N(u) ∪ {u})  →  edges (v, m) for v ∈ N(u), v > u.
      * small-star(E): orient edges big→small; for each u, attach u and
        all (smaller) neighbors to m = min(N(u))  →  (v, m) ∪ (u, m).
    """
    edges = (
        pairs.select(F.col("id_a").cast("long").alias("a"), F.col("id_b").cast("long").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m = sym.groupBy("u").agg(F.min("v").alias("_mv")).select(
            "u", F.least(F.col("_mv"), F.col("u")).alias("m")
        )
        return (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        m = directed.groupBy("u").agg(F.min("v").alias("m"))
        nbr = (
            directed.join(m, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        self_edge = m.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return nbr.union(self_edge).distinct()

    for _ in range(max_iter):
        new = _small_star(_large_star(edges)).localCheckpoint()
        n_new = new.count()
        unchanged = n_new == edges.count() and new.exceptAll(edges).isEmpty()
        edges = new
        if unchanged:
            break
    else:
        raise RuntimeError(
            f"star_components did not converge in {max_iter} rounds — "
            "O(log n) convergence makes this unreachable below ~2^40 vertices"
        )
    # converged edge set is a star per component: (child, root)
    roots = edges.select(F.col("b").alias("v")).distinct().withColumn("lbl", F.col("v"))
    children = edges.select(F.col("a").alias("v"), F.col("b").alias("lbl"))
    return children.union(roots).distinct()


def dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Near-dup CLUSTERING: connected components over candidate pairs →
    ``(id, cluster)`` where cluster = the component's min id.

    Pair lists aren't enough for dedup at scale — picking one survivor
    per duplicate *group* needs the transitive closure (A~B, B~C ⇒ one
    cluster).  Iterative min-label propagation: each round joins labels
    to the symmetric edge list and takes the neighborhood min — one
    shuffle-join + one agg per round, O(graph diameter) rounds, with a
    driver-side convergence check.  Near-dup graphs are shallow (dups of
    dups), so 2-4 rounds is typical.  Singletons are their own cluster.

    If ``max_iter`` rounds do not converge (a component deeper than the
    budget), the labels are recomputed with large/small-star
    (:func:`star_components`, O(log n) rounds) instead of failing —
    correctness is preserved either way.

    Input contract: every ``id_a``/``id_b`` in ``pairs`` must be an id of
    ``df``.  The pairs are not filtered against ``df``, so a foreign
    endpoint is a graph vertex like any other: it can merge two of
    ``df``'s components (A~X, X~B puts A and B in one cluster) and, as
    the smallest id, become the cluster label of ``df`` rows.
    """
    sym = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    # localCheckpoint (not persist) per round: it TRUNCATES the logical
    # plan, which otherwise grows by one join+agg layer per iteration and
    # blows up Catalyst analysis (measured: driver heap OOM at ~10 rounds
    # of a 12-node chain).  On a real cluster prefer a reliable
    # checkpoint dir (sc.setCheckpointDir + .checkpoint) so a lost
    # executor can't lose a round's labels.
    # Convergence check: each round takes least(own, neighborhood min), so
    # every vertex's label is NON-INCREASING — the label sum is strictly
    # decreasing until the fixpoint, and sum equality ⇔ no vertex changed.
    # r7: the exact decimal sum rides the checkpoint's OWN materialization
    # job as an observed metric (int64 summation could overflow at extreme
    # vertex-count × id-magnitude combinations) — one job per round
    # instead of checkpoint + a separate aggregate action.
    def _checkpoint_with_sum(lbls: DataFrame):
        obs = Observation()
        ck = lbls.observe(
            obs, F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint()
        return ck, obs.get["s"]

    # r7: iterate ONLY over edge-touched vertices — a vertex with no edge
    # can never change its label, so keeping the whole corpus in the
    # per-round join was pure waste (at 10^12 docs the duplicate graph is
    # orders of magnitude smaller than the corpus); singletons re-enter
    # via the final left join, identical output.
    labels, prev_sum = _checkpoint_with_sum(
        sym.select(F.col("src").alias("v")).distinct().withColumn("lbl", F.col("v"))
    )
    converged = False
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new, new_sum = _checkpoint_with_sum(
            labels.alias("l")
            .join(neigh.alias("n"), F.col("l.v") == F.col("n.src"), "left")
            .select(
                F.col("l.v").alias("v"),
                F.least(F.col("l.lbl"), F.coalesce(F.col("n.nlbl"), F.col("l.lbl"))).alias("lbl"),
            )
        )
        labels = new
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    sym.unpersist()
    if not converged:
        # exhausting the rounds means some component's diameter exceeds
        # max_iter — the labels are mid-propagation and one duplicate
        # group would silently split into several clusters; large/small-
        # star finishes in O(log n) rounds regardless of the diameter
        labels = star_components(pairs)
    all_ids = df.select(F.col(id_col).alias("v")).distinct()
    return (
        all_ids.join(labels, "v", "left")
        .select(
            F.col("v").alias(id_col),
            F.coalesce(F.col("lbl"), F.col("v")).alias("cluster"),
        )
    )


# -------------------------------------------------------------- simhash ----


def with_simhash(
    df: DataFrame, text_col: str = "text", bits: int = 64, token_hash: str = "crc32"
) -> DataFrame:
    """SimHash over whitespace tokens (sign of per-bit weight sums).

    ``token_hash="crc32"`` (default): two independent crc32s → fast
    64-bit token hash.  ``token_hash="md5"``: top 8 digest bytes of MD5 —
    slower, but engine-independent, so a SQL oracle (DuckDB ``md5``) can
    recompute the signature end-to-end; used by the driver-checked
    ``simhash`` query at ``bits=16``."""
    if token_hash not in ("crc32", "md5"):
        raise ValueError("token_hash must be 'crc32' or 'md5'")

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib
        import zlib

        out = []
        for t in texts.fillna(""):
            tokens = t.lower().split()
            if not tokens:
                out.append(0)
                continue
            if token_hash == "md5":
                hs = np.fromiter(
                    (
                        int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:16], 16)
                        for tok in tokens
                    ),
                    dtype=np.uint64,
                    count=len(tokens),
                )
            else:
                # 64-bit token hash from two independent crc32s (fast, stable)
                hs = np.fromiter(
                    (
                        (zlib.crc32(tok.encode("utf-8")) << 32)
                        | zlib.crc32(tok.encode("utf-8"), 0x9E3779B9)
                        for tok in tokens
                    ),
                    dtype=np.uint64,
                    count=len(tokens),
                )
            bitsv = ((hs[:, None] >> np.arange(bits, dtype=np.uint64)) & 1).astype(np.int64)
            acc = np.where(bitsv == 1, 1, -1).sum(axis=0)
            sig = int(((acc > 0).astype(np.uint64) << np.arange(bits, dtype=np.uint64)).sum())
            out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
        return pd.Series(out, dtype="int64")

    return df.withColumn("simhash", _simhash(F.col(text_col)))


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 64,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: Optional[int] = None,
    stage: str = "persist",
    observation: Optional[Observation] = None,
    cap_mode: str = "drop",
) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole banding (Manku et al.,
    "Detecting Near-Duplicates for Web Crawling", WWW'07).

    Split the signature into ``n_bands`` equal slices; two signatures
    within hamming distance ``n_bands - 1`` must agree EXACTLY on at
    least one slice (pigeonhole) — so per-band equi-joins give 100%
    recall for ``max_hamming <= n_bands - 1`` as a guarantee, not a
    probability.  Verification is pure JVM arithmetic:
    ``bit_count(xor)`` — no Python in the whole pipeline.

    Same two scale guards as :func:`minhash_candidates`:

      * the exploded (id, sig, band_ix, band_val) table is persisted
        before banding (``stage="persist"``) so the upstream SimHash
        pandas UDF evaluates once, not once per join side;
      * the per-band equi-join is quadratic within a band value, and the
        degenerate case is real (all-zero signatures from empty or
        boilerplate docs collapse into one bucket per band) — with
        ``max_bucket=N``, band buckets wider than N are dropped before
        the join.  Opt-in (default ``None``) because it trades recall
        (the pigeonhole guarantee no longer covers dropped buckets) for
        boundedness; scale jobs pass a cap AND run exact dedup upstream —
        and the drop is observable via ``observation`` (same
        dropped_buckets / dropped_pairs / max_bucket_width metrics as
        :func:`minhash_candidates`).  ``cap_mode="shard"`` instead
        hash-shards the wide buckets and covers every shard-pair cell —
        the pigeonhole recall guarantee then holds UNCONDITIONALLY again
        (zero dropped pairs, bounded task size; counters become
        sharded_buckets / replica_rows / max_bucket_width).
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"pigeonhole guarantee requires max_hamming <= n_bands - 1 "
            f"(got {max_hamming} > {n_bands - 1}); raise n_bands"
        )
    if stage not in ("persist", "none"):
        raise ValueError("stage must be 'persist' or 'none'")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_ix"),
                F.shiftrightunsigned(F.col(sim_col), i * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    exploded = df.select(
        F.col(id_col), F.col(sim_col), F.explode(band_arr).alias("band")
    ).select(id_col, sim_col, "band.band_ix", "band.band_val")
    if stage == "persist":
        from pyspark.storagelevel import StorageLevel

        exploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)
        _STAGE_CACHES.append(exploded)
    pair_rows = _capped_self_pair_rows(
        exploded, ["band_ix", "band_val"], id_col, max_bucket, observation,
        cap_mode, extra_cols=(sim_col,),
    )
    cands = pair_rows.dropDuplicates(["id_a", "id_b"])
    ham = F.bit_count(F.col(f"a_{sim_col}").bitwiseXOR(F.col(f"b_{sim_col}")))
    return (
        cands.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    df_b: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard for candidate pairs (verification stage
    after LSH).  Joins texts to the pair list then computes set overlap in
    a vectorized UDF — candidates only, never all-pairs.  ``df_b`` (when
    the pair's two sides come from different tables — cross-set dedup)
    supplies the ``id_b`` texts; default both sides from ``df``."""
    texts = df.select(F.col(id_col), F.col(text_col))
    texts_b = texts if df_b is None else df_b.select(F.col(id_col), F.col(text_col))
    joined = (
        pairs.join(texts.withColumnRenamed(id_col, "id_a").withColumnRenamed(text_col, "text_a"), "id_a")
        .join(texts_b.withColumnRenamed(id_col, "id_b").withColumnRenamed(text_col, "text_b"), "id_b")
    )

    @F.pandas_udf("double")
    def _jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        def grams(t: str):
            toks = t.lower().split()
            return set(zip(*[toks[i:] for i in range(n)])) if len(toks) >= n else {tuple(toks)}

        vals = []
        for x, y in zip(ta.fillna(""), tb.fillna("")):
            ga, gb = grams(x), grams(y)
            inter = len(ga & gb)
            union = len(ga | gb) or 1
            vals.append(inter / union)
        return pd.Series(vals)

    return joined.withColumn("jaccard", _jac(F.col("text_a"), F.col("text_b"))).drop(
        "text_a", "text_b"
    )
