"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (JVM-side ``zip_with`` +
``aggregate`` — no Python in the hot path); the LSH-bucketed variant is
the 100 TB path: random-hyperplane signatures bucket vectors so each
query probes one bucket instead of the full corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to the vector with *query_vec_id*.

    The single query row is cross-joined broadcast-style (1×N, no
    shuffle); the score is computed entirely in whole-stage codegen; the
    top-k is a TakeOrdered — no full sort materialization.
    """
    q = embeddings.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec"), _norm(F.col(vec_col)).alias("_qn")
    )
    scored = (
        embeddings.where(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            F.round(
                _dot(F.col(vec_col), F.col("_qvec"))
                / (_norm(F.col(vec_col)) * F.col("_qn")),
                4,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = floor(x_i / s * 127
    + 0.5)`` with ``s = max|x_i|`` (zero vectors → all-zero q).  Appends
    ``q`` (array<tinyint>, values in [-127, 127]) and ``q_scale``.

    Why at 100 TB: the embedding column dominates ANN shuffle/broadcast
    width; int8 moves 4× less than float32.  And because the scale is
    symmetric PER VECTOR, it cancels out of cosine — quantized scoring
    (:func:`quantized_topk`) is pure integer arithmetic on ``q`` with no
    dequantization, which also makes it bit-deterministic across engines
    (integer dot/norm sums are exact in float64 at any summation order,
    so a SQL oracle reproduces scores exactly — no fp-accumulation-order
    caveat)."""
    x = F.col(vec_col)
    df = df.withColumn(
        "q_scale",
        F.aggregate(
            F.transform(x, lambda v: F.abs(v.cast("double"))),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        ),
    )
    q = F.when(
        F.col("q_scale") == 0.0,
        F.transform(x, lambda v: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            x,
            lambda v: F.floor(v.cast("double") / F.col("q_scale") * 127.0 + 0.5).cast(
                "tinyint"
            ),
        )
    )
    return df.withColumn("q", q)


def quantized_topk(
    quantized: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "q",
) -> DataFrame:
    """Exact top-k by the QUANTIZED cosine (integer dot over ``q`` —
    scales cancel, see :func:`quantize_embeddings`).  Same broadcast 1×N
    probe + TakeOrdered shape as :func:`cosine_topk`, at a quarter of the
    scan/broadcast width."""

    def qdot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    qrow = quantized.where(F.col(id_col) == query_vec_id).select(
        F.col(q_col).alias("_qq"),
        F.sqrt(qdot(F.col(q_col), F.col(q_col)).cast("double")).alias("_qqn"),
    )
    # per-row constants (own norms) precomputed on each side — only the
    # cross dot varies per pair; same multiply order, bit-identical score
    raw = (
        qdot(F.col(q_col), F.col("_qq")).cast("double")
        / (
            F.sqrt(qdot(F.col(q_col), F.col(q_col)).cast("double"))
            * F.col("_qqn")
        )
    )
    scored = (
        quantized.where(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(qrow))
        .select(id_col, raw.alias("_raw"))
    )
    return (
        scored.orderBy(F.desc("_raw"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("_raw", 4).alias("cosine_q"))
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine ≥ t).

    Exact all-pairs variant (self-join, id_a < id_b) — the verification
    baseline.  At scale, pre-bucket with :func:`with_lsh_bucket` and join
    on bucket equality first (same output contract, candidates only);
    see `lsh_topk` for the bucketed probe shape.
    """
    a = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def lsh_embedding_dups(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 11,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = None,
    cap_mode: str = "drop",
    observations=None,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed — the 100 TB path.

    Same output contract as :func:`embedding_near_dups` but candidates
    come from bucket-equality *equi-joins* on hyperplane signatures
    (shuffles keyed on the bucket) instead of the O(N²) cartesian.
    Recall trade-off is explicit and tunable on two axes, exactly like
    MinHash banding: a pair at cosine t agrees with one table's P planes
    with probability p = (1 - arccos(t)/π)^P, and is caught by at least
    one of T independent tables with 1 - (1-p)^T.  Each table is its own
    equi-join (never an OR-join, which would degrade to a cartesian);
    candidate pairs are unioned and de-duplicated before the exact
    cosine verification.

    Giant buckets (degenerate boilerplate embeddings collapsing into one
    signature) take the same two guards as every other banding self-join:
    ``max_bucket`` with ``cap_mode="drop"`` (bounded, recall loss) or
    ``"shard"`` (bounded task size, ZERO dropped pairs — the theta-join
    cell decomposition of ``dedup._sharded_self_pair_rows``).
    ``observations`` is a per-table sequence (an Observation binds to one
    DataFrame, and each table has its own width aggregation)."""
    from localmod_spark.operators.dedup import _capped_self_pair_rows, _check_cap_mode

    _check_cap_mode(cap_mode, max_bucket)
    sigs = embeddings
    bucket_cols = []
    for t in range(n_tables):
        sigs = with_lsh_bucket(sigs, dim=dim, n_planes=n_planes, seed=seed + t, vec_col=vec_col)
        col = f"_lsh_b{t}"
        sigs = sigs.withColumnRenamed("lsh_bucket", col)
        bucket_cols.append(col)
    ids = sigs.select(F.col(id_col), *bucket_cols)
    cands = None
    for t, col in enumerate(bucket_cols):
        tbl = ids.select(F.col(id_col), F.col(col).alias("_b"))
        obs = observations[t] if observations is not None else None
        p = _capped_self_pair_rows(
            tbl, ["_b"], id_col, max_bucket, obs, cap_mode
        ).select("id_a", "id_b")
        cands = p if cands is None else cands.unionByName(p)
    cands = cands.dropDuplicates(["id_a", "id_b"])
    va = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    vb = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    pairs = cands.join(va, "id_a").join(vb, "id_b")
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 11,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket id (int) per vector.

    Hyperplanes are deterministic (seeded numpy) and embedded as array
    literals → bucket assignment is a pure column expression; the ANN
    query becomes a bucket-equality join (shuffle on bucket, prunable).

    r7: ONE sign lambda over a 2-D (plane, power-of-two) struct literal
    instead of ``n_planes`` unrolled dot expressions — identical integer
    bucket (bit i set iff dot_i > 0; integer sums are exact in any
    order), n_planes× smaller generated code, same reasoning as
    :func:`with_ivf_list`'s codegen note.
    """
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    p2d = _memo_lit(
        "planes",
        planes.tobytes(),
        lambda: F.array(
            *[F.array(*[F.lit(float(v)) for v in row]) for row in planes]
        ),
    )
    pows = F.lit([1 << i for i in range(n_planes)]).cast("array<int>")
    # a NULL dot (NULL vector, NULL element, or a length other than dim:
    # zip_with pads with NULL) makes its bit and so the bucket NULL —
    # malformed vectors get no bucket and join with nothing
    bits = F.transform(
        p2d,
        lambda p, i: (_dot(F.col(vec_col), p) > 0).cast("int") * F.element_at(pows, i + 1),
    )
    return embeddings.withColumn(
        "lsh_bucket", F.aggregate(bits, F.lit(0), lambda acc, x: acc + x)
    )


_LIT_CACHE: dict = {}


def _memo_lit(tag: str, key: bytes, build) -> "F.Column":
    """Session-scoped memo for big literal Columns.

    Building a 16×64 matrix literal costs ~2,000 py4j roundtrips (~0.8 s
    of pure driver time — ``F.lit`` of a list recurses per element), and
    the ANN queries build the same literal several times per run (list
    assignment + per-query ranking, two reps, the recall query's two
    legs).  A Column is an immutable expression handle, not data, so
    reusing the SAME object across plan builds changes nothing about
    what executes; the cache keys on the SparkContext's applicationId so
    a new session never sees a stale JVM handle."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    k = (app, tag, key)
    col = _LIT_CACHE.get(k)
    if col is None:
        for stale in [x for x in _LIT_CACHE if x[0] != app]:
            del _LIT_CACHE[stale]  # only the live session's literals retained
        col = build()
        _LIT_CACHE[k] = col
    return col


def _cents_lit(cents) -> "F.Column":
    """Centroid matrix as a 2-D array literal (array<array<double>>),
    memoized per session (see :func:`_memo_lit`)."""
    arr = np.asarray(cents, dtype=np.float64)
    return _memo_lit(
        "cents",
        arr.tobytes(),
        lambda: F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in arr]),
    )


def _centroids(dim: int, n_lists: int, seed: int) -> np.ndarray:
    """Deterministic unit-norm centroids (seeded Gaussian): the IVF
    codebook every query and its SQL oracle share."""
    rng = np.random.RandomState(seed)
    c = rng.randn(n_lists, dim)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def with_ivf_list(
    embeddings: DataFrame,
    dim: int,
    n_lists: int = 16,
    seed: int = 23,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment: each vector joins the inverted list of its nearest
    centroid (argmax dot product).  Pure column expressions → the list id
    becomes a partition/cluster key; at 100 TB the table is bucketed or
    partitioned by ``ivf_list`` so a probe scans only its lists."""
    cents = _centroids(dim, n_lists, seed)
    # ONE dot lambda over a 2-D centroid literal instead of n_lists
    # unrolled dot expressions: identical arithmetic/results, but the
    # generated code is n_lists× smaller — measured 4.2s → 0.6s cold at
    # 16×64 (codegen/analysis of the unrolled form dominated)
    scores = F.transform(_cents_lit(cents), lambda c: _dot(F.col(vec_col), c))
    # argmax = position of the max score (1-based array_position → 0-based)
    return embeddings.withColumn(
        "ivf_list",
        (F.array_position(scores, F.array_max(scores)) - 1).cast("int"),
    )


def semdedup(
    embeddings: DataFrame,
    dim: int,
    n_lists: int = 16,
    threshold: float = 0.95,
    seed: int = 23,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quality_col: str = None,
    max_bucket: int = None,
    cap_mode: str = "drop",
    observation=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication — k-means-cluster the embedding space, then prune
    near-duplicate neighborhoods WITHIN each cluster, keeping the member
    least similar to its centroid (the paper's keep choice: boundary
    examples carry more information than cluster-core ones).

    Drop rule (deterministic, relational): x is dropped iff some y in
    the SAME cluster has cos(x, y) >= ``threshold`` and
    (ccos_y, id_y) < (ccos_x, id_x), where ccos is cosine to the
    cluster centroid and id breaks exact ties.  Each qualifying PAIR
    drops its (ccos, id)-greater member: a clique of mutual near-dups
    keeps exactly its minimal member, while a chained (non-clique)
    neighborhood may keep several mutually-dissimilar members — the
    per-pair rule, not one-survivor-per-connected-component.  The
    decision needs only within-cluster pairs — never the O(N²)
    cartesian.  Returns one row per input vector:
    (id_col, cluster: long, centroid_cos: double(4dp), keep: boolean).

    Scale shape: clustering bounds the self-join to cluster-equality
    equi-joins (shuffle keyed on the cluster id — at 10^12 rows use
    n_lists large enough that N/n_lists fits a task, exactly the IVF
    sizing rule); degenerate clusters take the same two giant-bucket
    guards as every banding self-join (``max_bucket`` +
    ``cap_mode="drop"``/``"shard"``).  Clusters are the seeded IVF
    codebook's lists (:func:`_centroids`), which keeps the query
    oracle-checkable.

    ``quality_col`` (a column of ``embeddings``) switches the keep
    choice to quality-FIRST: each qualifying pair drops its
    lower-quality member, falling back to the centroid rule then the id
    on exact ties — the curation variant that mirrors
    ``dedup.select_representatives`` for minhash clusters (keep the best
    writing, not the most boundary-ish embedding).
    """
    from localmod_spark.cache_registry import register_stage_cache
    from localmod_spark.operators.dedup import _capped_self_pair_rows, _check_cap_mode

    _check_cap_mode(cap_mode, max_bucket)
    cents = _centroids(dim, n_lists, seed)
    # one scores array yields BOTH the assignment (argmax position) and
    # the centroid cosine (max score / |v|; centroids are unit-norm)
    scores = F.transform(_cents_lit(cents), lambda c: _dot(F.col(vec_col), c))
    # NULL quality ranks below every real score (NULL comparisons would
    # silently skip both quality WHEN branches and hand a scored row's
    # fate to the centroid rule against an unscored near-dup)
    qual = (
        [
            F.coalesce(F.col(quality_col).cast("double"), F.lit(float("-inf"))).alias(
                "_q"
            )
        ]
        if quality_col
        else []
    )
    assigned = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("_vec"),
        _norm(F.col(vec_col)).alias("_vn"),
        F.array_position(scores, F.array_max(scores))
        .cast("long")
        .alias("_cluster1"),  # 1-based; -1 below keeps one expression tree
        (F.array_max(scores) / _norm(F.col(vec_col))).alias("_ccos"),
        *qual,
    ).select(
        id_col,
        "_vec",
        "_vn",
        (F.col("_cluster1") - 1).alias("cluster"),
        "_ccos",
        *(["_q"] if quality_col else []),
    )
    assigned = register_stage_cache(assigned.persist())
    pairs = _capped_self_pair_rows(
        assigned.select(F.col(id_col), "cluster"),
        ["cluster"],
        id_col,
        max_bucket,
        observation,
        cap_mode,
    )
    def _side(suffix):
        cols = [
            F.col(id_col).alias(f"id_{suffix}"),
            F.col("_vec").alias(f"_v{suffix}"),
            F.col("_vn").alias(f"_n{suffix}"),
            F.col("_ccos").alias(f"_c{suffix}"),
        ]
        if quality_col:
            cols.append(F.col("_q").alias(f"_q{suffix}"))
        return assigned.select(*cols)

    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    # pairs arrive id-ordered (id_a < id_b), so every tie-break chain
    # bottoms out at "loser is id_b"
    if quality_col:
        loser = (
            F.when(F.col("_qa") < F.col("_qb"), F.col("id_a"))
            .when(F.col("_qa") > F.col("_qb"), F.col("id_b"))
            .when(F.col("_ca") > F.col("_cb"), F.col("id_a"))
            .otherwise(F.col("id_b"))
        )
    else:
        loser = F.when(F.col("_ca") > F.col("_cb"), F.col("id_a")).otherwise(
            F.col("id_b")
        )
    losers = (
        pairs.join(_side("a"), "id_a")
        .join(_side("b"), "id_b")
        .where(cos >= F.lit(float(threshold)))
        .select(loser.alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return assigned.join(losers, id_col, "left").select(
        id_col,
        "cluster",
        F.round("_ccos", 4).alias("centroid_cos"),
        F.col("_dropped").isNull().alias("keep"),
    )


def ivf_topk(
    embeddings_with_list: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 2,
    dim: int = None,
    n_lists: int = 16,
    seed: int = 23,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only the ``n_probe`` inverted lists whose
    centroids are nearest the query vector.

    The probe-list computation happens on the driver against the tiny
    centroid matrix (n_lists × dim floats — a parameter, not data); the
    scan then prunes to those lists before any distance math.  Pass the
    ``n_lists``/``seed`` the table was assigned with.
    """
    q_row = embeddings_with_list.where(F.col(id_col) == query_vec_id).select(
        vec_col
    ).first()
    qvec = np.array(q_row[0], dtype=np.float64)
    if dim is None:
        dim = len(qvec)
    cents = _centroids(dim, n_lists, seed)
    probe = np.argsort(-(cents @ qvec))[:n_probe].tolist()

    q = embeddings_with_list.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec"), _norm(F.col(vec_col)).alias("_qn")
    )
    scored = (
        embeddings_with_list.where(
            F.col("ivf_list").isin(probe) & (F.col(id_col) != query_vec_id)
        )
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            "ivf_list",
            F.round(
                _dot(F.col(vec_col), F.col("_qvec"))
                / (_norm(F.col(vec_col)) * F.col("_qn")),
                4,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def lsh_topk(
    embeddings_with_bucket: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hamming: int = 0,
    n_planes: int = None,
) -> DataFrame:
    """Approximate top-k: score only the query's bucket.

    ``hamming=1`` enables multi-probe: buckets whose signature differs
    from the query's by at most one hyperplane sign are probed too — the
    standard recall knob (a true neighbor near one hyperplane flips
    exactly that bit).  With P planes this scans ~(P+1)/2^P of the
    corpus instead of 1/2^P; still bucket-pruned, never a full scan.

    The probe set is resolved DRIVER-side (ONE ``first()`` fetches the
    query's bucket AND vector; the vector is inlined as a literal array,
    so no join/broadcast exists at all) and applied as a LITERAL
    ``isin`` filter — on a table with a materialized ``lsh_bucket``
    column the predicate pushes into the scan (``PushedFilters:
    In(lsh_bucket, ...)``); the earlier formulation compared against a
    broadcast query row's bucket, forcing a full-corpus scan filtered
    only after the join.

    ``n_planes`` is REQUIRED when ``hamming >= 1`` and must equal the
    plane count the table was bucketed with: the hamming-1 neighborhood
    is enumerated as one bit flip per plane, so a wrong count silently
    probes the wrong (or too few) buckets — the operator refuses to
    guess rather than quietly lose recall."""
    if hamming >= 1 and n_planes is None:
        raise ValueError(
            "hamming>=1 needs n_planes = the plane count used by with_lsh_bucket "
            "(the hamming-1 probe set is one bit flip per plane)"
        )
    q_row = (
        embeddings_with_bucket.where(F.col(id_col) == query_vec_id)
        .select("lsh_bucket", vec_col)
        .first()
    )
    if q_row is None:
        raise ValueError(f"query {id_col}={query_vec_id} not found")
    qbucket = int(q_row[0])
    qvec = F.lit([float(v) for v in q_row[1]])
    probe_buckets = [qbucket]
    if hamming >= 1:
        # flipping exactly one plane sign toggles exactly one bucket bit
        probe_buckets += [qbucket ^ (1 << i) for i in range(n_planes)]
    scored = embeddings_with_bucket.where(
        F.col("lsh_bucket").isin(probe_buckets) & (F.col(id_col) != query_vec_id)
    ).select(
        id_col,
        F.round(
            _dot(F.col(vec_col), qvec) / (_norm(F.col(vec_col)) * _norm(qvec)), 4
        ).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _per_query_topk(joined: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Shared tail of the batched ANN joins (exact / LSH / IVF): cosine
    against the joined ``_qvec``, then per-query ``row_number`` top-k —
    keeping the score arithmetic and tie-break identical across all
    three operators (and their SQL oracles).

    r7: expects the norms PRE-COMPUTED on each side before the join
    (``_cn`` on the corpus row, ``_qn`` on the query row): a vector's
    norm is a per-row constant, so evaluating it inside the per-PAIR
    projection re-ran two 64-wide array aggregates per candidate pair —
    3× the arithmetic of the dot that actually varies per pair.  The
    divisor ``_cn * _qn`` multiplies the same two doubles in the same
    order as the old ``_norm(vec) * _norm(_qvec)``, so every cosine is
    bit-identical (measured: knn_join 1.63 → 1.05 s at sf0.1, 0 row
    diffs)."""
    scored = joined.select(
        "query_id",
        id_col,
        F.round(
            _dot(F.col(vec_col), F.col("_qvec")) / (F.col("_cn") * F.col("_qn")),
            4,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = None,
    query_vec_col: str = None,
) -> DataFrame:
    """EXACT batched kNN join: top-k corpus neighbors by cosine for EVERY
    query row — the pipeline-shaped ANN ("kNN for each document"), not a
    per-query lookup.  Returns (query_id, vec_id, cosine, rk).

    Shape: the query table is broadcast (queries are the small side — a
    benchmark set, a probe sample; NEVER the corpus), the corpus scans
    exactly once, scoring stays in whole-stage codegen, and the per-query
    top-k is one ``row_number`` window partitioned by query id — no
    driver-side loop, no N×Q materialization beyond the window input.
    Exact mode is O(|corpus|·|queries|) compute by nature; for corpus-
    sized query sets use :func:`ann_join_topk` (bucket equi-join)."""
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(qvec).alias("_qvec"),
        _norm(F.col(qvec)).alias("_qn"),
    )
    joined = (
        corpus.withColumn("_cn", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
    )
    return _per_query_topk(joined, k, id_col, vec_col)


def ann_join_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 11,
    hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = None,
    query_vec_col: str = None,
    max_bucket: int = None,
    observation: "Observation" = None,
    cap_mode: str = "drop",
) -> DataFrame:
    """Batched multi-query ANN join — the 100 TB "kNN for every doc"
    path (near-dup scoring, retrieval decontamination).  Both sides get
    the same seeded hyperplane signature; the query side EXPLODES into
    its probe buckets (own bucket + the ``n_planes`` hamming-1 neighbors
    when ``hamming=1``); candidates come from a pure bucket EQUI-join —
    shuffles keyed on the bucket, never a cartesian, no corpus broadcast,
    no per-query driver work.  Per-query top-k = one ``row_number``
    window.  Returns (query_id, vec_id, cosine, rk).

    Each corpus vector lives in exactly ONE bucket and the probe list per
    query is distinct buckets, so a (query, corpus) pair joins at most
    once — no post-join dedup needed.  Recall follows the hyperplane-LSH
    math of :func:`lsh_topk`; the window makes the trade explicit: a
    query's k-th neighbor is exact *within the probed buckets*.

    At 10^12 rows: materialize ``with_lsh_bucket`` onto the corpus table
    (bucket/partition by ``lsh_bucket``) so the equi-join co-locates and
    the probe-side explode (×(n_planes+1)) touches only the small query
    table.  Degenerate embeddings (all-zero / boilerplate vectors)
    collapse into ONE bucket, making that bucket's join side
    |bucket|×|queries|-wide; AQE's skew-join split absorbs moderate skew,
    and ``max_bucket`` (opt-in, same recall-for-boundedness trade and
    ``observation`` counters as the dedup banding caps) prunes
    pathological buckets before the join.  ``cap_mode="shard"`` keeps
    the bound WITHOUT the recall loss: wide corpus buckets hash-shard
    into ``⌈w/max_bucket⌉`` pieces (the shard id joins as part of the
    key) and only the probe side replicates per shard — zero dropped
    neighbors, counters become sharded_buckets / replica_rows /
    max_bucket_width."""
    from localmod_spark.operators.dedup import _check_cap_mode, _wide_buckets

    _check_cap_mode(cap_mode, max_bucket)
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    corpus_b = with_lsh_bucket(
        corpus, dim=dim, n_planes=n_planes, seed=seed, vec_col=vec_col
    ).withColumn("_cn", _norm(F.col(vec_col)))
    sharding = max_bucket is not None and cap_mode == "shard"
    if sharding:
        wk = _wide_buckets(corpus_b, ["lsh_bucket"], max_bucket, observation).select(
            "lsh_bucket", "_k"
        )
        corpus_b = (
            corpus_b.join(wk, "lsh_bucket", "left")
            .withColumn(
                "_cshard",
                F.when(F.col("_k").isNull(), F.lit(0)).otherwise(
                    F.pmod(F.xxhash64(F.col(id_col), F.lit(909)), F.col("_k")).cast("int")
                ),
            )
            .drop("_k")
        )
    elif max_bucket is not None:
        widths = corpus_b.groupBy("lsh_bucket").agg(F.count(F.lit(1)).alias("_w"))
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
        narrow = widths.where(F.col("_w") <= max_bucket).select("lsh_bucket")
        corpus_b = corpus_b.join(narrow, "lsh_bucket", "left_semi")
    q_b = with_lsh_bucket(queries, dim=dim, n_planes=n_planes, seed=seed, vec_col=qvec)
    probes = [F.col("lsh_bucket")]
    if hamming >= 1:
        probes += [F.col("lsh_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    qx = q_b.select(
        F.col(qid).alias("query_id"),
        F.col(qvec).alias("_qvec"),
        _norm(F.col(qvec)).alias("_qn"),
        F.explode(F.array(*probes)).alias("_probe"),
    )
    cond = F.col("lsh_bucket") == F.col("_probe")
    if sharding:
        # each probe of a wide bucket fans out ×k — the query side is
        # the small side by contract, so the replication is cheap and
        # the per-(bucket, shard) task never exceeds ~max_bucket corpus
        # rows × that bucket's probes
        qx = (
            qx.join(wk.withColumnRenamed("lsh_bucket", "_probe"), "_probe", "left")
            .withColumn(
                "_pshard",
                F.explode(F.sequence(F.lit(0), F.coalesce(F.col("_k"), F.lit(1)) - 1)),
            )
            .drop("_k")
        )
        cond = cond & (F.col("_cshard") == F.col("_pshard"))
    joined = corpus_b.join(qx, cond).where(F.col(id_col) != F.col("query_id"))
    return _per_query_topk(joined, k, id_col, vec_col)


def ivf_join_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 2,
    seed: int = 23,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = None,
    query_vec_col: str = None,
) -> DataFrame:
    """Batched multi-query ANN join over IVF inverted lists — the
    inverted-list sibling of :func:`ann_join_topk`.  Corpus rows get
    their single nearest-centroid list; each QUERY row computes its own
    top-``n_probe`` probe lists as pure column expressions (sort the
    per-centroid dot scores by (-score, list) and slice — no driver
    work per query, unlike :func:`ivf_topk`'s single-query `first()`),
    explodes into them, and candidates come from a list-equality
    EQUI-join + per-query ``row_number``.  Returns
    (query_id, vec_id, cosine, rk).

    At 10^12 rows: partition/bucket the corpus by ``ivf_list`` so the
    probe join co-locates and each query's candidates read only its
    lists' partitions."""
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    cents = _centroids(dim, n_lists, seed)
    corpus_l = with_ivf_list(
        corpus, dim, n_lists=n_lists, seed=seed, vec_col=vec_col
    ).withColumn("_cn", _norm(F.col(vec_col)))
    # per-query probe lists: struct sort on (-dot, list_ix) = score desc,
    # index-ascending ties — the same ranking ivf_topk's driver-side
    # argsort and the SQL oracle's (ORDER BY sc DESC, i ASC) use; one
    # indexed transform lambda, not n_lists unrolled dots (see
    # with_ivf_list's codegen note)
    ranked = F.array_sort(
        F.transform(
            _cents_lit(cents),
            lambda c, i: F.struct(
                (-_dot(F.col(qvec), c)).alias("ns"), i.alias("lix")
            ),
        )
    )
    probes = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["lix"])
    qx = queries.select(
        F.col(qid).alias("query_id"),
        F.col(qvec).alias("_qvec"),
        _norm(F.col(qvec)).alias("_qn"),
        F.explode(probes).alias("_plist"),
    )
    joined = corpus_l.join(qx, F.col("ivf_list") == F.col("_plist")).where(
        F.col(id_col) != F.col("query_id")
    )
    return _per_query_topk(joined, k, id_col, vec_col)
