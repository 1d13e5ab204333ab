"""Similarity-search operators: exact top-k, LSH and IVF approximate paths."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from localmod_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_topk,
    with_ivf_list,
    with_lsh_bucket,
)

DIM = 16
N = 300


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(DIM)]) for i in range(N)]
    # plant a near-duplicate of vec 0 at id 999
    base = np.array(rows[0][1])
    rows.append((999, [float(x) for x in base + rng.randn(DIM) * 0.01]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist()


def test_exact_topk_finds_planted_neighbor(emb):
    top = cosine_topk(emb, 0, k=5).collect()
    assert top[0].vec_id == 999 and top[0].cosine > 0.99
    # descending order
    scores = [r.cosine for r in top]
    assert scores == sorted(scores, reverse=True)


def test_ivf_assignment_and_probe(emb):
    listed = with_ivf_list(emb, dim=DIM, n_lists=8)
    lists = listed.select("ivf_list").distinct().collect()
    assert all(0 <= r.ivf_list < 8 for r in lists)
    # the planted near-dup lands in the query's list → probe finds it
    top = ivf_topk(listed, 0, k=3, n_probe=2, dim=DIM, n_lists=8).collect()
    assert top and top[0].vec_id == 999


def test_ivf_probe_prunes(emb, spark):
    listed = with_ivf_list(emb, dim=DIM, n_lists=8).persist()
    total = listed.count()
    top = ivf_topk(listed, 0, k=3, n_probe=1, dim=DIM, n_lists=8)
    # scored candidates come from 1 of 8 lists — far fewer than the table
    probed_list = listed.where(F.col("vec_id") == 0).select("ivf_list").first()[0]
    probed_n = listed.where(F.col("ivf_list") == probed_list).count()
    assert probed_n < total * 0.6
    assert len(top.collect()) <= 3
    listed.unpersist()


def test_lsh_bucket_probe_recall_on_planted_dup(emb):
    bucketed = with_lsh_bucket(emb, dim=DIM, n_planes=6)
    top = lsh_topk(bucketed, 0, k=3).collect()
    # near-identical vectors share all hyperplane signs → same bucket
    assert top and top[0].vec_id == 999


def test_lsh_multiprobe_expands_candidates(emb, spark):
    """hamming=1 probes the query bucket plus each one-bit-flip bucket:
    strictly more candidates, and every exact-bucket hit is retained."""
    from pyspark.sql import functions as F
    from localmod_spark.operators.similarity import with_lsh_bucket

    bucketed = with_lsh_bucket(emb, dim=DIM, n_planes=6).persist()
    exact = lsh_topk(bucketed, 0, k=50, hamming=0).collect()
    multi = lsh_topk(bucketed, 0, k=50, hamming=1, n_planes=6).collect()
    assert {r.vec_id for r in exact} <= {r.vec_id for r in multi}
    assert len(multi) >= len(exact)
    # the probed set is still pruned: strictly fewer rows than the corpus
    qb = bucketed.where(F.col("vec_id") == 0).select("lsh_bucket").first()[0]
    xor = F.col("lsh_bucket").bitwiseXOR(F.lit(qb))
    probed = bucketed.where((xor == 0) | ((xor != 0) & (xor.bitwiseAND(xor - 1) == 0))).count()
    assert probed < bucketed.count()
    bucketed.unpersist()


def test_lsh_dups_subset_of_all_pairs(emb, spark):
    """The bucketed near-dup set must be a subset of the exact all-pairs
    set with identical cosines on the intersection (LSH may lose recall,
    never invent pairs or change values)."""
    from localmod_spark.operators.similarity import embedding_near_dups, lsh_embedding_dups

    exact = {(r.id_a, r.id_b): r.cosine for r in embedding_near_dups(emb, threshold=0.2).collect()}
    lsh = {(r.id_a, r.id_b): r.cosine
           for r in lsh_embedding_dups(emb, dim=DIM, threshold=0.2, n_planes=6, n_tables=2).collect()}
    assert set(lsh) <= set(exact)
    assert all(lsh[p] == exact[p] for p in lsh)
    assert lsh  # non-vacuous: the planted near-dup pair must be caught
    assert (0, 999) in lsh


# -------------------------------------------------------- quantization ----


def test_quantize_embeddings_bit_exact_vs_numpy(spark):
    """The quantization formula must match an explicit numpy reference —
    including negatives (floor(v/s*127+0.5) is round-half-toward-+inf)
    and the zero-vector guard."""
    import numpy as np

    from localmod_spark.operators.similarity import quantize_embeddings

    vecs = [
        (0, [1.0, -1.0, 0.5, -0.25]),
        (1, [0.0, 0.0, 0.0, 0.0]),          # zero vector
        (2, [0.3, 0.299999, -0.3, 0.1]),
        (3, [-2.0, 1.0, 0.003, -0.0039]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r.vec_id: (list(r.q), r.q_scale) for r in quantize_embeddings(df).collect()}
    for vid, x in vecs:
        x = np.asarray(x, dtype=np.float64)
        s = float(np.abs(x).max())
        want = [0] * len(x) if s == 0 else [int(np.floor(v / s * 127.0 + 0.5)) for v in x]
        assert got[vid] == (want, s), vid
        assert all(-127 <= v <= 127 for v in got[vid][0])


def test_quantized_topk_recall_vs_exact(spark):
    """int8 cosine must agree closely with float cosine: at least 8 of
    the exact top-10 survive quantization, and per-pair scores are within
    the int8 resolution."""
    from localmod_spark.operators.similarity import (
        cosine_topk,
        quantize_embeddings,
        quantized_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {r.vec_id: r.cosine for r in cosine_topk(emb, 0, 10).collect()}
    quant = {r.vec_id: r.cosine_q for r in quantized_topk(quantize_embeddings(emb), 0, 10).collect()}
    assert len(set(exact) & set(quant)) >= 8
    for vid in set(exact) & set(quant):
        assert abs(exact[vid] - quant[vid]) < 0.02, vid


def test_knn_join_matches_per_query_exact(emb, spark):
    """The batched kNN join's per-query rows equal the single-query exact
    operator for every query — one corpus scan replaces Q driver loops."""
    from localmod_spark.operators.similarity import knn_join

    queries = emb.where(F.col("vec_id").isin([0, 7, 999]))
    got = knn_join(queries, emb, k=4).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append((r.rk, r.vec_id, r.cosine))
    assert set(by_query) == {0, 7, 999}
    for qid, rows in by_query.items():
        rows.sort()
        want = [(i + 1, r.vec_id, r.cosine) for i, r in enumerate(cosine_topk(emb, qid, k=4).collect())]
        assert rows == want, f"query {qid}"


def test_ann_join_topk_finds_planted_neighbor_per_query(emb, spark):
    """Bucketed multi-query ANN: the planted near-dup of vec 0 must
    surface as its rank-1 neighbor (identical signatures ⇒ same bucket),
    and every query gets at most k rows with contiguous ranks."""
    from localmod_spark.operators.similarity import ann_join_topk

    queries = emb.where(F.col("vec_id").isin([0, 3, 999]))
    got = ann_join_topk(queries, emb, dim=DIM, k=3, n_planes=6, hamming=1).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)
    assert set(by_query) == {0, 3, 999}
    top0 = min(by_query[0], key=lambda r: r.rk)
    assert top0.vec_id == 999 and top0.cosine > 0.99
    for rows in by_query.values():
        rks = sorted(r.rk for r in rows)
        assert rks == list(range(1, len(rks) + 1)) and len(rks) <= 3


def test_ann_join_topk_no_duplicate_pairs(emb):
    """A corpus vector joins each query at most once (one bucket per
    corpus row, distinct probe buckets per query)."""
    from localmod_spark.operators.similarity import ann_join_topk

    queries = emb.where(F.col("vec_id") < 10)
    got = ann_join_topk(queries, emb, dim=DIM, k=50, n_planes=6, hamming=1)
    dup = got.groupBy("query_id", "vec_id").count().where("count > 1").count()
    assert dup == 0


def test_ivf_join_topk_matches_single_query_ivf(emb, spark):
    """The batched IVF join's per-query rows equal the single-query
    ivf_topk (same seeded codebook, same probe ranking) for every query —
    probe lists computed as column expressions, zero driver work."""
    from localmod_spark.operators.similarity import ivf_join_topk, ivf_topk, with_ivf_list

    queries = emb.where(F.col("vec_id").isin([0, 7, 999]))
    got = {}
    for r in ivf_join_topk(queries, emb, dim=DIM, k=3, n_lists=8, n_probe=2).collect():
        got.setdefault(r.query_id, []).append((r.rk, r.vec_id, r.cosine))
    listed = with_ivf_list(emb, dim=DIM, n_lists=8)
    for qid in (0, 7, 999):
        got[qid].sort()
        want = [
            (i + 1, r.vec_id, r.cosine)
            for i, r in enumerate(
                ivf_topk(listed, qid, k=3, n_probe=2, dim=DIM, n_lists=8).collect()
            )
        ]
        assert got[qid] == want, qid


def test_ann_join_topk_bucket_cap_prunes_degenerate_bucket(spark):
    """All-identical embeddings collapse into one bucket (the quadratic
    hazard); with max_bucket the bucket is pruned BEFORE the join and the
    drop is observable, while distinct vectors still match."""
    from pyspark.sql import Observation

    from localmod_spark.operators.similarity import ann_join_topk

    rng = np.random.RandomState(3)
    degen = [(i, [0.5] * DIM) for i in range(40)]
    base = rng.randn(DIM)
    normal = [(100, [float(x) for x in base]),
              (101, [float(x) for x in base + rng.randn(DIM) * 0.01])]
    emb = spark.createDataFrame(degen + normal, "vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id").isin([0, 100]))
    obs = Observation("ann_cap")
    got = ann_join_topk(
        queries, emb, dim=DIM, k=3, n_planes=6, max_bucket=10, observation=obs
    ).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)
    assert 0 not in by_query  # its whole bucket was pruned
    assert by_query[100][0].vec_id == 101
    m = obs.get
    assert m["dropped_buckets"] >= 1 and m["max_bucket_width"] >= 40
    assert m["dropped_corpus_rows"] >= 40


def test_semdedup_keeps_least_centroid_similar_of_planted_group(spark):
    """SemDeDup (Abbas'23): a planted trio of near-identical vectors lands
    in one cluster and exactly its (ccos, id)-minimal member survives;
    output partitions the input (every id exactly once, keep XOR drop)."""
    from localmod_spark.operators.similarity import _centroids, semdedup

    rng = np.random.RandomState(7)
    base = rng.randn(DIM)
    trio = []
    for i in range(3):
        v = base + rng.randn(DIM) * 0.01
        trio.append((i, [float(x) for x in v]))
    rest = [(10 + j, [float(x) for x in rng.randn(DIM)]) for j in range(50)]
    emb = spark.createDataFrame(trio + rest, "vec_id long, embedding array<float>")
    out = semdedup(emb, dim=DIM, n_lists=4, threshold=0.95, seed=23).collect()
    assert len(out) == 53 and len({r.vec_id for r in out}) == 53
    by_id = {r.vec_id: r for r in out}
    # the trio is one cluster-coherent near-dup neighborhood
    assert len({by_id[i].cluster for i in range(3)}) == 1
    # expected survivor, recomputed independently in numpy
    cents = _centroids(DIM, 4, 23)
    def ccos(vec):
        v = np.array(vec)
        return np.max(cents @ v) / np.linalg.norm(v)
    expect_keep = min(range(3), key=lambda i: (ccos(trio[i][1]), i))
    for i in range(3):
        assert by_id[i].keep == (i == expect_keep), i
    # ... and the reported centroid_cos matches numpy at 4dp
    assert abs(by_id[0].centroid_cos - round(ccos(trio[0][1]), 4)) < 1e-9


def test_semdedup_high_threshold_drops_only_planted_dups(spark):
    from localmod_spark.operators.similarity import semdedup

    rng = np.random.RandomState(11)
    base = rng.randn(DIM)
    rows = [(0, [float(x) for x in base]),
            (1, [float(x) for x in base + rng.randn(DIM) * 0.005])]
    rows += [(10 + j, [float(x) for x in rng.randn(DIM)]) for j in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(emb, dim=DIM, n_lists=4, threshold=0.99).collect()
    dropped = {r.vec_id for r in out if not r.keep}
    assert len(dropped) == 1 and dropped <= {0, 1}


def test_semdedup_shard_mode_matches_uncapped_decisions(spark):
    """cap_mode='shard' bounds task size on a degenerate cluster with ZERO
    decision change — the same keep/drop set as the uncapped join."""
    from pyspark.sql import Observation

    from localmod_spark.operators.similarity import semdedup

    rng = np.random.RandomState(13)
    base = rng.randn(DIM)
    # 40 near-identical vectors: one cluster, one wide near-dup bucket
    rows = [(i, [float(x) for x in base + rng.randn(DIM) * 0.01]) for i in range(40)]
    rows += [(100 + j, [float(x) for x in rng.randn(DIM)]) for j in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plain = semdedup(emb, dim=DIM, n_lists=4, threshold=0.95)
    obs = Observation("sem_shard")
    sharded = semdedup(
        emb, dim=DIM, n_lists=4, threshold=0.95,
        max_bucket=8, cap_mode="shard", observation=obs,
    )
    want = {(r.vec_id, r.keep) for r in plain.collect()}
    got = {(r.vec_id, r.keep) for r in sharded.collect()}
    assert got == want
    assert sum(1 for _, k in want if not k) >= 39  # the wide group collapsed
    assert obs.get["sharded_buckets"] >= 1


def test_semdedup_quality_col_keeps_best_member(spark):
    """quality_col flips the keep choice: each near-dup pair keeps its
    higher-quality member (centroid rule only on exact quality ties)."""
    from localmod_spark.operators.similarity import _centroids, semdedup

    rng = np.random.RandomState(17)
    base = rng.randn(DIM)
    trio = [(i, [float(x) for x in base + rng.randn(DIM) * 0.01]) for i in range(3)]
    rest = [(10 + j, [float(x) for x in rng.randn(DIM)]) for j in range(40)]
    # give the CENTROID-rule loser the best quality so the two rules differ
    cents = _centroids(DIM, 4, 23)

    def ccos(vec):
        v = np.array(vec)
        return np.max(cents @ v) / np.linalg.norm(v)

    centroid_keep = min(range(3), key=lambda i: (ccos(trio[i][1]), i))
    quality_keep = (centroid_keep + 1) % 3
    rows = [
        (i, v, 9.0 if i == quality_keep else 1.0 + i * 0.1) for i, v in trio
    ] + [(i, v, 5.0) for i, v in rest]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, q double")
    out = semdedup(
        emb, dim=DIM, n_lists=4, threshold=0.95, seed=23, quality_col="q"
    ).collect()
    by_id = {r.vec_id: r.keep for r in out}
    assert quality_keep != centroid_keep  # the scenario actually differs
    for i in range(3):
        assert by_id[i] == (i == quality_keep), i
    # schema unchanged: quality stays an input, not an output column
    assert set(out[0].asDict()) == {"vec_id", "cluster", "centroid_cos", "keep"}

    # NULL quality ranks BELOW any real score: the scored member of a
    # scored/unscored near-dup pair always survives
    rng2 = np.random.RandomState(19)
    base2 = rng2.randn(DIM)
    rows2 = [
        (0, [float(x) for x in base2], None),
        (1, [float(x) for x in base2 + rng2.randn(DIM) * 0.005], 0.001),
    ] + [(10 + j, [float(x) for x in rng2.randn(DIM)], 5.0) for j in range(30)]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>, q double")
    got = {
        r.vec_id: r.keep
        for r in semdedup(
            emb2, dim=DIM, n_lists=4, threshold=0.95, quality_col="q"
        ).collect()
    }
    assert got[1] and not got[0]


def test_lsh_gives_malformed_vectors_no_bucket_and_no_candidates(emb, spark):
    """A NULL vector or one whose length is not ``dim`` gets a NULL
    bucket, so it never joins as an ANN candidate on either side."""
    from localmod_spark.operators.similarity import ann_join_topk, lsh_embedding_dups

    bad = [(5000, None), (5001, [1.0] * (DIM - 1)), (5002, [1.0] * (DIM - 1))]
    bad_ids = {i for i, _ in bad}
    corpus = spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in emb.where("vec_id < 40").collect()] + bad,
        "vec_id long, embedding array<float>",
    )
    buckets = {
        r.vec_id: r.lsh_bucket
        for r in with_lsh_bucket(corpus, dim=DIM, n_planes=2).collect()
    }
    assert all(buckets[i] is None for i in bad_ids)
    assert all(b is not None for i, b in buckets.items() if i not in bad_ids)
    # two planes: valid vectors in buckets 0-2 probe bucket 0, where
    # malformed vectors used to land
    pairs = ann_join_topk(corpus, corpus, dim=DIM, k=50, n_planes=2).collect()
    assert pairs
    assert not {(r.query_id, r.vec_id) for r in pairs if {r.query_id, r.vec_id} & bad_ids}
    dups = lsh_embedding_dups(corpus, dim=DIM, threshold=-1.0, n_planes=2).collect()
    assert not [r for r in dups if {r.id_a, r.id_b} & bad_ids]
