"""Dedup operators: exact, MinHash-LSH (incl. giant-bucket cap and
modular-arithmetic honesty), SimHash, n-gram Jaccard verification."""

from collections import Counter, defaultdict
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from localmod_spark.operators.dedup import (
    _hash_params,
    _shingle_hashes,
    _splitmix64,
    _word_shingle_hashes,
    exact_dup_groups,
    minhash_candidates,
    ngram_jaccard,
    with_minhash,
    with_simhash,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "completely different content about quarterly financial reports and audits"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").persist()


def test_exact_dup_groups_counts(docs):
    got = {r.rep_id: r.n_dups for r in exact_dup_groups(docs).collect()}
    assert got[0] == 2 and got[1] == 1 and got[2] == 1 and got[4] == 1


def test_exact_dedup_groups_on_text_not_hash_alone(spark):
    """The group key includes the text itself, so two distinct texts can
    never merge — even if a 64-bit hash collision were planted.  (We can't
    forge an xxhash64 collision here; instead assert the contract the key
    choice guarantees: every distinct text survives.)"""
    rows = [(i, f"unique text number {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert exact_dup_groups(df).count() == 200


def test_minhash_mixing_arithmetic_is_exact():
    """Signature minima must equal the pure-Python (big-int, explicitly
    masked) splitmix64 — guards against silent numpy overflow semantics
    drifting from the intended mod-2^64 arithmetic."""
    mask64 = (1 << 64) - 1

    def mix(z: int) -> int:
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask64
        return (z ^ (z >> 31)) & ((1 << 63) - 1)

    seeds = _hash_params(num_hashes=16)
    text = "the quick brown fox jumps over the lazy dog"
    sh = _shingle_hashes(text, 5)
    expected = [
        min(mix((int(x) + int(s)) & mask64) for x in sh) for s in seeds
    ]
    vals = _splitmix64(sh.astype(np.uint64)[None, :] + seeds[:, None])  # the UDF's inner math
    assert vals.min(axis=1).astype(np.int64).tolist() == expected


def test_minhash_signature_agreement_estimates_jaccard():
    """Min-wise quality: P(sig slot agrees) ≈ shingle Jaccard.  The broken
    non-wrapping linear family scored 0.23 agreement on a 0.97-Jaccard
    pair; require the estimator to sit near the true value."""
    a = "order filter query key vector query scan slow big join customer " \
        "filter group order sort stream batch filter part stream"
    b = a + " extra"  # one appended token
    sh_a = _word_shingle_hashes(a, 3).astype(np.uint64)
    sh_b = _word_shingle_hashes(b, 3).astype(np.uint64)
    jac = len(np.intersect1d(sh_a, sh_b)) / len(np.union1d(sh_a, sh_b))
    seeds = _hash_params(num_hashes=256)
    sig_a = _splitmix64(sh_a[None, :] + seeds[:, None]).min(axis=1)
    sig_b = _splitmix64(sh_b[None, :] + seeds[:, None]).min(axis=1)
    agreement = (sig_a == sig_b).mean()
    assert abs(agreement - jac) < 0.12, (agreement, jac)


def test_minhash_lsh_finds_near_dup_pair(docs):
    sigs = with_minhash(docs, num_hashes=64, shingle_k=5)
    cands = minhash_candidates(sigs, bands=16, rows_per_band=4)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (0, 1) in pairs or (0, 3) in pairs  # near/exact dups collide
    verified = ngram_jaccard(docs, cands, n=3)
    jac = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    if (0, 3) in jac:
        assert jac[(0, 3)] == 1.0  # exact dup
    if (0, 1) in jac:
        assert jac[(0, 1)] > 0.5


def test_giant_bucket_cap_bounds_candidates(spark):
    """One boilerplate text repeated 300× would emit ~45k pairs from a
    single bucket; with max_bucket=50 the bucket is dropped and the
    planted distinct near-dup pair elsewhere still comes through."""
    boiler = [(i, "standard disclaimer text repeated everywhere verbatim") for i in range(300)]
    distinct = [
        (1000, "a genuinely unique document about alpine meadow ecology studies"),
        (1001, "a genuinely unique document about alpine meadow ecology study"),
    ]
    df = spark.createDataFrame(boiler + distinct, "doc_id long, text string")
    sigs = with_minhash(df, num_hashes=64, shingle_k=5)

    capped = minhash_candidates(sigs, bands=16, rows_per_band=4, max_bucket=50)
    n_capped = capped.count()
    # all 300-wide buckets dropped: only the planted pair's buckets remain
    assert n_capped <= 10
    assert {(r.id_a, r.id_b) for r in capped.collect()} >= {(1000, 1001)}

    uncapped = minhash_candidates(sigs, bands=16, rows_per_band=4, max_bucket=None)
    assert uncapped.count() >= 300 * 299 // 2  # the quadratic blowup the cap prevents


def test_simhash_near_dups_have_small_hamming(docs, spark):
    sh = {r.doc_id: r.simhash for r in with_simhash(docs).collect()}
    assert sh[0] == sh[3]  # identical text → identical signature

    def hamming(a, b):
        return bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1")

    assert hamming(sh[0], sh[1]) <= 12   # near-dup: few bits differ
    assert hamming(sh[0], sh[2]) >= 16   # unrelated: many bits differ


def test_ngram_jaccard_exact_value(spark):
    a = "w1 w2 w3 w4"  # 3-grams: {w1 w2 w3, w2 w3 w4}
    b = "w1 w2 w3 w5"  # 3-grams: {w1 w2 w3, w2 w3 w5}
    docs = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    got = ngram_jaccard(docs, pairs, n=3).collect()[0]
    assert got.jaccard == pytest.approx(1 / 3)


def test_dup_clusters_transitive_closure(spark):
    from localmod_spark.operators.dedup import dup_clusters

    docs2 = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(7)], "doc_id long, text string"
    )
    # chain 1-2-3 (transitive), pair 5-6, singletons 0 and 4
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster for r in dup_clusters(docs2, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_dup_clusters_long_chain_converges(spark):
    """A 12-node path graph needs multiple propagation rounds — the
    convergence loop must reach the fixpoint, not stop early."""
    from localmod_spark.operators.dedup import dup_clusters

    n = 12
    docs2 = spark.createDataFrame([(i, f"d{i}") for i in range(n)], "doc_id long, text string")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {r.doc_id: r.cluster for r in dup_clusters(docs2, pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_dup_clusters_auto_falls_back_to_star_on_deep_chain(spark):
    """A chain deeper than the propagation round budget must still
    cluster correctly: auto mode switches to large/small-star (O(log n)
    rounds) instead of raising."""
    from localmod_spark.operators.dedup import dup_clusters

    n = 20
    docs2 = spark.createDataFrame([(i, f"d{i}") for i in range(n)], "doc_id long, text string")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {r.doc_id: r.cluster for r in dup_clusters(docs2, pairs, max_iter=3).collect()}
    assert got == {i: 0 for i in range(n)}


def test_star_components_matches_union_find_on_random_graphs(spark):
    """large/small-star must produce exactly the min-id component map —
    differential vs pure-Python union-find, including singletons.  A
    round budget of zero sends dup_clusters straight to its star
    fallback."""
    import random

    from localmod_spark.operators.dedup import dup_clusters

    def union_find_components(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in range(n)}

    for seed in (3, 11):
        rng = random.Random(seed)
        n = 50
        edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(30)})
        docs2 = spark.createDataFrame([(i, f"d{i}") for i in range(n)], "doc_id long, text string")
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.doc_id: r.cluster
            for r in dup_clusters(docs2, pairs, max_iter=0).collect()
        }
        assert got == union_find_components(n, edges), f"seed {seed}"


def test_dup_clusters_matches_union_find_on_random_graphs(spark):
    """Differential check vs a pure-Python union-find on seeded random
    graphs (the Spark result must be exactly the min-id component map)."""
    import random

    def union_find_components(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in range(n)}

    from localmod_spark.operators.dedup import dup_clusters

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        n = 60
        edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(40)})
        docs2 = spark.createDataFrame([(i, f"d{i}") for i in range(n)], "doc_id long, text string")
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.doc_id: r.cluster for r in dup_clusters(docs2, pairs).collect()}
        assert got == union_find_components(n, edges), f"seed {seed}"


def test_simhash_candidates_pigeonhole_exact_recall(spark):
    """4 bands guarantee 100% recall for hamming <= 3: the banded result
    must EQUAL brute-force all-pairs hamming (not just approximate it)."""
    from localmod_spark.operators.dedup import simhash_candidates, with_simhash

    rows = [(i, f"token{i} alpha beta gamma delta epsilon zeta eta theta") for i in range(80)]
    rows += [(100 + i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = with_simhash(df, bits=64, token_hash="md5").persist()

    got = {(r.id_a, r.id_b): r.hamming for r in simhash_candidates(sigs).collect()}
    sh = {r.doc_id: r.simhash for r in sigs.collect()}
    ids = sorted(sh)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want and want  # equal AND non-vacuous (identical docs planted)
    sigs.unpersist()


def test_simhash_candidates_rejects_unsound_params(spark):
    from localmod_spark.operators.dedup import simhash_candidates

    df = spark.createDataFrame([(0, 0)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_candidates(df, n_bands=4, max_hamming=4)


def test_contaminated_docs_flags_ngram_overlap(spark):
    """Decontamination: exact shared-distinct-n-gram counts vs a planted
    benchmark; docs shorter than n grams never match; clean docs absent."""
    from localmod_spark.operators.dedup import contaminated_docs

    bench_text = "the capital of france is paris and the capital of italy is rome"
    docs = spark.createDataFrame(
        [
            (0, "quiz answer the capital of france is paris obviously"),  # overlap
            (1, "a completely clean training document about gardening"),  # clean
            (2, bench_text),  # verbatim benchmark copy
            (3, "capital of france is"),  # 4 tokens < n=5 → no grams
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame([(bench_text,)], "text string")
    got = {r.doc_id: r.n_shared_grams for r in contaminated_docs(docs, evalset, n=5).collect()}
    bench_toks = bench_text.split()
    n_bench_grams = len({" ".join(bench_toks[i : i + 5]) for i in range(len(bench_toks) - 4)})
    assert got == {0: 2, 2: n_bench_grams}
    # doc 0 shares 'the capital of france is' and 'capital of france is paris'


def test_simhash_bucket_cap_bounds_degenerate_signatures(spark):
    """The docstring's own hazard: 300 boilerplate docs share one
    signature → one bucket per band → ~45k pairs.  With max_bucket=50
    the degenerate buckets are dropped and the planted near-dup pair
    from a narrow bucket still comes through."""
    from localmod_spark.operators.dedup import simhash_candidates, with_simhash

    boiler = [(i, "standard disclaimer text repeated everywhere verbatim") for i in range(300)]
    planted = [
        (1000, "alpine meadow ecology studies span decades of careful fieldwork"),
        (1001, "alpine meadow ecology studies span decades of careful fieldwork"),
    ]
    df = spark.createDataFrame(boiler + planted, "doc_id long, text string")
    sigs = with_simhash(df, bits=64, token_hash="md5")

    capped = simhash_candidates(sigs, max_bucket=50)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert len(got) <= 10  # quadratic blowup suppressed
    assert (1000, 1001) in got  # planted pair survives the cap

    uncapped = simhash_candidates(sigs, max_bucket=None)
    assert uncapped.count() >= 300 * 299 // 2  # what the cap prevents


def test_select_representatives_picks_best_quality(spark):
    """Per cluster: highest score wins, ties fall to min id."""
    from localmod_spark.operators.dedup import select_representatives

    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5)],
        "doc_id long, cluster long",
    )
    scores = spark.createDataFrame(
        [(0, 0.2), (1, 0.9), (2, 0.9), (3, 0.5), (4, 0.1), (5, 0.7)],
        "doc_id long, quality_score double",
    )
    got = {r.cluster: (r.doc_id, r.quality_score)
           for r in select_representatives(clusters, scores).collect()}
    assert got == {0: (1, 0.9), 3: (3, 0.5), 5: (5, 0.7)}  # tie 1v2 -> min id


def test_bucket_cap_observation_counts_drops(spark):
    """The giant-bucket cap's recall trade is observable: plant one
    pathological bucket (30 identical texts) and read the drop counters
    off the candidate action itself."""
    from pyspark.sql import Observation

    rows = [(i, "the same boilerplate sentence repeated everywhere verbatim") for i in range(30)]
    rows += [(100 + i, f"unique document number {i} with its own words") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = with_minhash(df, num_hashes=16)
    obs = Observation("cap_test")
    cands = minhash_candidates(sigs, bands=4, rows_per_band=4, max_bucket=10, observation=obs)
    try:
        n_pairs = cands.count()
        m = obs.get
        assert m["dropped_buckets"] >= 4  # the giant text fills all 4 bands
        assert m["max_bucket_width"] >= 30
        assert m["dropped_pairs"] >= 4 * (30 * 29 // 2)
        # and the cap really kept the quadratic pairs out
        assert n_pairs < 30 * 29 // 2
    finally:
        spark.catalog.clearCache()


def test_simhash_cap_observation(spark):
    from pyspark.sql import Observation

    from localmod_spark.operators.dedup import simhash_candidates

    rows = [(i, "identical text for every row here") for i in range(20)]
    # two near-identical docs that survive the cap (bucket width 2) — a
    # fully-empty result would let AQE's empty-relation propagation elide
    # the CollectMetrics node and lose the observation
    rows += [(100, "a second distinct pair of documents kept"),
             (101, "a second distinct pair of documents kept")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = with_simhash(df, bits=64)
    obs = Observation("simhash_cap")
    cands = simhash_candidates(sigs, max_bucket=5, observation=obs)
    try:
        got = cands.collect()
        assert {(r.id_a, r.id_b) for r in got} == {(100, 101)}  # giant bucket capped away
        m = obs.get
        assert m["dropped_buckets"] >= 4 and m["max_bucket_width"] == 20
    finally:
        spark.catalog.clearCache()


def test_release_stage_caches_unpersists(spark, docs):
    from localmod_spark.operators.dedup import release_stage_caches

    release_stage_caches()  # drain anything earlier tests left behind
    cands = minhash_candidates(with_minhash(docs, num_hashes=16), bands=4, rows_per_band=4)
    cands.count()
    assert release_stage_caches() >= 1
    assert release_stage_caches() == 0  # registry drained


# ---- hot key: one shared key in most docs, NULL ids, blank paragraphs ----

_HOT = "standard legal disclaimer text block"  # 36 chars, one word 5-gram


def _hot_key_rows(n_docs: int = 2000) -> list:
    """60% of the docs carry the same boilerplate paragraph, every fourth
    doc a blank one, and every 50th doc a NULL id (no document).  Docs
    2k and 2k+1 share their first paragraph, so the partner of a NULL id
    shares it with no other document."""
    rows = []
    for i in range(n_docs):
        paras = [f"body of doc {i - i % 2} here"]
        if i % 5 < 3:
            paras.append(_HOT)
        if i % 4 == 0:
            paras.append("   ")
        rows.append((None if i % 50 == 0 else i, "\n".join(paras)))
    return rows


@contextmanager
def _window_buffer_spills(spark):
    """Window row buffers leave memory after 16 rows and spill to disk
    every 64, so a hot key's window group goes through the spill path."""
    confs = {
        "spark.sql.windowExec.buffer.in.memory.threshold": "16",
        "spark.sql.windowExec.buffer.spill.threshold": "64",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k in confs:
            spark.conf.unset(k)


def _ref_repeated_spans(rows, n: int, unit: str, min_docs: int = 2) -> Counter:
    """Python oracle for repeated_spans: (id, pos, gram, n_docs) per
    flagged span, with NULL ids counted as no document."""
    spans = []
    for d, t in rows:
        toks = t.lower().split() if unit == "word" else t
        for i in range(len(toks) - n + 1):
            gram = " ".join(toks[i : i + n]) if unit == "word" else t[i : i + n]
            spans.append((d, i, gram))
    docs_of = defaultdict(set)
    for d, _, gram in spans:
        docs_of[gram].add(d)
    n_docs = {gram: len(ids - {None}) for gram, ids in docs_of.items()}
    return Counter(
        (d, i, gram, n_docs[gram]) for d, i, gram in spans if n_docs[gram] >= min_docs
    )


def test_repeated_spans_flags_shared_boilerplate(spark):
    """Two docs share an exact 5-gram footer; a third is clean.  The span
    table must flag the footer at its position in BOTH docs and nothing
    in the clean doc.  A footer in 60% of 2,000 docs, with NULL ids mixed
    in, gives the Python oracle's rows while its window group spills."""
    from localmod_spark.operators.dedup import repeated_spans

    footer = "generated by the acme pipeline"
    rows = [
        (0, "first document body text here " + footer),
        (1, "a different second document " + footer),
        (2, "totally unrelated clean content with no shared phrasing at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = repeated_spans(df, n=5, min_docs=2).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc
    assert {r.gram for r in by_doc[0]} == {footer}
    assert {r.gram for r in by_doc[1]} == {footer}
    assert all(r.n_docs == 2 for r in got)
    # position = 0-based token offset of the span start
    assert by_doc[0][0].pos == 5 and by_doc[1][0].pos == 4

    hot_rows = _hot_key_rows()
    hot = spark.createDataFrame(hot_rows, "doc_id long, text string").repartition(4)
    with _window_buffer_spills(spark):
        for unit, n in (("word", 5), ("char", 30)):
            got = Counter(tuple(r) for r in repeated_spans(hot, n=n, unit=unit).collect())
            want = _ref_repeated_spans(hot_rows, n, unit)
            assert got == want, unit
    assert max(n_docs for *_, n_docs in want) == 1160  # 1,200 carriers, 40 NULL ids


def test_repeated_spans_equals_duckdb_oracle(spark):
    """repeated_spans equals its DuckDB oracle in ``__spark_entry__`` on
    real data for both units: the same (unit, id, pos, gram, n_docs) rows."""
    import duckdb

    import __spark_entry__ as em
    from localmod_spark.operators.dedup import repeated_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = Counter()
    for unit, n in (("word", 5), ("char", 30)):
        got.update(
            (unit, *r) for r in repeated_spans(docs, n=n, min_docs=2, unit=unit).collect()
        )
    con = duckdb.connect()
    con.register("documents", docs.toArrow())
    want = Counter(con.execute(em.oracle_sql()["repeated_spans"]).fetchall())
    assert got == want
    assert {u for u, *_ in got} == {"word", "char"}


def test_span_scrub_cuts_boilerplate_and_converges(spark):
    """remove_repeated_spans excises the shared footer from every doc
    that carries it: the scrubbed corpus has NO repeated span left
    (running the flagger on the cut text converges to empty), clean docs
    pass through with whitespace-normalized text, and exact duplicates
    collapse to identical (empty) scrubbed text."""
    from localmod_spark.operators.dedup import remove_repeated_spans, repeated_spans

    footer = "generated by the acme pipeline"
    dup = "this exact document appears twice in the corpus verbatim"
    rows = [
        (0, "first document body text here " + footer),
        (1, "a  different second   document " + footer),  # multi-space: normalize
        (2, "totally unrelated clean content with no shared phrasing at all"),
        (3, dup),
        (4, dup),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_repeated_spans(df, n=5, min_docs=2).collect()}
    assert out[0].scrubbed_text == "first document body text here"
    assert out[1].scrubbed_text == "a different second document"
    assert out[2].scrubbed_text == rows[2][1] and out[2].n_flagged_spans == 0
    # full-duplicate docs: every span flagged -> whole text cut, equal output
    assert out[3].scrubbed_text == out[4].scrubbed_text == ""
    assert out[3].n_flagged_spans == len(dup.split()) - 4
    # convergence: the scrubbed corpus carries no repeated span anymore
    scrubbed = spark.createDataFrame(
        [(k, v.scrubbed_text) for k, v in out.items()], "doc_id long, text string"
    )
    assert repeated_spans(scrubbed, n=5, min_docs=2).count() == 0


def test_span_scrub_merges_overlapping_spans(spark):
    """Overlapping flagged spans (a 7-token repeated run yields three
    overlapping 5-gram spans) merge via coverage: the whole run is cut
    exactly once, neighbours survive."""
    from localmod_spark.operators.dedup import remove_repeated_spans

    run = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens -> spans at 0,1,2
    rows = [
        (0, "keep1 " + run + " keep2"),
        (1, run),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_repeated_spans(df, n=5, min_docs=2).collect()}
    assert out[0].scrubbed_text == "keep1 keep2"
    assert out[1].scrubbed_text == ""
    assert out[0].n_flagged_spans == 3  # three overlapping span starts


# ---- char-shingle span mode (unit="char") ----


def _ref_char_scrub(texts: dict, n: int, min_docs: int = 2) -> dict:
    """Python reference for the char-mode flag+cut (raw text, coverage
    splice) — the same semantics the DuckDB oracle replays."""
    docs_of: dict = {}
    for d, t in texts.items():
        for i in range(len(t) - n + 1):
            docs_of.setdefault(t[i : i + n], set()).add(d)
    out = {}
    for d, t in texts.items():
        ps = {
            i
            for i in range(len(t) - n + 1)
            if len(docs_of[t[i : i + n]]) >= min_docs
        }
        kept = [c for i, c in enumerate(t) if not any(p <= i < p + n for p in ps)]
        out[d] = ("".join(kept), len(ps))
    return out


def test_char_mode_catches_cross_word_boundary_boilerplate(spark):
    """The r6 motivation: boilerplate straddling word boundaries.  The
    shared substring 'foo bar' sits INSIDE differing words, so no word
    n-gram repeats at ANY n — word mode provably finds nothing, char
    mode flags it."""
    from localmod_spark.operators.dedup import repeated_spans

    rows = [(0, "xxfoo baryy"), (1, "zzfoo barww")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n_word in (1, 2):
        assert repeated_spans(df, n=n_word, min_docs=2).count() == 0
    got = repeated_spans(df, n=7, min_docs=2, unit="char").collect()
    assert {(r.doc_id, r.pos, r.gram) for r in got} == {
        (0, 2, "foo bar"),
        (1, 2, "foo bar"),
    }
    assert all(r.n_docs == 2 for r in got)


def test_char_scrub_matches_python_reference(spark):
    from localmod_spark.operators.dedup import remove_repeated_spans

    texts = {
        0: "xxfoo baryy tail one",
        1: "zzfoo barww tail two",
        2: "Foo bar is CASE sensitive here",  # no lowercase folding
        3: "totally unrelated content",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    want = _ref_char_scrub(texts, n=7, min_docs=2)
    got = {
        r.doc_id: (r.scrubbed_text, r.n_flagged_spans)
        for r in remove_repeated_spans(df, n=7, min_docs=2, unit="char").collect()
    }
    assert got == want
    # case-sensitivity: 'Foo bar' must NOT match 'foo bar'
    assert got[2][0] == texts[2]


def test_char_scrub_preserves_untouched_bytes(spark):
    """Char mode never re-normalizes whitespace: bytes outside cut spans
    survive verbatim (word mode single-space-joins by design)."""
    from localmod_spark.operators.dedup import remove_repeated_spans

    rows = [(0, "keep  double  space GLUEDBOILERPLATE"),
            (1, "other  doc text too GLUEDBOILERPLATE")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.scrubbed_text
        for r in remove_repeated_spans(df, n=16, min_docs=2, unit="char").collect()
    }
    # the shared 16-grams include the space before the boilerplate, so
    # the cut takes it too; the double spaces survive verbatim
    assert out[0] == "keep  double  space"
    assert out[1] == "other  doc text too"


def test_span_unit_rejects_unknown(spark):
    import pytest as _pt

    from localmod_spark.operators.dedup import remove_repeated_spans, repeated_spans

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with _pt.raises(ValueError):
        repeated_spans(df, unit="byte")
    with _pt.raises(ValueError):
        remove_repeated_spans(df, unit="byte")


# ---------------------------------------------------------------- paragraphs


def test_dedup_paragraphs_cuts_cross_doc_boilerplate(spark):
    """The CCNet/RefinedWeb pass: a paragraph repeated across >= min_docs
    DISTINCT docs is cut everywhere (every instance), normalization is
    trim+lower, unique paragraphs survive in original order and case."""
    from localmod_spark.operators.dedup import dedup_paragraphs

    boiler = "Subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (0, f"Unique intro A\n{boiler}\nUnique body A"),
            (1, f"{boiler}\nUnique body B\n  subscribe to our newsletter  "),
            (2, "Unique doc C only\nNothing shared here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs, sep="\n", min_docs=2).collect()}
    assert out[0].scrubbed_text == "Unique intro A\nUnique body A"
    assert out[0].n_flagged_spans == 1
    # doc 1 holds TWO instances (one case/space-variant) — both cut
    assert out[1].scrubbed_text == "Unique body B"
    assert out[1].n_flagged_spans == 2
    assert out[2].scrubbed_text == "Unique doc C only\nNothing shared here"
    assert out[2].n_flagged_spans == 0


def _ref_dedup_paragraphs(rows, sep: str, min_docs: int = 2) -> dict:
    """Python oracle for dedup_paragraphs on non-NULL texts: id →
    (scrubbed_text, n_flagged_spans), NULL ids grouped under None and
    counted as no document, survivors in (pos, paragraph) order."""
    docs_of = defaultdict(set)
    for d, t in rows:
        for p in t.split(sep):
            docs_of[p.strip(" ").lower()].add(d)
    kept, flagged = defaultdict(list), Counter()
    for d, t in rows:
        flagged[d] += 0
        for pos, p in enumerate(t.split(sep)):
            if p.strip(" ") and len(docs_of[p.strip(" ").lower()] - {None}) >= min_docs:
                flagged[d] += 1
            else:
                kept[d].append((pos, p))
    return {d: (sep.join(p for _, p in sorted(kept[d])), flagged[d]) for d in flagged}


def test_dedup_paragraphs_blank_and_within_doc_repeats_survive(spark):
    """Blank paragraphs are never flagged (no corpus-wide reflow) and
    min_docs counts DISTINCT docs, so a within-doc repeat survives.  A
    paragraph in 60% of 2,000 docs, with blank paragraphs and NULL ids
    mixed in, gives the Python oracle's rows while its window group
    spills."""
    from localmod_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (0, "alpha\n\nalpha\n\nbeta"),   # 'alpha' repeats within doc 0 only
            (1, "gamma\n\ndelta"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs, sep="\n\n", min_docs=2).collect()}
    assert out[0].scrubbed_text == "alpha\n\nalpha\n\nbeta"
    assert out[0].n_flagged_spans == 0
    assert out[1].scrubbed_text == "gamma\n\ndelta"

    hot_rows = _hot_key_rows()
    hot = spark.createDataFrame(hot_rows, "doc_id long, text string").repartition(4)
    with _window_buffer_spills(spark):
        got = {
            r.doc_id: (r.scrubbed_text, r.n_flagged_spans)
            for r in dedup_paragraphs(hot, sep="\n", min_docs=2).collect()
        }
    assert got == _ref_dedup_paragraphs(hot_rows, "\n")
    # every hot instance, and both bodies of the 960 pairs without a NULL id
    assert sum(n for _, n in got.values()) == 1200 + 2 * 960


def test_dedup_paragraphs_regex_safe_separator_and_shape(spark):
    """The separator is quoted before hitting split()'s regex engine
    (a '|' separator must not split on every char), the output shape
    matches remove_repeated_spans, and every input doc comes back."""
    from localmod_spark.operators.dedup import dedup_paragraphs, remove_repeated_spans

    docs = spark.createDataFrame(
        [(0, "shared|unique zero"), (1, "shared|unique one"), (2, "")],
        "doc_id long, text string",
    )
    out = dedup_paragraphs(docs, sep="|", min_docs=2)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 3
    assert rows[0].scrubbed_text == "unique zero"
    assert rows[2].scrubbed_text == ""  # empty doc survives, nothing flagged
    spans = remove_repeated_spans(docs.where("doc_id < 2"), n=1, min_docs=2)
    assert out.columns == spans.columns


def test_dedup_paragraphs_beats_span_scrub_on_prose_adjacency(spark):
    """The reason the operator exists: word-window scrub (n=5) nibbles
    into prose ADJACENT to boilerplate when the window straddles the
    boundary; the paragraph cut removes exactly the boilerplate line."""
    from localmod_spark.operators.dedup import dedup_paragraphs

    boiler = "all rights reserved contact us terms of service"
    docs = spark.createDataFrame(
        [(i, f"original prose number {i}\n{boiler}") for i in range(3)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.scrubbed_text
           for r in dedup_paragraphs(docs, sep="\n", min_docs=2).collect()}
    for i in range(3):
        assert out[i] == f"original prose number {i}"


def test_dedup_paragraphs_keeps_null_text_docs(spark):
    """A NULL text must come back as a row (shape contract with
    remove_repeated_spans), scrubbed to NULL — not vanish, and not
    collapse onto the ''-everything-cut case."""
    from localmod_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(0, "shared"), (1, "shared"), (2, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs, sep="\n", min_docs=2).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0].scrubbed_text == "" and out[0].n_flagged_spans == 1
    assert out[2].scrubbed_text is None and out[2].n_flagged_spans == 0


def test_dedup_paragraphs_separator_with_embedded_quote_end(spark):
    """Pattern.quote parity: a separator containing the literal \\E must
    not leak live regex out of the quoted region."""
    from localmod_spark.operators.dedup import dedup_paragraphs

    sep = "\\E|"
    docs = spark.createDataFrame(
        [(0, f"shared{sep}unique zero"), (1, f"shared{sep}unique one")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs, sep=sep, min_docs=2).collect()}
    assert out[0].scrubbed_text == "unique zero"
    assert out[0].n_flagged_spans == 1
