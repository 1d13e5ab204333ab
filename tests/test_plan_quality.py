"""Physical-plan assertions: the plans we'd want at 100 TB, not just the
first ones that pass.

Checks Catalyst actually delivers: column pruning into the parquet scan,
predicate pushdown, partition pruning on the wave layout, broadcast for
star-join dims, and shuffle counts (score stage narrow; context = one
exchange)."""

import pytest
from pyspark.sql import functions as F

from localmod_spark.operators.context import add_context
from localmod_spark.operators.score import score_turns
from localmod_spark.operators.textstats import doc_text_features
from localmod_spark.plans.pipeline import with_wave
from localmod_spark.sources.transcripts import synth_transcripts

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_column_pruning_reaches_scan(spark, docs):
    """A 2-column projection must not read all 5 document columns."""
    plan = formatted(doc_text_features(docs).select("doc_id", "caps_ratio"))
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "text" in scan[0] and "doc_id" in scan[0]
    assert "source" not in scan[0] and "n_chars" not in scan[0]


def test_predicate_pushdown_reaches_scan(spark, docs):
    plan = formatted(docs.where(F.col("n_chars") > 300).select("doc_id"))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "GreaterThan(n_chars,300)" in pushed[0], plan


def test_partition_pruning_on_wave_layout(spark, tmp_path_factory):
    """The resume story at scale: a per-wave filter must prune partitions,
    not rescan the table."""
    d = str(tmp_path_factory.mktemp("waved"))
    with_wave(synth_transcripts(spark, 2000, slices=4), 4).write.mode("overwrite").partitionBy(
        "wave"
    ).parquet(d)
    df = spark.read.parquet(d).where(F.col("wave") == 2)
    plan = formatted(df.select("conv_id"))
    assert "PartitionFilters" in plan
    line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "wave" in line, plan
    assert df.count() > 0


def test_star_join_broadcasts_dims(spark):
    import __spark_entry__ as em

    plan = plan_of(em.queries()["revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all three dims broadcast


def test_score_stage_is_narrow(spark):
    """The fused scoring stage must not shuffle — it's the 100 TB hot path."""
    scored = score_turns(synth_transcripts(spark, 500, slices=2))
    plan = plan_of(scored)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_context_is_single_exchange(spark):
    """W1+W2+W3 fused: exactly one shuffle (the conv_id exchange) on top
    of the narrow scoring stage."""
    ctx = add_context(score_turns(synth_transcripts(spark, 500, slices=2)))
    plan = plan_of(ctx)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 exchange, plan:\n{plan}"


def test_sql_ops_stay_jvm_side(spark, docs):
    """Pure-SQL text stats must never fall back to Python evaluation.
    (The higher-order stopword filter sits outside whole-stage codegen —
    expected for lambda expressions — but the scan+rest are codegen'd,
    shown as '*(n)' nodes.)"""
    plan = plan_of(doc_text_features(docs))
    assert "*(1)" in plan  # codegen'd scan stage
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_lsh_embedding_dups_is_equi_join(spark):
    """The scale-path near-dup join must hash-partition on the bucket —
    never a cartesian/broadcast-nested-loop over all pairs."""
    from localmod_spark.operators.similarity import lsh_embedding_dups

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(lsh_embedding_dups(emb, dim=64, threshold=0.3, n_tables=2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # bucket equality is each table's join key (hash or sort-merge both
    # fine; what matters is it's keyed, id_a < id_b as a residual filter);
    # the bucket column is aliased to _b in the candidate joins
    assert "HashJoin [_b#" in plan or "Join [_b#" in plan, plan


def test_minhash_bucket_cap_prunes_before_join(spark):
    """With the cap on, the candidate join's input is semi-joined against
    the narrow-bucket set — the pair blowup never materializes."""
    from localmod_spark.operators.dedup import minhash_candidates, with_minhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = with_minhash(docs, num_hashes=16)
    plan = plan_of(minhash_candidates(sigs, bands=4, rows_per_band=4, max_bucket=100))
    assert "LeftSemi" in plan, plan


def test_minhash_sketch_udf_evaluates_once(spark):
    """The round-2 scale flaw: the capped candidate plan evaluated the
    shingle+minhash UDF 4× (width-count branch, semi-join probe, both
    self-join sides).  With the exploded band table persisted, every
    consumer reads the cache — the physical plan must contain exactly one
    live ArrowEvalPython (inside the InMemoryRelation definition) and the
    join inputs must be InMemoryTableScans."""
    from localmod_spark.operators.dedup import minhash_candidates, with_minhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = with_minhash(docs, num_hashes=16)
    cands = minhash_candidates(sigs, bands=4, rows_per_band=4, max_bucket=100)
    try:
        plan = plan_of(cands)
        assert "InMemoryTableScan" in plan, plan
        # Every printed ArrowEvalPython must belong to a cached relation's
        # definition (the plan printer repeats the InMemoryRelation subtree
        # under each scan).  Each cached relation contains exactly one
        # sketch UDF, so any LIVE (uncached) UDF evaluation would make the
        # ArrowEvalPython count exceed the InMemoryRelation count.
        assert plan.count("ArrowEvalPython") == plan.count("InMemoryRelation"), plan
    finally:
        spark.catalog.clearCache()


def test_interval_join_is_keyed_not_nested_loop(spark):
    """The binned range join must plan as a keyed join (hash/sort-merge on
    (key, bin)) — a naive inequality join would be BroadcastNestedLoopJoin,
    which is quadratic at scale."""
    import datetime as dt

    from localmod_spark.operators.asof import interval_join

    ev = spark.createDataFrame(
        [("u", dt.datetime(2024, 1, 1, 0, 5), 1)], "k string, ts timestamp, eid long"
    )
    iv = spark.createDataFrame(
        [("u", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))],
        "k string, start timestamp, end timestamp",
    )
    plan = plan_of(interval_join(ev, iv, ["k"]))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "_bin" in plan  # the bin really is a join key


def test_decontaminate_broadcasts_eval_side(spark, docs):
    """The corpus side of decontamination must not shuffle: eval grams are
    broadcast into a LeftSemi probe."""
    from localmod_spark.operators.dedup import contaminated_docs
    from pyspark.sql import functions as F

    evalset = docs.where(F.col("doc_id") % 50 == 0)
    plan = plan_of(contaminated_docs(docs, evalset, n=5))
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_doc_frequency_is_one_rank_window_on_the_key(spark, docs):
    """repeated_spans (both units) and dedup_paragraphs count a key's
    documents with a rank window: no per-key id set (collect_set), and
    exactly one hash exchange on the key, feeding the window's sort."""
    import re

    from localmod_spark.operators.dedup import dedup_paragraphs, repeated_spans

    cases = (
        (repeated_spans(docs, n=5), "gram"),
        (repeated_spans(docs, n=30, unit="char"), "gram"),
        (dedup_paragraphs(docs, sep=" "), "_k"),
    )
    for df, key in cases:
        plan = plan_of(df)
        assert "collect_set" not in plan, plan
        assert len(re.findall(rf"Exchange hashpartitioning\({key}#", plan)) == 1, plan
        window_on_exchange = (
            rf"Window \[dense_rank\(.*\n\s*\+- Sort \[{key}#\d+ ASC NULLS FIRST, [^\n]*\n"
            rf"\s*\+- Exchange hashpartitioning\({key}#"
        )
        assert re.search(window_on_exchange, plan), plan


def test_simhash_bucket_cap_prunes_before_join(spark):
    """SimHash banding with the cap on: same LeftSemi prune as MinHash,
    and the sketch UDF feeds a persisted relation."""
    from localmod_spark.operators.dedup import simhash_candidates, with_simhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = with_simhash(docs, bits=64)
    try:
        plan = plan_of(simhash_candidates(sigs, max_bucket=100))
        assert "LeftSemi" in plan, plan
        assert "InMemoryTableScan" in plan, plan
        assert plan.count("ArrowEvalPython") == plan.count("InMemoryRelation"), plan
    finally:
        spark.catalog.clearCache()


def test_ann_join_topk_is_bucket_equi_join(spark):
    """The batched ANN join must plan as a keyed equi-join on the bucket
    (shuffle/broadcast HASH join) — never a cartesian or nested-loop over
    corpus × queries, and no per-query driver collect exists by
    construction (one plan, one window)."""
    from localmod_spark.operators.similarity import ann_join_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    plan = plan_of(ann_join_topk(q, emb, dim=64, k=5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "_probe" in plan  # the probe bucket really is the join key
    assert "Window" in plan  # per-query top-k is a window, not a loop


def test_lsh_topk_probe_filter_pushes_to_scan(spark, tmp_path_factory):
    """The round-3 scale flaw: lsh_topk's probe predicate compared against
    the broadcast query row, so the full corpus was scanned and filtered
    after the join.  Now the probe set is resolved driver-side into
    literals: on a table with a MATERIALIZED lsh_bucket column the filter
    reaches the parquet scan as In(lsh_bucket, ...)."""
    from localmod_spark.operators.similarity import lsh_topk, with_lsh_bucket

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    d = str(tmp_path_factory.mktemp("bucketed_emb"))
    with_lsh_bucket(emb, dim=64, n_planes=8).write.mode("overwrite").parquet(d)
    staged = spark.read.parquet(d)
    plan = formatted(lsh_topk(staged, query_vec_id=0, k=10, hamming=1, n_planes=8))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "In(lsh_bucket" in l]
    assert pushed, plan


def test_lsh_topk_has_no_join_at_all(spark):
    """The query's bucket AND vector resolve driver-side (one first());
    the vector is inlined as a literal array, so the probe plan is a
    single filtered scan + TakeOrdered — no join, no broadcast, and the
    literal bucket filter sits directly on the corpus."""
    from localmod_spark.operators.similarity import lsh_topk, with_lsh_bucket

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bucketed = with_lsh_bucket(emb, dim=64, n_planes=8)
    plan = plan_of(lsh_topk(bucketed, query_vec_id=0, k=10, hamming=1, n_planes=8))
    assert "Join" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert " IN (" in plan or "INSET" in plan.upper(), plan  # the literal probe filter
    assert "TakeOrdered" in plan, plan


def test_ivf_join_topk_is_list_equi_join(spark):
    from localmod_spark.operators.similarity import ivf_join_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    plan = plan_of(ivf_join_topk(q, emb, dim=64, k=5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "_plist" in plan and "Window" in plan


def test_incremental_dedup_is_band_equi_join_plus_anti(spark, docs):
    """Cross-set dedup: candidates from a (band_ix, band_hash) keyed
    equi-join (never a cartesian over new×corpus), survivors via a
    LeftAnti join — and the corpus side is a band TABLE (reusable staged
    artifact), not a re-sketch."""
    from localmod_spark.operators.dedup import (
        cross_dedup_survivors,
        explode_minhash_bands,
        with_minhash,
    )

    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    corpus_bands = explode_minhash_bands(
        with_minhash(corpus, num_hashes=16, shingle_k=3, shingle_mode="word"),
        bands=4, rows_per_band=4,
    )
    plan = plan_of(cross_dedup_survivors(new, corpus, corpus_bands, bands=4, rows_per_band=4, num_hashes=16))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert "band_hash" in plan  # the band key really is the join key


def test_partition_pruning_on_day_layout(spark, tmp_path):
    """partition_by_day=True writes the consumer-shaped layout
    (wave=N/day=D — the Iceberg days(ts) transform's filesystem analog):
    a date-ranged read-back must PRUNE day directories, and resume
    semantics stay unchanged (a rerun skips every wave)."""
    from localmod_spark.plans.pipeline import read_output, run_pipeline

    out = str(tmp_path / "piped")
    turns = synth_transcripts(spark, 1200, slices=4)
    res = run_pipeline(
        spark, turns, out, n_waves=2, partition_by_day=True, context=False
    )
    assert sorted(res.waves_run) == [0, 1]
    df = read_output(spark, out)
    days = sorted(r.day for r in df.select("day").distinct().collect())
    assert len(days) >= 2  # non-vacuous pruning target
    one = df.where(F.col("day") == days[0])
    plan = formatted(one.select("conv_id"))
    line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "day" in line, plan
    n_one, n_all = one.count(), df.count()
    assert 0 < n_one < n_all
    again = run_pipeline(
        spark, turns, out, n_waves=2, partition_by_day=True, context=False
    )
    assert again.waves_run == [] and sorted(again.waves_skipped) == [0, 1]


def test_layout_flip_invalidates_resume(spark, tmp_path):
    """The output layout is part of the wave resume key: flipping
    partition_by_day over an existing out_dir reruns every wave (the
    overwrite restores a uniform layout) instead of skipping them and
    leaving a flat/day mix a reader cannot partition-discover."""
    from localmod_spark.plans.pipeline import read_output, run_pipeline

    out = str(tmp_path / "piped")
    turns = synth_transcripts(spark, 800, slices=4)
    run_pipeline(spark, turns, out, n_waves=2, context=False)  # flat layout
    res = run_pipeline(
        spark, turns, out, n_waves=2, context=False, partition_by_day=True
    )
    assert sorted(res.waves_run) == [0, 1]
    df = read_output(spark, out)
    assert "day" in df.columns  # uniform day layout after the rerun
    again = run_pipeline(
        spark, turns, out, n_waves=2, context=False, partition_by_day=True
    )
    assert again.waves_run == [] and sorted(again.waves_skipped) == [0, 1]


def test_semdedup_pair_join_is_cluster_equi_join(spark):
    """SemDeDup's within-cluster pruning must key every join (cluster
    equality for the pairs, id equality for vectors/losers) — never a
    cartesian over the corpus, which is the exact failure mode the
    clustering exists to avoid."""
    from localmod_spark.operators.similarity import semdedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(semdedup(emb, dim=64, threshold=0.3))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_chunk_fixed_explodes_per_spanned_chunk_not_per_token(spark):
    """The chunk assembly's explode is bounded by docs × spanned chunks
    (≈ n_tokens/seq_len + 2 per doc), never one row per token: the
    exploded relation carries array SLICES, and the per-group stream
    offset is ONE window exchange."""
    from localmod_spark.operators.packing import chunk_fixed

    rows = [("g", i, [f"t{i}_{j}" for j in range(100)]) for i in range(20)]
    df = spark.createDataFrame(rows, "grp string, doc_id long, tokens array<string>")
    out = chunk_fixed(df, seq_len=64)
    plan = plan_of(out)
    assert plan.count("Generate explode") == 1, plan
    # 20 docs × 101 tokens ≈ 2020 stream positions / 64 ≈ 32 chunks;
    # the exploded row count stays within docs + chunks, not tokens
    n_chunks = out.count()
    from pyspark.sql import functions as F

    n_seg_rows = (
        chunk_fixed(df, seq_len=64)
        .select(F.sum("n_tokens").alias("s"))
        .first()["s"]
    )
    assert n_seg_rows == 20 * 101  # every token lands in exactly one chunk
    assert n_chunks <= 20 + (20 * 101) // 64 + 1
