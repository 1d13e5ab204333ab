"""Structured-streaming ingest: bloom-gated exact dedup over readStream."""

import pytest


def test_ingest_bloom_stream_admits_each_key_once(spark, tmp_path_factory):
    """Cross-batch exact dedup through the bloom gate: three source files
    with overlapping texts, one micro-batch per file — every distinct key
    is admitted exactly once, the artifact's bookkeeping agrees, and the
    filter has zero false negatives over the admitted corpus."""
    from localmod_spark.operators.bloom import bloom_maybe_contains, load_bloom
    from localmod_spark.streaming import ingest_bloom_stream

    root = tmp_path_factory.mktemp("bloom_ingest")
    src, out = str(root / "src"), str(root / "out")
    ckpt, art = str(root / "ckpt"), str(root / "bloom")

    def write_file(name, texts):
        spark.createDataFrame(
            [(f"{name}-{i}", t) for i, t in enumerate(texts)], "msg_id string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")

    write_file("f0", ["alpha", "beta", "gamma"])
    write_file("f1", ["beta", "delta", None])          # beta redelivered; null skipped
    write_file("f2", ["alpha", "delta", "epsilon"])    # two redeliveries

    def run():
        stream = (
            spark.readStream.schema("msg_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = ingest_bloom_stream(
            stream, out, ckpt, art, key_col="text", num_bits=1 << 14, k=3
        )
        q.awaitTermination(180)

    run()
    admitted = spark.read.parquet(out + "/run=*/batch=*").collect()
    assert sorted(r.text for r in admitted) == ["alpha", "beta", "delta", "epsilon", "gamma"]
    bloom, params = load_bloom(spark, art)
    assert params["n_keys"] == 5 and params["num_bits"] == 1 << 14
    # zero false negatives: every admitted key probes "maybe seen"
    keys = spark.createDataFrame([(r.text,) for r in admitted], "text string")
    probed = bloom_maybe_contains(
        keys, bloom, "text", num_bits=1 << 14, k=3
    ).collect()
    assert all(r.maybe_seen for r in probed)

    # restart with the same checkpoint and source: exactly-once no-op
    before = {r.text for r in admitted}
    run()
    again = spark.read.parquet(out + "/run=*/batch=*").collect()
    assert {r.text for r in again} == before and len(again) == len(admitted)
    assert load_bloom(spark, art)[1]["n_keys"] == 5

    # a NEW file after restart: only its genuinely new key is admitted
    write_file("f3", ["beta", "zeta"])
    run()
    final = sorted(r.text for r in spark.read.parquet(out + "/run=*/batch=*").collect())
    assert final == ["alpha", "beta", "delta", "epsilon", "gamma", "zeta"]
    assert load_bloom(spark, art)[1]["n_keys"] == 6


def test_ingest_bloom_stream_checkpoint_reset_and_wrong_outdir(spark, tmp_path_factory):
    """The two cross-run hazards: (a) a RESET checkpoint replays colliding
    batch ids — the query-id-scoped marker must re-extend the bloom, not
    silently skip the save (keys missed that way would later bypass the
    anti-join as 'definitely new'); (b) pointing the artifact at a
    different out_dir must fail fast (its keys are not covered by the new
    verification corpus)."""
    import shutil

    from localmod_spark.operators.bloom import load_bloom
    from localmod_spark.streaming import ingest_bloom_stream

    root = tmp_path_factory.mktemp("bloom_reset")
    src, out, art = str(root / "src"), str(root / "out"), str(root / "bloom")

    def write_file(name, texts):
        spark.createDataFrame(
            [(f"{name}-{i}", t) for i, t in enumerate(texts)], "msg_id string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")

    def run(ckpt, out_dir=out):
        stream = (
            spark.readStream.schema("msg_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = ingest_bloom_stream(
            stream, out_dir, ckpt, art, key_col="text", num_bits=1 << 14, k=3
        )
        q.awaitTermination(180)
        return q

    write_file("f0", ["alpha", "beta"])
    run(str(root / "ckpt1"))
    assert load_bloom(spark, art)[1]["n_keys"] == 2

    # (a) fresh checkpoint: batch id 0 replays; 'gamma' must ENTER the bloom
    write_file("f1", ["gamma"])
    run(str(root / "ckpt2"))
    admitted = sorted(r.text for r in spark.read.parquet(out + "/run=*/batch=*").collect())
    assert admitted == ["alpha", "beta", "gamma"]
    params = load_bloom(spark, art)[1]
    assert params["n_keys"] == 3 and params["bound_out_dir"] == out
    # redeliver 'gamma' under yet another checkpoint: NOT re-admitted
    write_file("f2", ["gamma", "delta"])
    run(str(root / "ckpt3"))
    final = sorted(r.text for r in spark.read.parquet(out + "/run=*/batch=*").collect())
    assert final == ["alpha", "beta", "delta", "gamma"]
    assert load_bloom(spark, art)[1]["n_keys"] == 4

    # (b) same artifact, different out_dir: the binding check fails the query
    q = None
    with pytest.raises(Exception) as ei:
        stream = (
            spark.readStream.schema("msg_id string, text string").parquet(src + "/*")
        )
        q = ingest_bloom_stream(
            stream, str(root / "other_out"), str(root / "ckpt4"), art,
            key_col="text", num_bits=1 << 14, k=3,
        )
        q.awaitTermination(180)
        q.processAllAvailable()
    assert "bound to admitted corpus" in str(ei.value)
    assert not (root / "other_out").exists()

    # (c) crash inside the save's marker window (params dir gone): the next
    # run self-heals from the admitted dirs — no brick, no re-admission
    shutil.rmtree(str(root / "bloom" / "_bloom_params"))
    write_file("f3", ["delta", "epsilon"])
    run(str(root / "ckpt5"))
    healed = sorted(r.text for r in spark.read.parquet(out + "/run=*/batch=*").collect())
    assert healed == ["alpha", "beta", "delta", "epsilon", "gamma"]
    assert load_bloom(spark, art)[1]["n_keys"] == 5


def test_compact_ingest_corpus_preserves_dedup_and_counters(spark, tmp_path_factory):
    """Compaction folds run=*/batch=* into one recorded corpus dir: rows
    preserved, run dirs gone, n_keys recounted exactly — and a follow-up
    ingest still dedups against the compacted corpus."""
    from localmod_spark.operators.bloom import load_bloom
    from localmod_spark.streaming import compact_ingest_corpus, ingest_bloom_stream

    root = tmp_path_factory.mktemp("bloom_compact")
    src, out, art = str(root / "src"), str(root / "out"), str(root / "bloom")
    dest = str(root / "corpus_0001")

    def write_file(name, texts):
        spark.createDataFrame(
            [(f"{name}-{i}", t) for i, t in enumerate(texts)], "msg_id string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")

    def run(ckpt):
        stream = (
            spark.readStream.schema("msg_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = ingest_bloom_stream(
            stream, out, ckpt, art, key_col="text", num_bits=1 << 14, k=3
        )
        q.awaitTermination(180)

    write_file("f0", ["alpha", "beta"])
    write_file("f1", ["beta", "gamma"])
    run(str(root / "ckpt1"))
    assert load_bloom(spark, art)[1]["n_keys"] == 3

    res = compact_ingest_corpus(spark, out, dest, art, key_col="text")
    assert res == {"compacted_dirs": 2, "rows": 3, "n_keys": 3}
    import glob

    assert glob.glob(out + "/run=*") == []
    assert sorted(r.text for r in spark.read.parquet(dest).collect()) == [
        "alpha", "beta", "gamma",
    ]
    params = load_bloom(spark, art)[1]
    assert params["corpus_dirs"] and dest in params["corpus_dirs"]

    # follow-up ingest (fresh checkpoint — the old batch dirs are gone):
    # redelivered keys verify against the compacted corpus, new key lands
    write_file("f2", ["gamma", "delta"])
    run(str(root / "ckpt2"))
    admitted = sorted(
        r.text for r in spark.read.parquet(out + "/run=*/batch=*").collect()
    )
    assert admitted == ["delta"]
    assert load_bloom(spark, art)[1]["n_keys"] == 4

    # idempotent no-op when nothing to compact... after compacting again
    res2 = compact_ingest_corpus(spark, out, str(root / "corpus_0002"), art)
    assert res2["rows"] == 1 and res2["n_keys"] == 4
    res3 = compact_ingest_corpus(spark, out, str(root / "corpus_0003"), art)
    assert res3 == {"compacted_dirs": 0, "rows": 0, "n_keys": 4}


def test_ingest_bloom_stream_transform_scores_admitted_rows(spark, tmp_path_factory):
    """gate → score → land: transform_fn runs the fused scoring stage on
    admitted rows only; landed rows keep the key column (they ARE the
    future verification corpus) plus the moderation columns."""
    from localmod_spark.operators.score import score_turns
    from localmod_spark.streaming import ingest_bloom_stream

    root = tmp_path_factory.mktemp("bloom_score")
    src, out = str(root / "src"), str(root / "out")
    spark.createDataFrame(
        [("m0", "hello there"), ("m1", "hello there"), ("m2", "my ssn is 536-90-4399")],
        "msg_id string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f0")
    q = ingest_bloom_stream(
        spark.readStream.schema("msg_id string, text string").parquet(src + "/*"),
        out, str(root / "ckpt"), str(root / "bloom"),
        key_col="text", num_bits=1 << 14, k=3,
        transform_fn=lambda df: score_turns(df),
    )
    q.awaitTermination(180)
    landed = spark.read.parquet(out + "/run=*/batch=*")
    rows = {r.text: r for r in landed.collect()}
    assert set(rows) == {"hello there", "my ssn is 536-90-4399"}  # deduped
    assert {"keep", "scrubbed_text", "severity"} <= set(landed.columns)
    assert "[SSN]" in rows["my ssn is 536-90-4399"].scrubbed_text

    # a transform that drops the key column fails the batch loudly
    q2 = ingest_bloom_stream(
        spark.readStream.schema("msg_id string, text string").parquet(src + "/*"),
        str(root / "out2"), str(root / "ckpt2"), str(root / "bloom2"),
        key_col="text", num_bits=1 << 14, k=3,
        transform_fn=lambda df: df.drop("text"),
    )
    with pytest.raises(Exception) as ei:
        q2.awaitTermination(180)
        q2.processAllAvailable()
    assert "must keep the key" in str(ei.value)


def test_compact_ingest_corpus_crash_windows(spark, tmp_path_factory):
    """Compaction repairs the ingest's (3)-(4) window and its own record
    survives a later marker-window crash: (a) a tail batch dir whose keys
    never reached the bloom bits is folded in by compaction, so its keys
    are not re-admitted; (b) reusing a recorded dest is refused; (c) a
    post-compaction params wipe self-heals WITH the compacted corpus."""
    import shutil

    from localmod_spark.operators.bloom import load_bloom
    from localmod_spark.streaming import compact_ingest_corpus, ingest_bloom_stream

    root = tmp_path_factory.mktemp("bloom_cwin")
    src, out, art = str(root / "src"), str(root / "out"), str(root / "bloom")
    dest = str(root / "corpus_0001")

    def write_file(name, texts):
        spark.createDataFrame(
            [(f"{name}-{i}", t) for i, t in enumerate(texts)], "msg_id string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")

    def run(ckpt):
        q = ingest_bloom_stream(
            spark.readStream.schema("msg_id string, text string").parquet(src + "/*"),
            out, ckpt, art, key_col="text", num_bits=1 << 14, k=3,
        )
        q.awaitTermination(180)

    write_file("f0", ["alpha", "beta"])
    run(str(root / "ckpt1"))

    # (a) simulate a crash between the data write and the bloom save: a
    # batch dir exists whose key never entered the bits
    spark.createDataFrame(
        [("x-0", "orphan")], "msg_id string, text string"
    ).write.mode("overwrite").parquet(out + "/run=deadrun/batch=9")
    res = compact_ingest_corpus(spark, out, dest, art, key_col="text")
    assert res["rows"] == 3 and res["n_keys"] == 3  # orphan counted exactly
    write_file("f1", ["orphan", "zeta"])
    run(str(root / "ckpt2"))
    admitted = sorted(
        r.text for r in spark.read.parquet(out + "/run=*/batch=*").collect()
    )
    assert admitted == ["zeta"]  # orphan probed maybe (bits folded) + verified

    # (b) a recorded dest cannot be overwritten
    with pytest.raises(ValueError, match="fresh dest"):
        compact_ingest_corpus(spark, out, dest, art, key_col="text")

    # (c) params wiped after compaction: heal must keep the compacted
    # corpus via the sidecar — redelivered keys stay rejected
    shutil.rmtree(art + "/_bloom_params")
    write_file("f2", ["beta", "omega"])
    run(str(root / "ckpt3"))
    final = sorted(
        r.text for r in spark.read.parquet(out + "/run=*/batch=*").collect()
    )
    assert final == ["omega", "zeta"]
    params = load_bloom(spark, art)[1]
    assert params["n_keys"] == 5 and dest in (params["corpus_dirs"] or "")
