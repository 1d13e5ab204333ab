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
