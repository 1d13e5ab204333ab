"""Checkpoint/resume + lineage + metrics semantics of the batch plan."""

import shutil

import pytest
from pyspark.sql import functions as F

from localmod_spark.plans.pipeline import (
    completed_waves,
    read_metrics,
    read_output,
    run_pipeline,
)
from localmod_spark.sources.transcripts import synth_transcripts

N = 800
WAVES = 4


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pipeline_out"))
    shutil.rmtree(d, ignore_errors=True)
    return d


@pytest.fixture(scope="module")
def first_run(spark, out_dir):
    turns = synth_transcripts(spark, N, slices=4)
    return run_pipeline(spark, turns, out_dir, n_waves=WAVES, context=False)


def test_all_waves_run_and_rows_complete(spark, first_run, out_dir):
    assert sorted(first_run.waves_run) == list(range(WAVES))
    assert first_run.rows_written == N
    assert read_output(spark, out_dir).count() == N


def test_lineage_ledger(spark, first_run, out_dir):
    ledger = spark.read.parquet(out_dir + "/_lineage")
    assert ledger.where("status = 'done'").select("wave").distinct().count() == WAVES
    assert ledger.agg(F.sum("rows")).collect()[0][0] == N
    assert completed_waves(spark, out_dir) == set(range(WAVES))


def test_metrics_table(spark, first_run, out_dir):
    m = read_metrics(spark, out_dir).toPandas()
    assert set(m["wave"]) == set(range(WAVES))
    assert m["turns"].sum() == N
    assert m["flagged"].sum() > 0
    assert (m["redactions"] >= m["pii_flagged"]).all()


def test_resume_skips_done_waves(spark, first_run, out_dir):
    turns = synth_transcripts(spark, N, slices=4)
    res2 = run_pipeline(spark, turns, out_dir, n_waves=WAVES, context=False)
    assert res2.waves_run == []
    assert res2.waves_skipped == list(range(WAVES))
    assert read_output(spark, out_dir).count() == N  # no duplication


def test_partial_resume_completes_missing_wave(spark, out_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("partial_out"))
    turns = synth_transcripts(spark, N, slices=4)
    # simulate a crash after wave 0+1 by pre-marking them done
    run_pipeline(spark, turns, d, n_waves=WAVES, context=False)
    # wipe ledger rows for waves 2,3 → pipeline must re-run exactly those
    ledger = spark.read.parquet(d + "/_lineage").where(F.col("wave") < 2)
    ledger.write.mode("overwrite").parquet(d + "/_lineage_new")
    shutil.rmtree(d + "/_lineage")
    shutil.move(d + "/_lineage_new", d + "/_lineage")
    res = run_pipeline(spark, turns, d, n_waves=WAVES, context=False)
    assert sorted(res.waves_run) == [2, 3]
    assert res.waves_skipped == [0, 1]
    # idempotent overwrite: still exactly N rows, no dupes per key
    out = read_output(spark, d)
    assert out.count() == N
    assert out.groupBy("conv_id", "turn_idx").count().where("count > 1").count() == 0


def test_output_scrub_matches_kernel(spark, first_run, out_dir):
    from localmod_spark.kernel.pii import pii_scrub

    rows = read_output(spark, out_dir).select("text", "scrubbed_text").limit(500).collect()
    for r in rows:
        want = pii_scrub(r.text)[0] if r.text is not None else None
        assert r.scrubbed_text == want


def test_unreadable_ledger_warns_not_silently_resets(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corrupt_ledger"))
    turns = synth_transcripts(spark, 200, slices=2)
    run_pipeline(spark, turns, d, n_waves=2, context=False)
    # corrupt the ledger: a truncated 'parquet' file readers must reject
    with open(d + "/_lineage/part-zzzzz-corrupt.parquet", "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")
    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        waves = completed_waves(spark, d)
    assert waves == set()  # degraded to fresh run ...
    assert any("unreadable" in str(c.message) for c in caught)  # ... loudly


def test_concurrent_waves_equal_sequential(spark, tmp_path_factory):
    """max_concurrent_waves=4 must produce exactly the sequential output:
    same rows, no duplicates, complete ledger."""
    d = str(tmp_path_factory.mktemp("parallel_out"))
    turns = synth_transcripts(spark, N, slices=4)
    res = run_pipeline(
        spark, turns, d, n_waves=WAVES, context=False, max_concurrent_waves=4
    )
    assert sorted(res.waves_run) == list(range(WAVES))
    assert res.rows_written == N
    out = read_output(spark, d)
    assert out.count() == N
    assert out.groupBy("conv_id", "turn_idx").count().where("count > 1").count() == 0
    assert completed_waves(spark, d) == set(range(WAVES))
    m = read_metrics(spark, d).toPandas()
    assert m["turns"].sum() == N
