"""Staged, resumable corpus-selection job (plans/selection.py)."""

import shutil

import pytest
from pyspark.sql import functions as F

from localmod_spark.plans.selection import STAGES, run_selection

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_selection_matches_interactive_composition(spark, docs, tmp_path):
    """The staged job must produce exactly the interactive corpus_select
    composition's rows (the min-id-representative path whose quality-
    argmax variant corpus_select_best carries the registry's oracle) —
    staging is an execution strategy, not a semantics change."""
    import __spark_entry__ as em

    out = str(tmp_path / "sel")
    res = run_selection(spark, docs, out)
    assert res.stages_run == list(STAGES) and not res.stages_skipped
    got = {(r.doc_id, r.lang, r.n_tokens) for r in res.selected.collect()}
    want = {
        (r.doc_id, r.lang, r.n_tokens)
        for r in em._q_corpus_select(spark, SF_DIR).collect()
    }
    assert got == want and got


def test_selection_resume_skips_completed_stages(spark, docs, tmp_path):
    out = str(tmp_path / "sel")
    first = run_selection(spark, docs, out)
    again = run_selection(spark, docs, out)
    assert again.stages_run == []
    assert again.stages_skipped == list(STAGES)
    assert again.selected.count() == first.selected.count()


def test_selection_resume_recomputes_only_missing_tail(spark, docs, tmp_path):
    """Deleting a mid-pipeline stage's data dir invalidates it (ledger row
    alone is not trusted); the sketch stage is NOT re-run — the whole
    point of staging signatures."""
    out = str(tmp_path / "sel")
    fresh = run_selection(spark, docs, out)
    n = fresh.selected.count()
    shutil.rmtree(f"{out}/clusters")
    shutil.rmtree(f"{out}/selected")
    res = run_selection(spark, docs, out)
    assert res.stages_run == ["clusters", "selected"]
    assert set(res.stages_skipped) == {"valid", "bands", "pairs"}
    assert res.selected.count() == n


def test_selection_no_resume_recomputes_everything(spark, docs, tmp_path):
    out = str(tmp_path / "sel")
    run_selection(spark, docs, out)
    res = run_selection(spark, docs, out, resume=False)
    assert res.stages_run == list(STAGES)


def test_selection_dedups_planted_duplicates(spark, tmp_path):
    rows = [
        (0, "en", "the alpine meadow study spans decades of careful fieldwork records"),
        (1, "en", "the alpine meadow study spans decades of careful fieldwork records"),
        (2, "en", "a completely different document about quarterly finance and audits"),
        (3, "en", "x" * 500),  # fails max_len gate
        (4, "en", "too short"),  # fails token band (< 5 tokens)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    res = run_selection(spark, docs, str(tmp_path / "sel"), token_band=(5, 1000))
    kept = sorted(r.doc_id for r in res.selected.collect())
    assert kept == [0, 2]
    # the staged pairs table carries the verified duplicate
    pairs = spark.read.parquet(str(tmp_path / "sel" / "pairs"))
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(0, 1)}


def test_selection_param_change_invalidates_stale_stages(spark, docs, tmp_path):
    """ADVICE r3 (medium): re-running with different params must NOT
    silently reuse staged artifacts built under the old ones — stale
    stages (and everything downstream) recompute; the expensive sketch
    whose params didn't change is still reused."""
    import pytest as _pytest

    out = str(tmp_path / "sel")
    run_selection(spark, docs, out, threshold=0.9)
    with _pytest.warns(UserWarning, match="different parameters"):
        res = run_selection(spark, docs, out, threshold=0.8)
    assert set(res.stages_run) == {"pairs", "clusters", "selected"}
    assert set(res.stages_skipped) == {"valid", "bands"}
    # the rebuilt artifacts equal a fresh 0.8 run...
    fresh = run_selection(spark, docs, str(tmp_path / "fresh"), threshold=0.8)
    got = {(r.doc_id, r.n_tokens) for r in res.selected.collect()}
    want = {(r.doc_id, r.n_tokens) for r in fresh.selected.collect()}
    assert got == want
    # ...and a rerun under the NEW params now skips everything (latest
    # ledger row wins; the superseded 0.9 rows no longer match)
    again = run_selection(spark, docs, out, threshold=0.8)
    assert again.stages_run == [] and set(again.stages_skipped) == set(STAGES)


def test_selection_ledger_records_cap_metrics(spark, tmp_path):
    """With the giant-bucket cap on, the averted blowup lands in the pairs
    stage's ledger row — the drop is auditable, not silent."""
    import json

    rows = [(i, "en", "standard boilerplate sentence repeated in every ingest batch") for i in range(30)]
    rows += [(100, "en", "one genuinely unique document about alpine meadow ecology surveys"),
             (101, "en", "one genuinely unique document about alpine meadow ecology survey")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = str(tmp_path / "sel")
    run_selection(spark, df, out, max_bucket=10)
    ledger = spark.read.parquet(f"{out}/_lineage")
    m = json.loads(ledger.where("stage = 'pairs'").select("metrics").first()[0])
    assert m.get("dropped_buckets", 0) >= 1
    assert m.get("max_bucket_width", 0) >= 30


def test_selection_uncapped_wide_bucket_warns(spark, tmp_path, monkeypatch):
    """ADVICE r3: an UNCAPPED run that meets a quadratic-risk bucket must
    warn loudly (measured on the staged band table)."""
    import pytest as _pytest

    from localmod_spark.plans import selection as sel_mod

    monkeypatch.setattr(sel_mod, "WIDE_BUCKET_WARN", 10)
    rows = [(i, "en", "the same boilerplate sentence repeated for every single row") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    with _pytest.warns(UserWarning, match="uncapped banding join"):
        run_selection(spark, df, str(tmp_path / "sel"), max_bucket=None)


def test_cross_dedup_survivors_planted(spark):
    """Operator level: new docs with a verified corpus near-dup drop;
    unique new docs survive; the corpus side reuses a pre-built band
    table (never re-sketched)."""
    from localmod_spark.operators.dedup import (
        cross_dedup_survivors,
        explode_minhash_bands,
        with_minhash,
    )

    corpus = spark.createDataFrame(
        [(0, "en", "the alpine meadow study spans decades of careful fieldwork records"),
         (1, "en", "a completely different document about quarterly finance and audits")],
        "doc_id long, lang string, text string",
    )
    new = spark.createDataFrame(
        [(10, "en", "the alpine meadow study spans decades of careful fieldwork records"),
         (11, "en", "an entirely novel report covering mountain glacier retreat photography")],
        "doc_id long, lang string, text string",
    )
    corpus_bands = explode_minhash_bands(
        with_minhash(corpus, num_hashes=64, shingle_k=3, shingle_mode="word"),
        bands=16, rows_per_band=4,
    )
    kept = sorted(r.doc_id for r in cross_dedup_survivors(new, corpus, corpus_bands).collect())
    assert kept == [11]


def test_token_budget_scalable_null_scores_match_exact(spark):
    """NULL quality scores (desc → nulls last in the exact operator) get
    their own lowest histogram bin — outputs stay identical."""
    from localmod_spark.operators.sampling import select_token_budget, select_token_budget_scalable

    rows = [(0, "en", 300, 0.9), (1, "en", 300, None), (2, "en", 300, 0.5),
            (3, "en", 300, None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long, q double")
    for budget in (600, 900, 1200, 2000):
        exact = {
            (r.doc_id, r.cum_tokens)
            for r in select_token_budget(
                df, budget, order_by=(F.desc("q"), F.asc("doc_id")), group_cols=("lang",)
            ).collect()
        }
        scal = {
            (r.doc_id, r.cum_tokens)
            for r in select_token_budget_scalable(
                df, budget, score_col="q", group_cols=("lang",), n_buckets=8
            ).collect()
        }
        assert scal == exact, budget


def _append_old_schema_row(spark, out, stage, wave):
    """Simulate a ledger row written BEFORE parameter tracking: no
    params / finished / batch_id columns in its parquet footer."""
    from localmod_spark.plans.pipeline import _append_ledger_row

    _append_ledger_row(
        spark,
        f"{out}/_lineage",
        {"wave": wave, "stage": stage, "status": "done", "rows": 1, "wall_ms": 0.0},
    )


def _drop_stage_ledger_files(out, wave):
    import glob
    import os

    for f in glob.glob(f"{out}/_lineage/part-{wave:05d}-*.parquet"):
        os.remove(f)


def test_mixed_schema_ledger_keeps_resume_working(spark, docs, tmp_path):
    """An old-schema row alongside tracked rows (mixed parquet footers)
    must not break resume: mergeSchema unions the footers, the null
    finished sorts oldest, and every stage still skips."""
    out = str(tmp_path / "sel")
    run_selection(spark, docs, out)
    _append_old_schema_row(spark, out, "bands", 1)
    res = run_selection(spark, docs, out)
    assert res.stages_run == []
    assert res.stages_skipped == list(STAGES)


def test_pre_tracking_stage_row_recomputes_that_stage_only(spark, docs, tmp_path):
    """When a stage's ONLY ledger row predates parameter tracking (null
    params), that stage (and its downstream) recomputes; upstream tracked
    stages are still reused — never a silent full recompute, never stale
    reuse."""
    out = str(tmp_path / "sel")
    run_selection(spark, docs, out)
    _drop_stage_ledger_files(out, STAGES.index("pairs"))
    _append_old_schema_row(spark, out, "pairs", STAGES.index("pairs"))
    with pytest.warns(UserWarning, match="different parameters"):
        res = run_selection(spark, docs, out)
    assert res.stages_run == ["pairs", "clusters", "selected"]
    assert set(res.stages_skipped) == {"valid", "bands"}


# ---- ledger compaction (r6) ----


def _fake_increment_rows(spark, out, n, start=0):
    """Append n synthetic increment ledger rows driver-side — the
    100-daily-batches shape without paying 100 Spark jobs."""
    import json as _json

    from localmod_spark.plans.pipeline import _append_ledger_row
    from localmod_spark.plans.selection import _ledger_path

    for i in range(start, start + n):
        _append_ledger_row(
            spark,
            _ledger_path(out),
            {
                "wave": 5,
                "stage": "increment",
                "status": "done",
                "rows": i,
                "wall_ms": 1.0,
                "params": _json.dumps({"i": i}, sort_keys=True),
                "metrics": "{}",
                "finished": 1000.0 + i,
                "batch_id": f"b{i:03d}",
            },
        )


def _ledger_files(spark, out):
    from localmod_spark.plans.pipeline import _hadoop_fs
    from localmod_spark.plans.selection import _ledger_path

    fs, hp = _hadoop_fs(spark, _ledger_path(out))
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(hp)
        if st.isFile() and not st.getPath().getName().startswith((".", "_"))
    )


def test_compact_ledger_100_batches_preserves_everything(spark, docs, tmp_path):
    """100 appended ledger rows compact to ONE file; every consumer
    reads identically before and after (all rows, resume stages), later
    appends coexist with the compacted file, and re-compaction below
    threshold is a no-op."""
    from localmod_spark.plans.selection import (
        _read_ledger,
        _ledger_path,
        compact_ledger,
        completed_stages,
        run_selection,
    )

    out = str(tmp_path / "sel")
    run_selection(spark, docs, out)
    _fake_increment_rows(spark, out, 100)

    before_rows = {
        tuple(r) for r in _read_ledger(spark, _ledger_path(out)).collect()
    }
    before_stages = completed_stages(spark, out)

    n = compact_ledger(spark, out, min_parts=32)
    assert n >= 100
    assert len(_ledger_files(spark, out)) == 1

    after = _read_ledger(spark, _ledger_path(out))
    assert {tuple(r) for r in after.collect()} == before_rows
    assert completed_stages(spark, out) == before_stages
    # second pass: 1 file < threshold -> no-op
    assert compact_ledger(spark, out, min_parts=32) == 0
    # appends after compaction coexist with the compacted file
    _fake_increment_rows(spark, out, 1, start=500)
    rows = _read_ledger(spark, _ledger_path(out)).where(
        F.col("batch_id") == "b500"
    )
    assert rows.count() == 1
    shutil.rmtree(out, ignore_errors=True)


def test_compact_ledger_is_mixed_schema_safe(spark, docs, tmp_path):
    """Pre-tracking rows (no params/finished/batch_id columns) compact
    together with modern rows; mergeSchema null-fills survive the
    rewrite with their TYPES intact (a pandas round-trip would widen
    them and poison later reads)."""
    from localmod_spark.plans.pipeline import _append_ledger_row
    from localmod_spark.plans.selection import (
        _ledger_path,
        _read_ledger,
        compact_ledger,
        run_selection,
    )

    out = str(tmp_path / "sel")
    run_selection(spark, docs, out)
    for i in range(40):  # old-shape rows: subset of today's columns
        _append_ledger_row(
            spark, _ledger_path(out),
            {"wave": 9, "stage": "increment", "status": "done", "rows": i},
        )
    assert compact_ledger(spark, out, min_parts=16) >= 40
    after = _read_ledger(spark, _ledger_path(out))
    old = after.where((F.col("wave") == 9) & F.col("params").isNull())
    assert old.count() == 40
    # and a fresh full-schema append still reads alongside the compact file
    _fake_increment_rows(spark, out, 1, start=900)
    assert after.sparkSession.read.option("mergeSchema", "true").parquet(
        _ledger_path(out)
    ).where(F.col("batch_id") == "b900").count() == 1
    shutil.rmtree(out, ignore_errors=True)


def test_compact_ledger_missing_dir_is_noop(spark, tmp_path):
    from localmod_spark.plans.selection import compact_ledger

    assert compact_ledger(spark, str(tmp_path / "nope"), min_parts=1) == 0
