"""Staged ANN ground truth (plans/ann_truth.py): reuse on matching key
without recompute, staleness detection/refusal, orphan-data distrust."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import localmod_spark.plans.ann_truth as at  # noqa: E402
from localmod_spark.plans.ann_truth import staged_knn_truth, truth_key  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    from localmod_spark.sources.tables import load_table

    return load_table(spark, SF0001, "embeddings")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") % 20 == 0)


def test_stage_then_reuse_without_recompute(spark, emb, queries, tmp_path, monkeypatch):
    d = str(tmp_path / "truth")
    first = {(r["query_id"], r["vec_id"]) for r in staged_knn_truth(queries, emb, 5, d).collect()}
    assert first

    def _boom(*a, **kw):  # a second exact pass would be the staged path failing
        raise AssertionError("knn_join recomputed despite a matching staged key")

    import localmod_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "knn_join", _boom)
    second = {(r["query_id"], r["vec_id"]) for r in staged_knn_truth(queries, emb, 5, d).collect()}
    assert second == first


def test_truth_key_matches_per_side_fingerprints(emb, queries):
    """r7 internals guard: the single tagged-union fingerprint job must
    produce the exact key string of the old two-job form — a staged
    artifact written before the change must keep validating."""
    expected = (
        f"k=5;q={at._fingerprint(queries, 'vec_id', 'embedding')}"
        f";c={at._fingerprint(emb, 'vec_id', 'embedding')}"
    )
    assert truth_key(queries, emb, 5) == expected


def test_stored_key_pyarrow_fast_path_reads_what_spark_wrote(spark, emb, queries, tmp_path):
    """The local-filesystem key read (driver-side pyarrow, no Spark job)
    must return the same key the generic Spark read sees."""
    d = str(tmp_path / "truth_fp")
    staged_knn_truth(queries, emb, 5, d)
    key_dir = os.path.join(d, "_truth_key")
    assert os.path.isdir(key_dir)  # precondition: fast path engages
    fast = at._stored_key(spark, d)
    via_spark = spark.read.parquet(key_dir).collect()[0]["key"]
    assert fast == via_spark == truth_key(queries, emb, 5)


def test_changed_corpus_invalidates_the_key(spark, emb, queries, tmp_path):
    d = str(tmp_path / "truth")
    staged_knn_truth(queries, emb, 5, d)
    smaller = emb.where(F.col("vec_id") != 1)
    assert truth_key(queries, smaller, 5) != truth_key(queries, emb, 5)
    # default: recompute + restage against the new corpus
    rows = staged_knn_truth(queries, smaller, 5, d).collect()
    assert all(r["vec_id"] != 1 for r in rows)
    # and the restaged key now matches the new corpus
    assert at._stored_key(spark, d) == truth_key(queries, smaller, 5)


def test_on_stale_fail_refuses(spark, emb, queries, tmp_path):
    d = str(tmp_path / "truth")
    staged_knn_truth(queries, emb, 5, d)
    smaller = emb.where(F.col("vec_id") != 1)
    with pytest.raises(ValueError, match="STALE"):
        staged_knn_truth(queries, smaller, 5, d, on_stale="fail")
    # missing stage + on_stale='fail' is fine — nothing stale to refuse
    d2 = str(tmp_path / "fresh")
    assert staged_knn_truth(queries, emb, 5, d2, on_stale="fail").count() > 0


def test_different_k_never_reuses(spark, emb, queries, tmp_path):
    d = str(tmp_path / "truth")
    staged_knn_truth(queries, emb, 3, d)
    got = staged_knn_truth(queries, emb, 5, d)
    per_q = got.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_q)


def test_orphan_data_without_key_is_not_trusted(spark, emb, queries, tmp_path, monkeypatch):
    import shutil

    d = str(tmp_path / "truth")
    staged_knn_truth(queries, emb, 5, d)
    shutil.rmtree(os.path.join(d, at._KEY_SUBDIR))  # crash-between-writes shape
    calls = []
    import localmod_spark.operators.similarity as sim

    real = sim.knn_join

    def _spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(sim, "knn_join", _spy)
    staged_knn_truth(queries, emb, 5, d)
    assert calls, "orphan data dir (no key) must trigger a recompute"


def test_bad_on_stale_rejected(spark, emb, queries, tmp_path):
    with pytest.raises(ValueError):
        staged_knn_truth(queries, emb, 5, str(tmp_path / "x"), on_stale="maybe")


def test_corrupt_key_warns_with_path_and_error(spark, emb, queries, tmp_path):
    """An unreadable key is never a silent "not staged": the read warns
    with the key path and the error, then the truth is recomputed."""
    d = str(tmp_path / "truth_corrupt")
    staged_knn_truth(queries, emb, 5, d)
    key_dir = os.path.join(d, "_truth_key")
    for f in os.listdir(key_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(key_dir, f), "wb") as fh:
                fh.write(b"not a parquet file")
    with pytest.warns(UserWarning, match="cannot read the ANN truth key") as rec:
        assert at._stored_key(spark, d) is None
    assert any(key_dir in str(w.message) for w in rec)
    # the generic (Spark) read path warns the same way
    with pytest.warns(UserWarning, match="cannot read the ANN truth key"):
        assert at._stored_key(spark, "file://" + d) is None
    with pytest.warns(UserWarning, match="no valid key found"):
        assert staged_knn_truth(queries, emb, 5, d).count() > 0
    assert at._stored_key(spark, d) == truth_key(queries, emb, 5)


def test_unstaged_local_dir_reads_no_key_without_warning(spark, tmp_path):
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert at._stored_key(spark, str(tmp_path / "never_staged")) is None


def test_ann_recall_distrusts_a_shared_staging_dir(spark, tmp_path, monkeypatch):
    """The recall query stages its truth under a 0700 per-user dir.  A
    pre-existing group/other-writable dir of that name is not trusted:
    the query warns, stages elsewhere, and returns the same rows."""
    import getpass
    import stat
    import tempfile
    import warnings

    import __spark_entry__ as em

    def recall_rows():
        return sorted(tuple(r) for r in em._q_ann_recall(spark, SF0001).collect())

    own = tmp_path / "own"
    own.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(own))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        want = recall_rows()
    assert not any("not a private dir" in str(w.message) for w in rec)
    base = own / f"lmspark_ann_truth_{getpass.getuser()}"
    assert stat.S_IMODE(base.stat().st_mode) == 0o700
    assert os.listdir(base)  # the truth was staged there

    shared = tmp_path / "shared"
    planted = shared / f"lmspark_ann_truth_{getpass.getuser()}"
    planted.mkdir(parents=True)
    os.chmod(planted, 0o777)
    monkeypatch.setattr(tempfile, "tempdir", str(shared))
    with pytest.warns(UserWarning, match="not a private dir"):
        got = recall_rows()
    assert got == want
    assert os.listdir(planted) == []  # nothing staged in the untrusted dir
