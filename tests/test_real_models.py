"""Env-gated real-model integration (VERDICT r3 #5/#6).

These tests SKIP in this sandbox (no torch/transformers/PIL, no
checkpoints) and RUN wherever the real dependencies exist — proving the
mock-driven inference stage and the fake codec are drop-in slots instead
of asserting it.  The gate logic itself (graceful ``None`` / loud raise
when deps are absent) is tested unconditionally.
"""

import numpy as np
import pytest

from localmod_spark.models import real_inference as ri


def _pil_available() -> bool:
    try:
        from PIL import Image  # noqa: F401

        return True
    except ImportError:
        return False


# ------------------------------------------------------- gate behavior ----


def test_real_model_gate_returns_none_without_deps(tmp_path, monkeypatch):
    """Missing libs or missing checkpoints → every loader returns None
    (callers keep mocks / pattern-only — the reference's own degradation,
    `toxicity.py:113-118`); never an exception, never a download."""
    monkeypatch.delenv(ri.MODEL_DIR_ENV, raising=False)
    assert ri.load_real_toxicity_batch_fns() is None
    assert ri.load_real_nsfw_prob_fn() is None
    # a base dir with no checkpoint subdirs is just as absent
    assert ri.available_toxicity_checkpoints(str(tmp_path)) == {}
    assert ri.load_real_toxicity_batch_fns(str(tmp_path)) is None


def test_checkpoint_resolution_finds_local_dirs(tmp_path):
    """Resolution mirrors `models/paths.py:96-120`: an existing local
    subdir per registry model, nothing else (offline — absent means
    absent)."""
    (tmp_path / "toxic-bert").mkdir()
    (tmp_path / "dehatebert-mono-english").mkdir()
    found = ri.available_toxicity_checkpoints(str(tmp_path))
    assert set(found) == {"toxicity", "toxicity_dehatebert"}
    assert all(p.startswith(str(tmp_path)) for p in found.values())


def test_env_var_selects_model_dir(tmp_path, monkeypatch):
    (tmp_path / "toxic-bert").mkdir()
    monkeypatch.setenv(ri.MODEL_DIR_ENV, str(tmp_path))
    assert set(ri.available_toxicity_checkpoints()) == {"toxicity"}


# --------------------------------------------- real inference (skipped) ----


@pytest.mark.skipif(
    ri.load_real_toxicity_batch_fns() is None,
    reason="torch/transformers + local checkpoints not present in this sandbox",
)
def test_real_toxicity_ensemble_is_drop_in(spark):
    """Where real checkpoints exist: the batch fns slot straight into
    PipelineConfig and the distributed scores are valid probabilities
    with the ensemble threshold applied."""
    from localmod_spark.kernel.aggregate import DEFAULT_CONFIG
    from localmod_spark.operators.score import score_turns
    from localmod_spark.sources.transcripts import synth_transcripts

    fns = ri.load_real_toxicity_batch_fns()
    assert fns
    cfg = DEFAULT_CONFIG._replace(toxicity_model_batch_fns=fns)
    rows = score_turns(synth_transcripts(spark, 40, slices=1), cfg=cfg).select(
        "tox_conf", "tox_flagged"
    ).collect()
    assert all(0.0 <= r.tox_conf <= 1.0 for r in rows)
    assert all(r.tox_flagged == (r.tox_conf >= 0.17) for r in rows)


# ------------------------------------------------ PIL codec (skip-gated) ----


@pytest.mark.skipif(not _pil_available(), reason="PIL not installed in this sandbox")
def test_real_decode_extracts_features_from_png(spark):
    """With PIL present, decode='real' actually decodes: a synthetic PNG
    flows binaryFile-style payload → PIL decode → luminance features."""
    import io

    from PIL import Image

    from localmod_spark.operators.multimodal import extract_media_features

    buf = io.BytesIO()
    Image.fromarray(
        (np.arange(64 * 64).reshape(64, 64) % 256).astype(np.uint8), mode="L"
    ).save(buf, format="PNG")
    payload = buf.getvalue()
    media = spark.createDataFrame(
        [(0, "image", bytearray(payload), None)],
        "media_id long, kind string, payload binary, duration_ms long",
    )
    row = extract_media_features(media, dim=8, decode="real").collect()[0]
    assert row.n_bytes == len(payload)
    assert len(row.feature) == 8 and abs(sum(v * v for v in row.feature) - 1.0) < 1e-6


def test_real_decode_raises_loudly_without_pil(spark):
    """In this sandbox the real-decode slot must fail LOUDLY (the fake
    codec is never silently substituted)."""
    if _pil_available():
        pytest.skip("PIL installed — the loud-raise path doesn't apply")
    from localmod_spark.operators.multimodal import extract_media_features

    media = spark.createDataFrame(
        [(0, "image", bytearray(b"\x89PNG fake"), None)],
        "media_id long, kind string, payload binary, duration_ms long",
    )
    with pytest.raises(Exception, match="(?i)real decode|NotImplemented"):
        extract_media_features(media, decode="real").collect()
