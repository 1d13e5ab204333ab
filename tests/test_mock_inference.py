"""The real transformer-inference stage SHAPE, end to end in Spark.

The blend arithmetic (weights, renormalization) was already hand-value
tested; these tests exercise the actual batched
tokenize→truncate(256)→pad→forward→prob→ensemble path of the reference's
``predict_batch`` (`src/localmod/classifiers/toxicity.py:191-275`)
through the Spark scoring UDF, with deterministic mock models standing
in for the HF weights (none exist in this sandbox)."""

import numpy as np
import pytest
from pyspark import cloudpickle

import mock_inference
from localmod_spark.kernel.aggregate import PipelineConfig, analyze_frame
from localmod_spark.kernel.toxicity import ensemble_prob_batch
from mock_inference import (
    CLS_ID,
    PAD_ID,
    SEP_ID,
    MockTokenizer,
    batch_prob_fns,
    load_ensemble,
    scalar_prob_fns,
)

# The fake lives next to the tests, which executors cannot import: ship
# its classes and functions inside the UDF closure instead.
cloudpickle.register_pickle_by_value(mock_inference)

TEXTS = [
    "you are a wonderful person and i appreciate your help",
    "this is a perfectly ordinary sentence about the weather today",
    "short",
    "word " * 500,  # 500 tokens → must truncate at 256
    "the quick brown fox jumps over the lazy dog",
]


def test_tokenizer_truncation_padding_contract():
    tok = MockTokenizer(seed=3)
    out = tok(["one two three", "a " * 400], truncation=True, max_length=256, padding=True)
    ids, mask = out["input_ids"], out["attention_mask"]
    assert ids.shape == mask.shape == (2, 256)  # truncated to max_length
    assert ids[0, 0] == CLS_ID and ids[1, 0] == CLS_ID
    assert ids[1, 255] == SEP_ID  # truncation keeps room for [SEP]
    row0_len = int(mask[0].sum())
    assert ids[0, row0_len - 1] == SEP_ID and ids[0, row0_len] == PAD_ID
    # determinism across instances
    again = MockTokenizer(seed=3)(["one two three", "a " * 400])
    assert (again["input_ids"] == ids).all()


def test_batch_equals_scalar_probs():
    bundles = load_ensemble()
    for name, b in bundles.items():
        batch = b.predict_proba_batch(TEXTS)
        scalar = np.array([b.predict_proba_batch([t])[0] for t in TEXTS])
        # padding width differs between batch and singleton calls, but
        # masked means make padding a no-op — probabilities must be equal
        np.testing.assert_allclose(batch, scalar, rtol=0, atol=1e-12, err_msg=name)
        assert ((batch >= 0) & (batch <= 1)).all()


def test_truncation_actually_bounds_the_forward():
    """Texts identical in their first 254 tokens must score identically —
    proof the 256-token truncation reaches the model."""
    b = load_ensemble()["toxicity"]
    base = "tok " * 300
    a = b.predict_proba_batch([base + "completely different tail here"])
    c = b.predict_proba_batch([base + "other words entirely at the end"])
    assert a[0] == c[0]


def test_kernel_batched_ensemble_matches_hand_ensemble():
    """analyze_frame with batch fns == ensemble_prob_batch of the raw
    per-model mock probabilities (all four models loaded)."""
    import pandas as pd

    bundles = load_ensemble()
    cfg = PipelineConfig(toxicity_model_batch_fns=batch_prob_fns(bundles))
    out = analyze_frame(pd.Series(TEXTS), cfg)
    want = ensemble_prob_batch(
        {n: b.predict_proba_batch(TEXTS) for n, b in bundles.items()}
    )
    np.testing.assert_allclose(out["tox_conf"].to_numpy(), want, atol=1e-12)
    assert (out["tox_flagged"] == (want >= cfg.toxicity_threshold)).all()


def test_kernel_batch_and_scalar_slots_agree():
    import pandas as pd

    bundles = load_ensemble()
    a = analyze_frame(
        pd.Series(TEXTS), PipelineConfig(toxicity_model_batch_fns=batch_prob_fns(bundles))
    )
    b = analyze_frame(
        pd.Series(TEXTS), PipelineConfig(toxicity_model_fns=scalar_prob_fns(bundles))
    )
    np.testing.assert_allclose(a["tox_conf"], b["tox_conf"], atol=1e-12)


def test_renormalization_on_load_failure():
    """One model 'fails to load' (`toxicity.py:113-118`) → the ensemble
    runs on 3 models and rescales by the remaining weight mass 0.85
    (`toxicity.py:172-173`)."""
    import pandas as pd

    full = load_ensemble()
    partial = load_ensemble(fail=("toxicity_snlp",))
    assert set(partial) == set(full) - {"toxicity_snlp"}

    cfg = PipelineConfig(toxicity_model_batch_fns=batch_prob_fns(partial))
    out = analyze_frame(pd.Series(TEXTS), cfg)
    probs = {n: b.predict_proba_batch(TEXTS) for n, b in partial.items()}
    want = (
        probs["toxicity"] * 0.50
        + probs["toxicity_dehatebert"] * 0.20
        + probs["toxicity_facebook"] * 0.15
    ) / 0.85
    np.testing.assert_allclose(out["tox_conf"].to_numpy(), want, atol=1e-12)

    # and it differs from the 4-model blend (the renorm path really ran)
    full_out = analyze_frame(
        pd.Series(TEXTS), PipelineConfig(toxicity_model_batch_fns=batch_prob_fns(full))
    )
    assert not np.allclose(out["tox_conf"], full_out["tox_conf"])


def test_all_models_failing_raises():
    with pytest.raises(RuntimeError, match="No toxicity models"):
        load_ensemble(fail=tuple(load_ensemble().keys()))


def test_blank_rows_skip_model_calls():
    """The reference filters empty texts before tokenizing
    (`predict_batch` valid_indices); the batched slot must do the same —
    blanks score 0.0 and never reach a model."""
    import pandas as pd

    calls = []

    def probe(texts):
        calls.append(list(texts))
        return np.full(len(texts), 0.5)

    out = analyze_frame(
        pd.Series(["real text", "", "   ", "more text"]),
        PipelineConfig(toxicity_model_batch_fns={"toxicity": probe}),
    )
    assert all("" not in c and "   " not in c for c in calls)
    assert out["tox_conf"].tolist()[1] == 0.0 and out["tox_conf"].tolist()[2] == 0.0


def test_inference_stage_end_to_end_in_spark(spark):
    """The full ML path through the Spark scoring UDF: batch fns ship in
    the UDF closure, executors run tokenize→forward→ensemble per Arrow
    batch, and the distributed result equals the driver-side hand
    computation row for row."""
    from localmod_spark.operators.score import score_turns

    bundles = load_ensemble(fail=("toxicity_snlp",))  # exercise renorm too
    cfg = PipelineConfig(toxicity_model_batch_fns=batch_prob_fns(bundles))
    rows = [(f"c{i}", i, TEXTS[i % len(TEXTS)]) for i in range(40)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {
        (r.conv_id, r.turn_idx): r.tox_conf
        for r in score_turns(df, cfg=cfg).select("conv_id", "turn_idx", "tox_conf").collect()
    }
    texts = [t for _, _, t in rows]
    want = ensemble_prob_batch({n: b.predict_proba_batch(texts) for n, b in bundles.items()})
    for (cid, tix, _), w in zip(rows, want):
        assert got[(cid, tix)] == pytest.approx(w, abs=1e-9), (cid, tix)
