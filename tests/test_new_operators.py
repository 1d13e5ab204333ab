"""Validation (F4), evaluation (A5), classifier selection (F3),
multimodal plumbing, and embedding near-dup operators."""

import pytest
from pyspark.sql import functions as F

from localmod_spark.kernel.aggregate import PipelineConfig
from localmod_spark.operators.evaluate import classification_metrics
from localmod_spark.operators.multimodal import extract_media_features, synth_media
from localmod_spark.operators.score import score_turns
from localmod_spark.operators.similarity import embedding_near_dups
from localmod_spark.operators.validate import with_validity
from localmod_spark.sources.transcripts import synth_transcripts


def test_validity_reasons(spark):
    df = spark.createDataFrame(
        [(0, "ok text"), (1, ""), (2, "   "), (3, None), (4, "x" * 10_001)],
        "id int, text string",
    )
    got = {r.id: (r.valid, r.invalid_reason) for r in with_validity(df).collect()}
    assert got[0] == (True, None)
    assert got[1] == (False, "empty_text")
    assert got[2] == (False, "empty_text")
    assert got[3] == (False, "null_text")
    assert got[4] == (False, "too_long")


def test_classification_metrics_formulas(spark):
    # tp=2 fp=1 fn=1 tn=2 → P=2/3 R=2/3 F1=2/3 acc=4/6 balacc=(2/3+2/3)/2
    pairs = spark.createDataFrame(
        [(True, True), (True, True), (True, False), (False, True), (False, False), (False, False)],
        "pred boolean, label boolean",
    )
    m = classification_metrics(pairs).collect()[0]
    assert (m.tp, m.fp, m.fn, m.tn) == (2, 1, 1, 2)
    assert m.precision == pytest.approx(2 / 3, abs=1e-6)
    assert m.recall == pytest.approx(2 / 3, abs=1e-6)
    assert m.f1 == pytest.approx(2 / 3, abs=1e-6)
    assert m.accuracy == pytest.approx(4 / 6, abs=1e-6)
    assert m.balanced_accuracy == pytest.approx(2 / 3, abs=1e-6)


def test_metrics_zero_guards(spark):
    pairs = spark.createDataFrame([(False, False)], "pred boolean, label boolean")
    m = classification_metrics(pairs).collect()[0]
    assert (m.precision, m.recall, m.f1) == (0.0, 0.0, 0.0)


def test_classifier_selection_in_spark(spark):
    turns = synth_transcripts(spark, 400, slices=2)
    pii_only = score_turns(turns, cfg=PipelineConfig(classifiers=("pii",)))
    row = (
        pii_only.agg(
            F.sum(F.col("spam_flagged").cast("long")).alias("spam"),
            F.sum(F.col("tox_flagged").cast("long")).alias("tox"),
            F.sum(F.col("pii_flagged").cast("long")).alias("pii"),
        ).collect()[0]
    )
    assert row.spam == 0 and row.tox == 0 and row.pii > 0


def test_media_features_deterministic(spark):
    media = synth_media(spark, 60)
    feats = extract_media_features(media, dim=8).orderBy("media_id")
    rows = feats.collect()
    assert len(rows) == 60
    assert all(r.n_bytes == 2048 for r in rows)
    videos = [r for r in rows if r.kind == "video"]
    assert videos and all(r.n_frames_sampled >= 1 for r in videos)
    images = [r for r in rows if r.kind == "image"]
    assert images and all(r.n_frames_sampled == 1 for r in images)
    # determinism: same synthesis → same features
    again = extract_media_features(synth_media(spark, 60), dim=8).orderBy("media_id").collect()
    assert [(r.media_id, r.byte_entropy) for r in rows] == [
        (r.media_id, r.byte_entropy) for r in again
    ]


def test_media_real_decode_is_marked(spark):
    media = synth_media(spark, 3)
    feats = extract_media_features(media, decode="real")
    with pytest.raises(Exception, match="NotImplementedError|real decode"):
        feats.collect()


def test_embedding_near_dups_symmetric_exact(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.randn(8).astype("float32")
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 2.0]),        # cosine 1.0 with 0
        (2, [float(x) for x in -base]),             # cosine -1.0 with 0/1
        (3, [float(x) for x in rng.randn(8)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b): r.cosine for r in embedding_near_dups(df, threshold=0.99).collect()}
    assert got == {(0, 1): 1.0}
