"""Benchmark-sweep + token-budget operators (round 4)."""

import pytest
from pyspark.sql import functions as F

from localmod_spark.operators.evaluate import classification_metrics, grouped_metrics
from localmod_spark.operators.sampling import select_token_budget


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        # (dataset, pred, label)
        ("a", True, True), ("a", True, False), ("a", False, True), ("a", False, False),
        ("b", True, True), ("b", True, True), ("b", False, False),
    ]
    return spark.createDataFrame(rows, "ds string, pred boolean, label boolean")


def test_grouped_metrics_match_per_group_global(spark, pairs):
    """Each group's row equals classification_metrics run on that group
    alone — the sweep is a pure reorganization, not a new formula."""
    sweep = {r.ds: r for r in grouped_metrics(pairs, ["ds"]).collect()}
    for ds in ("a", "b"):
        solo = classification_metrics(pairs.where(F.col("ds") == ds)).collect()[0]
        got = sweep[ds]
        for f in ("tp", "fp", "fn", "tn", "precision", "recall", "f1",
                  "accuracy", "balanced_accuracy"):
            assert getattr(got, f) == getattr(solo, f), (ds, f)


def test_grouped_metrics_known_values(spark, pairs):
    a = {r.ds: r for r in grouped_metrics(pairs, ["ds"]).collect()}["a"]
    assert (a.tp, a.fp, a.fn, a.tn) == (1, 1, 1, 1)
    assert a.precision == 0.5 and a.recall == 0.5 and a.f1 == 0.5


def test_token_budget_respects_budget_and_order(spark):
    rows = [
        # (doc_id, lang, n_tokens, q) — q is the quality rank key
        (0, "en", 400, 0.9), (1, "en", 400, 0.8), (2, "en", 400, 0.7),
        (3, "en", 400, 0.6),
        (10, "de", 600, 0.5), (11, "de", 600, 0.4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long, q double")
    out = select_token_budget(
        df, budget=1000, order_by=(F.desc("q"), F.asc("doc_id")), group_cols=("lang",)
    )
    got = {(r.doc_id): r.cum_tokens for r in out.collect()}
    # en: best-quality docs 0,1 fill 800; doc 2 would hit 1200 > budget
    # de: doc 10 fills 600; doc 11 would hit 1200
    assert got == {0: 400, 1: 800, 10: 600}


def test_token_budget_partitioning_invariant(spark):
    rows = [(i, "en", 10 + (i % 7), float((i * 37) % 100) / 100) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long, q double")
    order = (F.desc("q"), F.asc("doc_id"))
    a = {r.doc_id for r in select_token_budget(df.repartition(1), 500, order).collect()}
    b = {r.doc_id for r in select_token_budget(df.repartition(13), 500, order).collect()}
    assert a == b and a


def test_token_budget_scalable_equals_exact(spark):
    """The histogram-pruned variant returns IDENTICAL rows (incl.
    cum_tokens) to the single-window operator — ties and boundary bins
    included."""
    from localmod_spark.operators.sampling import select_token_budget_scalable

    rows = []
    for i in range(500):
        # coarse score grid → many exact ties, several per histogram bin
        rows.append((i, "en" if i % 3 else "de", 10 + (i % 13), ((i * 7) % 20) / 20.0))
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long, q double")
    exact = {
        (r.doc_id, r.cum_tokens)
        for r in select_token_budget(
            df, 700, order_by=(F.desc("q"), F.asc("doc_id")), group_cols=("lang",)
        ).collect()
    }
    scalable = {
        (r.doc_id, r.cum_tokens)
        for r in select_token_budget_scalable(
            df, 700, score_col="q", group_cols=("lang",), id_col="doc_id"
        ).collect()
    }
    assert scalable == exact and exact


def test_token_budget_scalable_prunes_window_input(spark, monkeypatch):
    """The whole point: the exact window runs over a budget-bounded
    pruned set, not the corpus."""
    import localmod_spark.operators.sampling as samp

    rows = [(i, "en", 100, (i % 100) / 100.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long, q double")

    seen = {}
    real = samp.select_token_budget

    def spy(pruned, *a, **kw):
        seen["n"] = pruned.count()
        return real(pruned, *a, **kw)

    monkeypatch.setattr(samp, "select_token_budget", spy)
    out = samp.select_token_budget_scalable(
        df, budget=1000, score_col="q", n_buckets=64
    )
    kept = out.count()
    assert kept == 10  # 1000 tokens / 100 each
    # pruned set = kept prefix + at most the crossing bin's residents
    assert seen["n"] < 2000 * 0.1, seen


def test_token_budget_randomized_differential(spark):
    """Seeded random groups with heavy ties vs a pure-Python walk of the
    same rule — both the exact and the histogram-pruned operator."""
    import random

    from localmod_spark.operators.sampling import select_token_budget_scalable

    rng = random.Random(17)
    rows = []
    for i in range(600):
        rows.append((i, f"g{rng.randrange(6)}", rng.randrange(1, 50), rng.randrange(10) / 10.0))
    budget = 300

    want = set()
    by_group = {}
    for doc_id, g, n_tok, q in rows:
        by_group.setdefault(g, []).append((doc_id, n_tok, q))
    for g, docs_g in by_group.items():
        cum = 0
        for doc_id, n_tok, q in sorted(docs_g, key=lambda r: (-r[2], r[0])):
            cum += n_tok
            if cum > budget:
                break
            want.add((doc_id, cum))

    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long, q double")
    exact = {
        (r.doc_id, r.cum_tokens)
        for r in select_token_budget(
            df, budget, order_by=(F.desc("q"), F.asc("doc_id")), group_cols=("lang",)
        ).collect()
    }
    scal = {
        (r.doc_id, r.cum_tokens)
        for r in select_token_budget_scalable(
            df, budget, score_col="q", group_cols=("lang",), n_buckets=32
        ).collect()
    }
    assert exact == want and scal == want and want
