"""Weighted multi-source mixing (sampling.waterfill_budgets /
mix_corpora): water-filling invariants (fuzzed), the source-exhaustion
refill path, share tolerance and determinism."""

from __future__ import annotations

import os
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from localmod_spark.operators.sampling import (  # noqa: E402
    mix_corpora,
    waterfill_budgets,
)


# ---- pure budget math ----


def test_no_dry_budgets_are_weight_proportional():
    b = waterfill_budgets({"a": 1000, "b": 1000}, {"a": 0.75, "b": 0.25}, 400)
    assert b == {"a": 300.0, "b": 100.0}


def test_dry_source_taken_whole_and_budget_refilled():
    # 'tiny' wants 0.5*1000=500 but has 80 → taken whole; the remaining
    # 920 re-spreads over a/b by THEIR weights (0.3:0.2)
    b = waterfill_budgets(
        {"a": 10_000, "b": 10_000, "tiny": 80},
        {"a": 0.3, "b": 0.2, "tiny": 0.5},
        1000,
    )
    assert b["tiny"] == 80.0
    assert b["a"] == pytest.approx(920 * 0.3 / 0.5)
    assert b["b"] == pytest.approx(920 * 0.2 / 0.5)
    assert sum(b.values()) == pytest.approx(1000)


def test_zero_weight_and_empty_sources_get_nothing():
    b = waterfill_budgets({"a": 100, "b": 100, "c": 0}, {"a": 1.0, "b": 0.0, "c": 5.0}, 50)
    assert b["b"] == 0.0 and b["c"] == 0.0 and b["a"] == 50.0


@settings(max_examples=300, deadline=None)
@given(
    st.dictionaries(
        st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=4),
        st.tuples(
            st.integers(min_value=0, max_value=100_000),  # avail
            # 0 or a sane positive weight (subnormals tested the float
            # stack, not the algorithm; the ratio form handles them too
            # but proportionality products underflow in the ASSERTION)
            st.one_of(st.just(0.0), st.floats(min_value=1e-9, max_value=10.0)),
        ),
        min_size=1,
        max_size=8,
    ),
    st.floats(min_value=0.0, max_value=200_000.0),
)
def test_waterfill_budgets_invariants(table, total):
    avail = {k: v[0] for k, v in table.items()}
    weights = {k: v[1] for k, v in table.items()}
    b = waterfill_budgets(avail, weights, total)
    assert set(b) == set(weights)
    weighted_avail = sum(avail[s] for s, w in weights.items() if w > 0)
    # never over-draw a source; total spend == min(total, weighted stock)
    for s in b:
        assert -1e-9 <= b[s] <= avail.get(s, 0) + 1e-9
        if weights.get(s, 0) <= 0 or avail.get(s, 0) == 0:
            assert b[s] == 0.0
    assert sum(b.values()) == pytest.approx(min(total, weighted_avail), abs=1e-6)
    # unsaturated budgets stay weight-proportional
    unsat = [s for s in b if 0 < b[s] < avail[s] - 1e-9]
    for x in unsat:
        for y in unsat:
            assert b[x] * weights[y] == pytest.approx(b[y] * weights[x], rel=1e-9)


# ---- Spark operator ----


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = []
    for i in range(300):
        src = ("web", "code", "chat")[i % 3]
        rows.append((i, src, 10 + (i * 7) % 30))
    return spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")


def test_shares_within_one_document_of_budget(spark, corpus_df):
    weights = {"web": 0.5, "code": 0.3, "chat": 0.2}
    total = 1500
    sel = mix_corpora(corpus_df, weights, total).collect()
    spent: dict = {}
    for r in sel:
        spent[r["source"]] = spent.get(r["source"], 0) + r["n_tokens"]
    max_doc = 40
    for s, w in weights.items():
        assert spent[s] <= total * w + 1e-9
        assert spent[s] > total * w - max_doc  # prefix stops within one doc
    # cum_tokens is the per-source running sum in the selection order
    per_src_max = {r["source"]: r["cum_tokens"] for r in sel if r["cum_tokens"] == spent[r["source"]]}
    assert set(per_src_max) == set(weights)


def test_source_exhaustion_refills_other_sources(spark, corpus_df):
    """'chat' is weighted far beyond its stock: it must be selected WHOLE
    and the leftover must flow to web/code so the total still lands at
    the budget."""
    chat_stock = sum(
        r["n_tokens"] for r in corpus_df.where(F.col("source") == "chat").collect()
    )
    weights = {"web": 0.05, "code": 0.05, "chat": 0.9}
    total = 4000
    assert total * 0.9 > chat_stock  # the premise: chat runs dry
    sel = mix_corpora(corpus_df, weights, total).collect()
    spent: dict = {}
    for r in sel:
        spent[r["source"]] = spent.get(r["source"], 0) + r["n_tokens"]
    assert spent["chat"] == chat_stock  # taken whole
    assert sum(spent.values()) > total - 40  # refill kept the total on budget


def test_mixing_is_partitioning_invariant(spark, corpus_df):
    weights = {"web": 0.4, "code": 0.4, "chat": 0.2}
    a = {r["doc_id"] for r in mix_corpora(corpus_df.repartition(9), weights, 1200).collect()}
    b = {r["doc_id"] for r in mix_corpora(corpus_df.coalesce(1), weights, 1200).collect()}
    assert a == b and a


def test_unweighted_source_is_excluded(spark, corpus_df):
    sel = mix_corpora(corpus_df, {"web": 1.0}, 800).collect()
    assert {r["source"] for r in sel} == {"web"}
