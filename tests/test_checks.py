"""Deequ-style constraint checks."""

import pytest

from localmod_spark.operators.checks import (
    check_suite,
    completeness_check,
    in_range_check,
    in_set_check,
)


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        (0, "a", "en", 10),
        (1, None, "en", 20),     # incomplete text
        (2, "c", "xx", 500),     # bad lang, out-of-range value
        (3, "d", "de", 30),
        (3, "e", "de", 40),      # duplicate id
    ]
    return spark.createDataFrame(rows, "id long, text string, lang string, v long").persist()


def test_check_suite_exact_values(df):
    checks = [
        completeness_check("text", 1.0),
        in_range_check("v", 1, 100, 0.75),
        in_set_check("lang", ["en", "de"], 0.9),
    ]
    got = {r.check: (r.pass_share, r.min_pass_share, r.passed)
           for r in check_suite(df, checks, unique_col="id").collect()}
    assert got["complete(text)"] == (0.8, 1.0, False)
    assert got["range(v)"] == (0.8, 0.75, True)
    assert got["in_set(lang)"] == (0.8, 0.9, False)
    assert got["unique(id)"] == (0.8, 1.0, False)  # 4 distinct / 5 rows


def test_check_suite_single_aggregation_pass(df):
    """All constraint counts must come from ONE agg (one row before the
    explode) — no per-check scan."""
    checks = [completeness_check("text"), in_range_check("v", 1, 100)]
    plan = check_suite(df, checks)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 4, plan  # partial+final, one agg chain
