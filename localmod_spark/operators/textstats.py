"""SQL-expressible text statistics — pure column expressions, no UDFs.

These are the moderation heuristics whose semantics survive translation
to ANSI SQL / Java regex (unlike the CPython-`re`-bound scrubbers), so
they stay JVM-side inside whole-stage codegen: the caps-ratio spam
heuristic (`src/localmod/classifiers/spam.py:135`), token counting,
stop-word ratio, and length stats for the quality filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small fixed stop-word list shared verbatim with the DuckDB oracle.
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "be", "this", "that", "are",
)


def caps_ratio_col(text: str = "text") -> Column:
    """ASCII-uppercase share: length(regexp_replace(text,'[^A-Z]',''))/length.
    The `[^A-Z]` class behaves identically in Java regex and RE2/DuckDB."""
    t = F.col(text)
    return F.round(
        F.length(F.regexp_replace(t, "[^A-Z]", "")) / F.greatest(F.length(t), F.lit(1)),
        6,
    )


def token_count_col(text: str = "text") -> Column:
    """Whitespace token count; 0 for empty/blank."""
    t = F.trim(F.col(text))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def stopword_ratio_col(text: str = "text") -> Column:
    """Share of whitespace tokens that are stop-words (lowercased)."""
    t = F.trim(F.lower(F.col(text)))
    tokens = F.split(t, r"\s+")
    stops = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda x: F.array_contains(stops, x)))
    return F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
        F.round(n_stop / F.size(tokens), 6)
    )


def doc_stats(documents: DataFrame) -> DataFrame:
    """Per-language corpus stats — a partial-aggregatable groupBy (map-side
    combine keeps the shuffle at one row per (partition, lang))."""
    return (
        documents.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


def doc_text_features(documents: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Per-document SQL-side heuristics (caps ratio, token count, stop-word
    ratio, spam-ish flags) — one projection, zero shuffles, fully
    whole-stage-codegen.  ``keep_cols`` carries source columns through the
    projection (still zero shuffles — cheaper than joining them back)."""
    return documents.select(
        "doc_id",
        *keep_cols,
        caps_ratio_col("text").alias("caps_ratio"),
        token_count_col("text").alias("n_tokens"),
        stopword_ratio_col("text").alias("stopword_ratio"),
        (F.length(F.regexp_replace(F.col("text"), "[^!?]", "")) >= 3).alias("has_punct_burst"),
        F.length("text").alias("n_chars_computed"),
    )


def ccnet_buckets(
    df: DataFrame,
    ppl_col: str = "perplexity",
    group_cols=("lang",),
    bucket_col: str = "ccnet_bucket",
    labels=("head", "middle", "tail"),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """CCNet's head/middle/tail perplexity bands (Wenzek et al. LREC'20
    §4: per-language tercile thresholds over the LM perplexity; "head"
    is the most-fluent third a pretraining mix keeps first).  Appends
    ``bucket_col`` with the band label.

    Thresholds are the per-group 1/3 and 2/3 quantiles, ROUNDED to 4
    decimals so a SQL oracle (quantile_cont — same linear interpolation
    as Spark's ``percentile``) lands on identical boundaries; the
    comparison is ``<=`` on the already-rounded perplexity column.

    Plan shape: ONE grouped quantile pass (|groups| rows), broadcast
    the threshold table back, a comparison projection — no window, no
    per-group sort.  ``exact=True`` uses ``percentile``, whose
    aggregation buffer holds the group's values — fine to ~10^8 rows
    per group; at 10^12 rows pass ``exact=False`` (t-digest
    ``approx_percentile``, partial-aggregatable) or pre-sample: CCNet
    itself derives thresholds from a corpus sample, so approximate
    thresholds ARE the reference behavior at scale.

    The input is consumed twice (thresholds + the bucket join) — if the
    perplexity column comes from a UDF or another expensive projection,
    persist the input first (the registry query does)."""
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {int(accuracy)}"
    th = df.groupBy(*group_cols).agg(
        F.expr(
            # 1.0D: Spark parses a bare 1.0 as DECIMAL; DuckDB's 1.0/3 is
            # already the same IEEE double division
            f"transform({fn}({ppl_col}, array(1.0D/3, 2.0D/3){acc}), x -> round(x, 4))"
        ).alias("_th")
    )
    bucket = (
        F.when(F.col(ppl_col) <= F.col("_th")[0], labels[0])
        .when(F.col(ppl_col) <= F.col("_th")[1], labels[1])
        .otherwise(labels[2])
    )
    return (
        df.join(F.broadcast(th), list(group_cols))
        .withColumn(bucket_col, bucket)
        .drop("_th")
    )
