"""Standalone vectorized (pandas/Arrow) column functions.

Each wraps one kernel capability as a Series→Series pandas UDF for use
outside the fused pipeline stage (ad-hoc queries, single-purpose jobs).
All pattern state lives in kernel module globals → compiled once per
Python worker.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from localmod_spark.kernel.langid import detect_language_batch
from localmod_spark.kernel.pii import pii_scrub
from localmod_spark.kernel.prefilter import AsciiBatch
from localmod_spark.kernel.quality import quality_flagged, quality_score, quality_stats_batch

PII_SCRUB_TYPE = StructType(
    [
        StructField("scrubbed_text", StringType(), True),
        StructField("n_redactions", IntegerType(), False),
    ]
)


@F.pandas_udf(PII_SCRUB_TYPE)
def pii_scrub_udf(texts: pd.Series) -> pd.DataFrame:
    """Byte-exact PII scrub (`src/localmod/classifiers/pii.py:215-229`)."""
    scrubbed, counts = [], []
    for t in texts:
        if t is None or pd.isna(t):
            scrubbed.append(None)
            counts.append(0)
        else:
            s, hits = pii_scrub(t)
            scrubbed.append(s)
            counts.append(len(hits))
    return pd.DataFrame({"scrubbed_text": scrubbed, "n_redactions": counts})


LANGID_TYPE = StructType(
    [
        StructField("lang", StringType(), False),
        StructField("lang_conf", DoubleType(), False),
    ]
)


@F.pandas_udf(LANGID_TYPE)
def langid_udf(texts: pd.Series) -> pd.DataFrame:
    langs, confs = detect_language_batch(AsciiBatch(texts.fillna("").astype(str).to_numpy()))
    return pd.DataFrame({"lang": langs, "lang_conf": confs})


QUALITY_TYPE = StructType(
    [
        StructField("perplexity", DoubleType(), False),
        StructField("quality_score", DoubleType(), False),
        StructField("quality_flagged", BooleanType(), False),
        StructField("n_tokens", IntegerType(), False),
    ]
)


@F.pandas_udf(QUALITY_TYPE)
def quality_udf(texts: pd.Series) -> pd.DataFrame:
    stats = quality_stats_batch(AsciiBatch(texts.fillna("").astype(str).to_numpy()))
    return pd.DataFrame(
        {
            "perplexity": [st.perplexity for st in stats],
            "quality_score": [quality_score(st) for st in stats],
            "quality_flagged": [bool(quality_flagged(st)) for st in stats],
            "n_tokens": [st.n_tokens for st in stats],
        }
    )


@F.pandas_udf(StringType())
def normalize_text_udf(texts: pd.Series) -> pd.Series:
    """Vectorized canonical normalization (kernel/normalize.py) — the
    dedup-key form: NFC + control strip + space collapse + space trim.
    Null-preserving."""
    from localmod_spark.kernel.normalize import normalize_text

    return texts.map(lambda t: None if t is None else normalize_text(t))
