"""Fused moderation-scoring stage (struct-returning pandas UDF).

One Arrow roundtrip scores every classifier for a batch of turns — the
Spark translation of the reference pipeline fusing all classifiers per
text (`src/localmod/pipeline.py:106-125`), but batched like the
reference's own optimized paths (`toxicity.py:191-275`, `nsfw.py:145-220`)
instead of per-row.

Scale properties:
  * **narrow** — no shuffle; parallelism = input partitions; at 100 TB this
    stage is embarrassingly parallel across executors;
  * only the text column crosses into Python; the score struct crosses
    back; the rest of the row never round-trips through Arrow — and when
    a downstream plan uses none of the score fields, Catalyst prunes the
    UDF entirely (a mapInPandas stage can't be pruned);
  * Arrow batch size (spark.sql.execution.arrow.maxRecordsPerBatch)
    controls texts-per-Python-call, but the boundary's fixed cost is paid
    per task, not per batch (worker set-up before the first call; see
    ``localmod_spark._zipimport_gate``), so smaller batches do not help:
    on perfbench ``moderate_turns`` at local[4] (4-vCPU box), 512 rows per
    batch was no faster than 4096 (wall 1.46-1.77 s against 1.49-1.56 s);
  * all regex/pattern state compiles once per Python worker at module
    import (kernel module globals), mirroring the reference's
    compile-at-load (`pii.py:62-67`).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from localmod_spark.kernel.aggregate import DEFAULT_CONFIG, PipelineConfig, analyze_frame

REDACTION_TYPE = ArrayType(
    StructType(
        [
            StructField("type", StringType(), False),
            StructField("start", IntegerType(), False),
            StructField("end", IntegerType(), False),
            StructField("replacement", StringType(), False),
        ]
    )
)

# Columns appended by the scoring stage (SURVEY §7.6 output schema).
SCORE_FIELDS = [
    StructField("keep", BooleanType(), False),
    StructField("flagged", BooleanType(), False),
    StructField("severity", StringType(), False),
    StructField("summary", StringType(), False),
    StructField("scrubbed_text", StringType(), True),
    StructField("redactions", REDACTION_TYPE, False),
    StructField("redaction_count", IntegerType(), False),
    StructField("tox_flagged", BooleanType(), False),
    StructField("tox_conf", DoubleType(), False),
    StructField("pii_flagged", BooleanType(), False),
    StructField("pii_conf", DoubleType(), False),
    StructField("inj_flagged", BooleanType(), False),
    StructField("inj_conf", DoubleType(), False),
    StructField("spam_flagged", BooleanType(), False),
    StructField("spam_conf", DoubleType(), False),
    StructField("nsfw_flagged", BooleanType(), False),
    StructField("nsfw_conf", DoubleType(), False),
    StructField("categories", ArrayType(StringType()), False),
    StructField("lang", StringType(), False),
    StructField("lang_conf", DoubleType(), False),
    StructField("perplexity", DoubleType(), False),
    StructField("quality_score", DoubleType(), False),
    StructField("quality_flagged", BooleanType(), False),
    StructField("n_tokens", IntegerType(), False),
    # per-classifier report fields (SafetyReport.results fidelity)
    StructField("tox_severity", StringType(), False),
    StructField("pii_severity", StringType(), False),
    StructField("inj_severity", StringType(), False),
    StructField("spam_severity", StringType(), False),
    StructField("nsfw_severity", StringType(), False),
    StructField("pii_categories", ArrayType(StringType()), False),
    StructField("inj_categories", ArrayType(StringType()), False),
    StructField("spam_categories", ArrayType(StringType()), False),
    # amortized wall ms per turn of this Arrow batch's scoring call — the
    # columnar analog of SafetyReport.processing_time_ms (a per-request
    # wall clock makes no sense when thousands of turns share one call)
    StructField("processing_time_ms", DoubleType(), False),
]


SCORE_STRUCT = StructType(SCORE_FIELDS)


def _score_frame(texts: pd.Series, cfg: PipelineConfig) -> pd.DataFrame:
    import time

    t0 = time.perf_counter()
    scores = analyze_frame(texts, cfg)
    # redactions arrive as list-of-dicts per row; Arrow maps them to the
    # struct array via the declared schema.
    scores["redactions"] = scores["redactions"].map(
        lambda hits: [(h["type"], h["start"], h["end"], h["replacement"]) for h in hits]
    )
    # per-turn amortized scoring wall time for this batch (the reference's
    # SafetyReport.processing_time_ms, measured where the work happens)
    scores["processing_time_ms"] = (time.perf_counter() - t0) * 1000.0 / max(len(texts), 1)
    return scores


def score_turns(
    df: DataFrame,
    text_col: str = "text",
    cfg: Optional[PipelineConfig] = None,
) -> DataFrame:
    """Append all moderation/quality columns to *df* in one fused pass.

    Implemented as a struct-returning Series→DataFrame pandas UDF rather
    than ``mapInPandas``: only the text column crosses into Python and
    only the score struct crosses back — the other input columns
    (conv_id, ts, …) never round-trip through Arrow, which matters when
    rows are wide.  One Python invocation per Arrow batch either way.
    """
    cfg = cfg or DEFAULT_CONFIG

    @F.pandas_udf(SCORE_STRUCT)
    def _score(texts: pd.Series) -> pd.DataFrame:
        return _score_frame(texts, cfg)

    scored = df.withColumn("_score", _score(F.col(text_col)))
    return scored.select(*df.columns, "_score.*")

