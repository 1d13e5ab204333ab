"""Input validation operators (reference F1/F4).

The reference API rejects empty texts (`src/localmod/schemas.py:36-39`)
and texts over ``max_text_length`` = 10,000 chars
(`src/localmod/api/routes.py:77-81`, `src/localmod/config.py:55`).  In a
batch pipeline rejection becomes a *validity column*, so no rows
silently disappear — at 10^12 turns every dropped row must be
accounted for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_TEXT_LENGTH = 10_000  # `src/localmod/config.py:55`


def with_validity(df: DataFrame, text_col: str = "text", max_len: int = MAX_TEXT_LENGTH) -> DataFrame:
    """Append ``valid: boolean`` and ``invalid_reason: string`` columns.

    Pure column expressions — stays in whole-stage codegen; Catalyst can
    push a derived ``length(text) <= max_len`` predicate into the scan
    when the caller filters on ``valid``.
    """
    t = F.col(text_col)
    reason = (
        F.when(t.isNull(), F.lit("null_text"))
        .when(F.trim(t) == "", F.lit("empty_text"))  # `schemas.py:36-39`
        .when(F.length(t) > max_len, F.lit("too_long"))  # `routes.py:77-81`
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("invalid_reason", reason).withColumn(
        "valid", F.col("invalid_reason").isNull()
    )
