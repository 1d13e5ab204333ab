"""Pure-Python decision kernel.

Reimplements (from scratch, function-style, batch-vectorized) the
*decision semantics* of the reference moderation service's deterministic
classifiers, so that the Spark pipeline's keep/drop labels and scrubbed
text match the reference byte-for-byte.  Every constant and branch cites
the reference file:line it reproduces (reference = /root/reference,
KOKOSde/localmod @ 2026-05-01).

The kernel has no Spark dependency: it operates on plain Python strings
and pandas Series so it can serve simultaneously as

  * the inner loop of the pandas/Arrow UDFs on Spark executors, and
  * the oracle in the pytest suite (`python -m pytest -x -q`).
"""

from localmod_spark.kernel.pii import pii_scan, pii_scrub
from localmod_spark.kernel.spam import spam_result
from localmod_spark.kernel.injection import injection_result
from localmod_spark.kernel.nsfw import nsfw_result
from localmod_spark.kernel.toxicity import toxicity_result
from localmod_spark.kernel.aggregate import analyze_text, analyze_frame, PipelineConfig

__all__ = [
    "pii_scan",
    "pii_scrub",
    "spam_result",
    "injection_result",
    "nsfw_result",
    "toxicity_result",
    "analyze_text",
    "analyze_frame",
    "PipelineConfig",
]
