"""localmod_spark — a from-scratch PySpark-native moderation & quality-filter
engine with the decision semantics of KOKOSde/localmod.

Layout:
    kernel/     pure-Python decision kernel (vectorized over pandas batches);
                the single source of truth for keep/drop + scrub semantics,
                used both as the pytest oracle and inside the Spark UDFs.
    sources/    table readers + deterministic synthetic transcript generator.
    operators/  Spark DataFrame stages: fused scoring, conversation context,
                skew handling, dedup, similarity search, text stats.
    functions/  column-expression helpers (pure pyspark.sql.functions).
    plans/      end-to-end batch jobs: checkpoint/resume, lineage, metrics.
    streaming/  bloom-gated exact-dedup ingest over structured streaming.
"""

__version__ = "0.1.0"

from localmod_spark import _zipimport_gate

_zipimport_gate.install()
