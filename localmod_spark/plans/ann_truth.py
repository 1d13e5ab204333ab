"""Staged exact-kNN ground truth for the ANN recall monitor.

``ann_recall`` is the nightly-monitor shape: join each approximate
method's top-k against the exact :func:`knn_join` truth.  The exact pass
is the expensive part (O(|corpus|·|queries|)) and its INPUT rarely
changes — the query set is a pinned benchmark sample — so the monitor
should pay it once and reuse the staged parquet until the inputs
actually change.

Same ledger discipline as ``plans/selection.py``: the data directory is
written FIRST and the small key file LAST, so a crash between the two
leaves an orphan data dir that is never trusted (missing/mismatching key
→ recompute).  Staleness is detected by a content key — counts +
bit_xor of per-row ``xxhash64(id, vector)`` over both inputs plus ``k``
— an order/partitioning-independent fingerprint computed in one cheap
aggregate per table; any changed/added/dropped row or vector flips it.
"""

from __future__ import annotations

import os
import warnings
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_KEY_SUBDIR = "_truth_key"
_DATA_SUBDIR = "data"


def _fingerprint(df: DataFrame, id_col: str, vec_col: str) -> str:
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col(id_col), F.col(vec_col))).alias("h"),
    ).first()
    return f"{row['n']}:{(row['h'] or 0) & ((1 << 64) - 1):016x}"


def _fmt(n: int, h) -> str:
    return f"{n}:{(h or 0) & ((1 << 64) - 1):016x}"


def truth_key(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Content key — r7: both sides fingerprinted in ONE tagged-union
    aggregate job instead of two (the reuse path runs on every monitor
    call, and per-job driver overhead dominates at bench scale).  The
    per-side (count, bit_xor) pairs — and therefore the key string —
    are identical to the old two-job form."""

    def _tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("_t"),
            F.xxhash64(F.col(id_col), F.col(vec_col)).alias("_h"),
        )

    rows = (
        _tagged(queries, "q")
        .unionByName(_tagged(corpus, "c"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("_h").alias("h"))
        .collect()
    )
    by_tag = {r["_t"]: (r["n"], r["h"]) for r in rows}
    fq = _fmt(*by_tag.get("q", (0, 0)))
    fc = _fmt(*by_tag.get("c", (0, 0)))
    return f"k={k};q={fq};c={fc}"


def _stored_key(spark: SparkSession, truth_dir: str) -> str | None:
    """The staged key, or ``None`` when nothing valid is staged.  A key
    read that fails warns with the key path and the error before it
    counts as not staged."""
    key_dir = os.path.join(truth_dir, _KEY_SUBDIR)
    if os.path.isdir(key_dir):
        # local-filesystem fast path: the key is one tiny parquet row —
        # read it driver-side without launching a Spark job (the Spark
        # read below stays the generic path for HDFS/object-store dirs)
        try:
            import pyarrow.parquet as pq

            parts = [
                f for f in os.listdir(key_dir)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
            if not parts:
                return None
            tbl = pq.read_table(
                [os.path.join(key_dir, f) for f in sorted(parts)], columns=["key"]
            )
            vals = tbl.column("key").to_pylist()
            return vals[0] if vals else None
        except Exception as e:  # noqa: BLE001 — unreadable key = not staged
            _warn_unreadable(key_dir, e)
            return None
    if not urlparse(key_dir).scheme:  # a local path with no key dir: nothing staged
        return None
    try:
        rows = spark.read.parquet(key_dir).collect()
        return rows[0]["key"] if rows else None
    except Exception as e:  # noqa: BLE001 — missing/unreadable key = not staged
        _warn_unreadable(key_dir, e)
        return None


def _warn_unreadable(key_dir: str, err: Exception) -> None:
    warnings.warn(
        f"cannot read the ANN truth key at {key_dir} ({type(err).__name__}: {err}); "
        "treating the truth as not staged",
        stacklevel=3,
    )


def staged_knn_truth(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    truth_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_stale: str = "recompute",
) -> DataFrame:
    """Exact kNN truth (query_id, vec_id), staged: reuse the parquet at
    ``truth_dir`` when its stored key matches the CURRENT inputs,
    otherwise recompute and restage.  ``on_stale="fail"`` turns a
    mismatch into an error instead — the CI posture when a recompute
    mid-monitor would mask a corpus change that should be investigated.

    The reuse path costs two tiny fingerprint aggregates + a narrow
    parquet scan; the key can never validate someone else's table
    because it pins k AND both input contents."""
    if on_stale not in ("recompute", "fail"):
        raise ValueError(f"on_stale must be 'recompute' or 'fail', got {on_stale!r}")
    spark = queries.sparkSession
    key = truth_key(queries, corpus, k, id_col=id_col, vec_col=vec_col)
    data_dir = os.path.join(truth_dir, _DATA_SUBDIR)
    stored = _stored_key(spark, truth_dir)
    if stored == key:
        return spark.read.parquet(data_dir)
    if stored is not None and on_stale == "fail":
        raise ValueError(
            f"staged ANN truth at {truth_dir} is STALE (stored key {stored!r} "
            f"!= current {key!r}); rerun with on_stale='recompute' after "
            "confirming the corpus/query-set change is intentional"
        )
    warnings.warn(
        f"staged ANN truth at {truth_dir}: "
        + ("no valid key found" if stored is None else "stale key")
        + " — recomputing the exact kNN pass",
        stacklevel=2,
    )
    from localmod_spark.operators.similarity import knn_join

    truth = knn_join(queries, corpus, k=k, id_col=id_col, vec_col=vec_col).select(
        "query_id", F.col(id_col).alias("vec_id")
    )
    # |queries|·k rows — a tiny table; one post-compute exchange down to a
    # single writer task replaces 32 near-empty files + their commit round
    # trips (the kNN itself still computes at full parallelism upstream)
    truth = truth.repartition(1)
    # shared crash discipline (tmp-write → old key deleted BEFORE the
    # swap → key row LAST): a crash never leaves old-key + new-data,
    # which a later run whose inputs match the OLD key would silently
    # trust, and never an orphan data dir that is trusted
    from localmod_spark.plans.pipeline import save_marked_artifact

    save_marked_artifact(
        spark,
        truth_dir,
        truth,
        spark.createDataFrame([(key,)], "key string"),
        data_subdir=_DATA_SUBDIR,
        marker_subdir=_KEY_SUBDIR,
    )
    return spark.read.parquet(data_dir)
