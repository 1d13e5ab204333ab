"""Staged training-corpus EXPORT: mix → shuffle → shards.

The last mile of the training-data pipeline: given a cleaned/selected
document table (e.g. ``plans/selection.run_selection`` output), produce
the artifact a trainer actually consumes — weight-mixed to a token
budget (``sampling.mix_corpora``), deterministically shuffled and
interleaved (``operators/shuffle``), written as hive-partitioned shards.

Same ledger discipline as ``plans/selection.py``: each stage writes its
parquet dir first and appends its ledger row last; resume is
PARAMETER-AWARE (the shards stage's params embed the mix stage's, so a
weight change invalidates both while a reshard with a new seed reuses
the staged mix).  Every stage is individually rerun-stable — the mix
order and the shard permutation are pure functions of (id, seed), so a
resumed or re-run export reproduces byte-identical shards.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from typing import List, Mapping, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from localmod_spark.plans.pipeline import _append_ledger_row
from localmod_spark.plans.selection import (
    _ledger_path,
    _stage_path,
    compact_ledger,
    completed_stages,
)

EXPORT_STAGES = ("mixed", "shards")


@dataclass
class ExportResult:
    out_dir: str
    stages_run: List[str]
    stages_skipped: List[str]
    shards: DataFrame
    shard_rows: int  # from the commit count / resume ledger — no rescan


def _export_params(
    weights: Mapping[str, float],
    total_budget: int,
    token_source: str,
    n_shards: int,
    seed: int,
) -> dict:
    mixed = {
        "weights": sorted((str(k), float(v)) for k, v in weights.items()),
        "total_budget": int(total_budget),
        # carries the TOKENIZER IDENTITY, not just its kind: a BPE
        # retrain or a different count column must invalidate the mix
        "token_source": token_source,
    }
    shards = dict(mixed, n_shards=int(n_shards), seed=int(seed))
    return {
        "mixed": json.dumps(mixed, sort_keys=True),
        "shards": json.dumps(shards, sort_keys=True),
    }


def run_export(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    weights: Mapping[str, float],
    total_budget: int,
    n_shards: int,
    seed: int = 0,
    source_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: Optional[str] = None,
    bpe_merges: Optional[Sequence] = None,
    resume: bool = True,
    compact_after: Optional[int] = 64,
) -> ExportResult:
    """Mix *docs* to ``total_budget`` tokens by per-source ``weights``,
    then shuffle-shard the mix into ``n_shards`` hive partitions under
    ``out_dir/shards``.  Token counts come from (in precedence order)
    an existing ``token_col``, real BPE over ``bpe_merges``, or the
    whitespace count.

    Scale shape = the sum of its parts, each already audited: one
    grouped count + broadcast-budget window for the mix, one hash
    exchange + local sort for the shards; the intermediate mix is staged
    to parquet so a reshard (new seed / shard count) never re-runs the
    mix, and a crash resumes from the last committed stage (stage dirs
    are overwritten in place, so every stage write is bracketed by a
    ``running`` ledger marker — a crash mid-overwrite leaves the marker
    newest and the stage recomputes instead of trusting a half-written
    dir against an older matching ``done`` row).

    ``ExportResult.shards`` is a lazy read of ``out_dir/shards`` — it
    reflects whatever a LATER export into the same dir wrote there;
    materialize it (or copy the dir) before re-exporting if you need the
    old artifact."""
    if token_col is not None:
        token_source = f"column:{token_col}"
    elif bpe_merges is not None:
        import hashlib

        from localmod_spark.operators.bpe import merges_json, with_bpe_tokens

        # only the COUNT is consumed downstream — drop the subword array
        # before it would ride two exchanges and two parquet writes
        docs = with_bpe_tokens(docs, bpe_merges, text_col=text_col).drop("bpe_tokens")
        token_col = "n_bpe_tokens"
        # the digest of merges_json's canonical bytes: equal tables,
        # equal key
        merges_key = hashlib.md5(merges_json(bpe_merges).encode()).hexdigest()[:16]
        token_source = f"bpe:{merges_key}"
    else:
        from localmod_spark.operators.textstats import token_count_col

        docs = docs.withColumn("n_tokens", token_count_col(text_col))
        token_col = "n_tokens"
        token_source = "whitespace"
    params = _export_params(weights, total_budget, token_source, n_shards, seed)
    done = (
        completed_stages(spark, out_dir, params, stages=EXPORT_STAGES)
        if resume
        else set()
    )
    stages_run: List[str] = []

    def _ledger(stage: str, status: str, rows: int, started: float) -> None:
        _append_ledger_row(
            spark,
            _ledger_path(out_dir),
            {
                "wave": EXPORT_STAGES.index(stage),
                "stage": stage,
                "status": status,
                "rows": rows,
                "wall_ms": round((time.time() - started) * 1000, 2),
                "params": params[stage],
                "metrics": json.dumps({}, sort_keys=True),
                "finished": time.time(),
            },
        )

    def _commit(stage: str, rows: int, started: float) -> None:
        _ledger(stage, "done", rows, started)
        stages_run.append(stage)

    mixed_path = _stage_path(out_dir, "mixed")
    if "mixed" not in done:
        from localmod_spark.operators.sampling import mix_corpora

        t0 = time.time()
        _ledger("mixed", "running", 0, t0)  # invalidates the dir until done
        mixed = mix_corpora(
            docs, weights, total_budget,
            source_col=source_col, token_col=token_col, id_col=id_col,
        )
        mixed.write.mode("overwrite").parquet(mixed_path)
        _commit("mixed", spark.read.parquet(mixed_path).count(), t0)

    shards_path = _stage_path(out_dir, "shards")
    shard_rows = -1
    if "shards" not in done or "mixed" in stages_run:
        from localmod_spark.operators.shuffle import write_shuffle_shards

        t0 = time.time()
        _ledger("shards", "running", 0, t0)
        staged_mix = spark.read.parquet(mixed_path)
        write_shuffle_shards(staged_mix, shards_path, n_shards, seed, id_col=id_col)
        shard_rows = spark.read.parquet(shards_path).count()
        _commit("shards", shard_rows, t0)
    else:
        # resumed: the row count is already in the latest done ledger row
        from localmod_spark.plans.selection import _read_ledger

        rows = (
            _read_ledger(spark, _ledger_path(out_dir))
            .where((F.col("stage") == "shards") & (F.col("status") == "done"))
            .select("rows", "finished")
            .collect()
        )
        shard_rows = max(rows, key=lambda r: r["finished"] or 0.0)["rows"]

    if compact_after:
        compact_ledger(spark, out_dir, min_parts=compact_after)
    skipped = [s for s in EXPORT_STAGES if s not in stages_run]
    return ExportResult(
        out_dir=out_dir,
        stages_run=stages_run,
        stages_skipped=skipped,
        shards=spark.read.parquet(shards_path),
        shard_rows=int(shard_rows),
    )
