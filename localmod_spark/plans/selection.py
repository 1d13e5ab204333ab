"""The production corpus-selection job: staged, checkpoint-resumable.

The interactive composition (``__spark_entry__._q_corpus_select``) builds
the whole validity → sketch → band → verify → cluster → select plan in
one session.  At 10^12 documents that is the wrong shape: sketching
dominates the cost, and a failure anywhere loses everything.  This plan
materializes each stage to parquet and commits a lineage row per stage
(same Hadoop-FS atomic tmp-rename ledger as ``plans/pipeline.py``), so

  * a re-run SKIPS completed stages — a crash after the signature stage
    never re-sketches the corpus;
  * each stage's input is a staged table, so its lineage is one scan
    (no UDF recompute across join branches by construction — stronger
    than the in-session ``persist``, which is storage-evictable);
  * downstream experiments (different thresholds, different token
    bands) restart from ``pairs/`` or ``clusters/`` instead of from raw
    text.

Resume is PARAMETER-AWARE: every ledger row records the JSON of the
parameters that stage's output depends on, and ``completed_stages`` only
trusts a stage whose recorded params match the requested run's — so
re-running with ``threshold=0.8`` against an out_dir built at 0.9
recomputes ``pairs/`` (and everything downstream) instead of silently
reusing stale artifacts, while still reusing the expensive ``bands/``
sketch whose params didn't change.

Stages (each a parquet dir under out_dir):
  valid/       validity-gated docs           (doc_id, lang, text)
  bands/       exploded MinHash band table   (doc_id, band_ix, band_hash)
  pairs/       Jaccard-verified dup pairs    (id_a, id_b, jaccard)
  clusters/    connected components          (doc_id, cluster)
  selected/    cluster representatives in the token band
"""

from __future__ import annotations

import json
import os
import time
import warnings
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from localmod_spark.plans.pipeline import _append_ledger_row, _hadoop_fs

STAGES = ("valid", "bands", "pairs", "clusters", "selected")

# A band bucket this wide in an UNCAPPED run means the candidate join is
# about to go quadratic on one bucket — warn loudly (the capped path
# bounds it; see operators/dedup.minhash_candidates).
WIDE_BUCKET_WARN = 10_000


@dataclass
class SelectionResult:
    out_dir: str
    stages_run: List[str]
    stages_skipped: List[str]
    selected: DataFrame


def _stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


def _read_ledger(spark: SparkSession, path: str) -> DataFrame:
    """Ledger rows land one parquet file each, so a dir written across
    schema revisions (pre-tracking rows without params/finished)
    has MIXED footers; without mergeSchema Spark resolves the schema from
    an arbitrary file and resume nondeterministically loses columns.
    mergeSchema unions the footers and null-fills the old rows — the
    callers treat null params/finished as 'predates tracking'."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def _ledger_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def compact_ledger(spark: SparkSession, out_dir: str, min_parts: int = 64) -> int:
    """Idempotent ledger compaction: the append path lands ONE parquet
    file per row, so a long-lived out_dir collects hundreds of tiny files
    whose footers every resume re-lists and re-merges.  When the dir has
    ``min_parts``+ data files, rewrite the snapshot into one
    mergeSchema-unioned file.  Returns the number of files compacted
    (0 = below threshold / no ledger).

    Crash-safe by the same last-write-wins discipline as the appends —
    every intermediate state reads correctly:

      * the compacted file lands via an atomic same-FS rename (written
        to a side dir first, so no truncated part is ever listable);
      * a crash BETWEEN the rename and the snapshot deletes leaves
        duplicate rows — harmless to every ledger consumer (resume takes
        the LATEST row per stage) and converged by the next compaction;
      * rows appended concurrently are not in the snapshot and are
        neither rewritten nor deleted."""
    path = _ledger_path(out_dir)
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return 0
    snapshot = [
        st.getPath()
        for st in fs.listStatus(hpath)
        if st.isFile()
        and st.getPath().getName().endswith(".parquet")
        and not st.getPath().getName().startswith((".", "_"))
    ]
    if len(snapshot) < min_parts:
        return 0
    import uuid

    jvm = spark._jvm
    tmp_dir = f"{path}_compact_{uuid.uuid4().hex}"
    # Spark (not pandas) does the rewrite: mergeSchema's unioned types
    # survive exactly — a pandas round-trip would widen null-filled int
    # columns to float and the next mergeSchema read would refuse to
    # union the mixed footers.
    df = spark.read.option("mergeSchema", "true").parquet(
        *[p.toString() for p in snapshot]
    )
    df.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
    _, htmp = _hadoop_fs(spark, tmp_dir)
    parts = [
        st.getPath()
        for st in fs.listStatus(htmp)
        if st.getPath().getName().startswith("part-")
    ]
    if len(parts) != 1:  # pragma: no cover — coalesce(1) contract
        raise IOError(f"expected 1 compacted part in {tmp_dir}, found {len(parts)}")
    final = jvm.org.apache.hadoop.fs.Path(
        os.path.join(path, f"compact-{uuid.uuid4().hex}.parquet")
    )
    if not fs.rename(parts[0], final):
        raise IOError(f"ledger compaction rename failed: {parts[0]} -> {final}")
    for p in snapshot:
        fs.delete(p, False)
    fs.delete(htmp, True)
    return len(snapshot)


def _stage_params(
    threshold: float,
    num_hashes: int,
    shingle_k: int,
    bands: int,
    rows_per_band: int,
    max_bucket: Optional[int],
    max_len: int,
    token_band: Tuple[int, int],
    cap_mode: str = "drop",
) -> Dict[str, str]:
    """Per-stage JSON of the parameters the stage's OUTPUT depends on —
    the invalidation key for resume.  Downstream-only params don't
    invalidate upstream stages (changing token_band reruns only
    ``selected``; changing threshold reruns ``pairs`` onward but reuses
    the sketch)."""
    valid = {"max_len": max_len}
    bands_p = dict(
        valid, num_hashes=num_hashes, shingle_k=shingle_k, bands=bands,
        rows_per_band=rows_per_band,
    )
    pairs = dict(bands_p, threshold=threshold, max_bucket=max_bucket)
    if cap_mode != "drop":
        # only non-default modes enter the params JSON so ledgers written
        # before cap_mode existed still match default runs (and shard
        # mode yields the same pairs as uncapped, but a mode change still
        # reruns the stage — boundedness provenance belongs in lineage)
        pairs["cap_mode"] = cap_mode
    clusters = dict(pairs)
    selected = dict(clusters, token_band=list(token_band))
    return {
        stage: json.dumps(p, sort_keys=True)
        for stage, p in (
            ("valid", valid), ("bands", bands_p), ("pairs", pairs),
            ("clusters", clusters), ("selected", selected),
        )
    }


def completed_stages(
    spark: SparkSession,
    out_dir: str,
    stage_params: Optional[Dict[str, str]] = None,
    stages: tuple = STAGES,
) -> set:
    """Which of ``stages`` are committed-and-current at *out_dir*.
    Shared by the selection and export plans (``stages`` selects the
    plan's resume vocabulary).  Rows with ``status='running'`` are
    in-progress markers (the export plan writes one before overwriting a
    stage dir in place): a running row NEWER than the last done row means
    the dir may be partially overwritten — the stage is NOT done."""
    path = _ledger_path(out_dir)
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return set()
    try:
        ledger = _read_ledger(spark, path).where(
            F.col("status").isin("done", "running")
        )
        if stage_params is not None:
            if "params" not in ledger.columns:
                warnings.warn(
                    f"ledger at {path} predates parameter tracking; "
                    "recomputing all stages",
                    stacklevel=2,
                )
                return set()
            # only the LATEST row per stage describes what's on disk —
            # a rerun under new params overwrites the stage dir but the
            # superseded ledger rows (old params) remain appended.  Rows
            # from before parameter tracking have NULL params/finished
            # (mergeSchema fills the missing columns): null finished sorts
            # oldest, null params never matches the requested params — so
            # exactly that stage recomputes, nothing else degrades.
            rows = ledger.select("stage", "params", "finished", "status").collect()
            latest: Dict[str, tuple] = {}
            for r in rows:
                if r["stage"] not in stages:
                    continue  # e.g. export's rows — not this plan's stages
                fin = r["finished"] if r["finished"] is not None else 0.0
                if r["stage"] not in latest or fin > latest[r["stage"]][1]:
                    latest[r["stage"]] = (r["params"], fin, r["status"])
            done = {
                s
                for s, (p, _, st) in latest.items()
                if st == "done" and stage_params.get(s) == p
            }
            stale = set(latest) - done
            if stale:
                warnings.warn(
                    f"stages {sorted(stale)} were built with different "
                    "parameters (or interrupted mid-write); recomputing them "
                    "(and their downstream stages)",
                    stacklevel=2,
                )
        else:
            # even without params to match, a 'running' marker NEWER than
            # the last done row means the dir may be mid-overwrite — the
            # no-params branch must honor the same contract
            rows = ledger.select("stage", "finished", "status").collect()
            latest_st: Dict[str, tuple] = {}
            for r in rows:
                if r["stage"] not in stages:
                    continue
                fin = r["finished"] if r["finished"] is not None else 0.0
                if r["stage"] not in latest_st or fin > latest_st[r["stage"]][0]:
                    latest_st[r["stage"]] = (fin, r["status"])
            done = {s for s, (_, st) in latest_st.items() if st == "done"}
    except Exception as e:  # noqa: BLE001
        warnings.warn(f"ledger unreadable ({e!r}); recomputing all stages", stacklevel=2)
        return set()
    # a ledger row without its data dir (manual cleanup, partial copy) must
    # not be trusted — the stage reruns
    return {s for s in done if fs.exists(_hadoop_fs(spark, _stage_path(out_dir, s))[1])}


def run_selection(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    threshold: float = 0.9,
    num_hashes: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: Optional[int] = None,
    max_len: int = 400,
    token_band: Tuple[int, int] = (5, 1000),
    resume: bool = True,
    cap_mode: str = "drop",
) -> SelectionResult:
    """Run (or resume) the staged selection job; returns the selected
    DataFrame read back from its staged parquet.

    Stage semantics match the oracled ``corpus_select`` query exactly
    (equivalence-tested), so the staged job inherits its correctness
    gate.  ``max_bucket`` opts into the giant-bucket cap for the banding
    join (recall trade — see ``operators/dedup.minhash_candidates``);
    when capped, the averted blowup is recorded in the pairs stage's
    ledger row (dropped_buckets / dropped_pairs / max_bucket_width);
    when uncapped, a bucket wider than ``WIDE_BUCKET_WARN`` triggers a
    loud warning (measured on the staged band table — one cheap narrow
    aggregation, only on the run that builds ``pairs``).

    Resume is parameter-aware: a stage is only skipped when its ledger
    row's recorded params match this call's (see :func:`_stage_params`);
    stages built under different params are recomputed, never silently
    reused."""
    from localmod_spark.operators.dedup import (
        candidates_from_bands,
        dup_clusters,
        explode_minhash_bands,
        ngram_jaccard,
        with_minhash,
    )
    from localmod_spark.operators.validate import with_validity

    params = _stage_params(
        threshold, num_hashes, shingle_k, bands, rows_per_band, max_bucket, max_len,
        token_band, cap_mode,
    )
    # invalidation cascades: a stage whose input stage reruns must rerun
    # too, even if its own params row matches (its input data changed)
    done = completed_stages(spark, out_dir, params) if resume else set()
    for i, s in enumerate(STAGES):
        if s not in done:
            done -= set(STAGES[i:])
            break
    run: List[str] = []

    def _commit(stage: str, df: DataFrame, metrics_fn=None) -> DataFrame:
        """Write the stage, then append its ledger row.  ``metrics_fn``
        (called AFTER the write, so observation metrics riding the write
        action are available) supplies the row's metrics dict — one code
        path for every stage, capped or not."""
        path = _stage_path(out_dir, stage)
        t0 = time.time()
        df.write.mode("overwrite").parquet(path)
        staged = spark.read.parquet(path)
        _append_ledger_row(
            spark,
            _ledger_path(out_dir),
            {
                "wave": STAGES.index(stage),
                "stage": stage,
                "status": "done",
                "rows": staged.count(),
                "wall_ms": round((time.time() - t0) * 1000, 2),
                "params": params[stage],
                "metrics": json.dumps(metrics_fn() if metrics_fn else {}, sort_keys=True),
                "finished": time.time(),
            },
        )
        run.append(stage)
        return staged

    def _read(stage: str) -> DataFrame:
        return spark.read.parquet(_stage_path(out_dir, stage))

    if "valid" in done:
        valid = _read("valid")
    else:
        valid = _commit(
            "valid",
            with_validity(docs, max_len=max_len)
            .where(F.col("valid"))
            .select("doc_id", "lang", "text"),
        )

    if "bands" in done:
        band_tbl = _read("bands")
    else:
        sigs = with_minhash(
            valid, num_hashes=num_hashes, shingle_k=shingle_k, shingle_mode="word"
        )
        band_tbl = _commit(
            "bands", explode_minhash_bands(sigs, bands=bands, rows_per_band=rows_per_band)
        )

    if "pairs" in done:
        pairs = _read("pairs")
    else:
        obs = Observation("selection_bucket_cap") if max_bucket is not None else None
        cands = candidates_from_bands(
            band_tbl, max_bucket=max_bucket, observation=obs, cap_mode=cap_mode
        )
        pairs_df = (
            ngram_jaccard(valid, cands, n=shingle_k)
            .where(F.round("jaccard", 4) >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        )
        if max_bucket is not None:

            def _cap_metrics_from_obs() -> dict:
                try:
                    return {k: (int(v) if v is not None else 0) for k, v in obs.get.items()}
                except Exception:  # noqa: BLE001 — AQE empty-relation
                    # propagation can elide the CollectMetrics node when
                    # the pair set is empty; record an empty metrics doc
                    return {}

            pairs = _commit("pairs", pairs_df, metrics_fn=_cap_metrics_from_obs)
        else:
            # uncapped: check the staged band table for quadratic-risk
            # buckets (narrow scan + partial agg — cheap, and only on the
            # run that builds pairs/)
            widest = (
                band_tbl.groupBy("band_ix", "band_hash")
                .agg(F.count(F.lit(1)).alias("_w"))
                .agg(F.max("_w"))
                .first()[0]
            )
            if widest is not None and widest > WIDE_BUCKET_WARN:
                warnings.warn(
                    f"uncapped banding join: widest bucket has {widest} members "
                    f"(> {WIDE_BUCKET_WARN}) — the candidate join is quadratic within "
                    "a bucket; at scale pass max_bucket with cap_mode='shard' "
                    "(bounded task size, zero dropped pairs) or cap_mode='drop' "
                    "(bounded total work, recall loss), and collapse exact duplicates "
                    "upstream (exact_dup_groups)",
                    stacklevel=2,
                )
            pairs = _commit(
                "pairs", pairs_df, metrics_fn=lambda: {"max_bucket_width": int(widest or 0)}
            )

    if "clusters" in done:
        clusters = _read("clusters")
    else:
        clusters = _commit("clusters", dup_clusters(valid, pairs.select("id_a", "id_b")))

    if "selected" in done:
        selected = _read("selected")
    else:
        reps = clusters.where(F.col("doc_id") == F.col("cluster")).select("doc_id")
        n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
        lo, hi = token_band
        selected = _commit(
            "selected",
            valid.join(reps, "doc_id", "left_semi")
            .where((n_tokens >= lo) & (n_tokens <= hi))
            .select("doc_id", "lang", n_tokens.cast("long").alias("n_tokens")),
        )

    return SelectionResult(
        out_dir=out_dir,
        stages_run=run,
        stages_skipped=[s for s in STAGES if s in done],
        selected=selected,
    )
