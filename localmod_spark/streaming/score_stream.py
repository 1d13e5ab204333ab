"""Streaming ingest: bloom-gated exact dedup over readStream.

The reference is batch-only (its only 'stream' is HTTP arrival,
`src/localmod/api/app.py`).  Here a stream of arriving rows is gated in
front of the corpus: each micro-batch (``foreachBatch``) admits only
keys the corpus Bloom artifact has never seen, verifying the bloom's
"maybe" rows exactly against the admitted dirs, lands them under
``run=<query-id>/batch=<id>`` and extends the artifact
(:func:`ingest_bloom_stream`).  An optional ``transform_fn`` scores the
admitted rows before they land.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ingest_batch_dirs(spark, out_dir: str, exclude: str = None):
    """List the ``run=*/batch=*`` admitted dirs under an ingest out_dir;
    ``exclude`` is one "run=<qid>/batch=<id>" suffix to skip."""
    from localmod_spark.plans.pipeline import _hadoop_fs

    fs, _ = _hadoop_fs(spark, out_dir)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    root = jpath(out_dir)
    if not fs.exists(root):
        return []
    dirs = []
    for run_st in fs.listStatus(root):
        if not (run_st.isDirectory() and run_st.getPath().getName().startswith("run=")):
            continue
        for st in fs.listStatus(run_st.getPath()):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith("batch=")):
                continue
            if exclude and f"{run_st.getPath().getName()}/{name}" == exclude:
                continue
            dirs.append(str(st.getPath()))
    return dirs


def ingest_bloom_stream(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    bloom_dir: str,
    key_col: str = "text",
    num_bits: int = 1 << 23,
    k: int = 5,
    seed: int = 77,
    corpus_dirs=(),
    transform_fn=None,
    available_now: bool = True,
):
    """Bloom-gated exact-dedup ingest: admit only never-seen keys from an
    arriving stream, extending the corpus Bloom artifact as it goes —
    the streaming face of ``operators/bloom.incremental_exact_dedup``.

    Per micro-batch (foreachBatch):

      1. load the artifact (bootstrapped empty on a brand-new path;
         self-healed from the admitted dirs after a crash inside a prior
         save's marker window);
      2. key-distinct the batch and probe the bloom: definitely-new rows
         pass free; if NO row probes "maybe", the verification corpus is
         never even read (the steady-state fast path for novel crawl
         data); otherwise the maybe rows alone pay the exact anti-join
         against the PRIOR admitted batches plus ``corpus_dirs``;
      3. write admitted rows (if any) to
         ``out_dir/run=<query-id>/batch=<id>`` with overwrite — a
         retried batch rewrites the same dir, never appends twice, and
         the run namespace keeps a RESET checkpoint's replayed batch ids
         from colliding with earlier runs' dirs (a collision would both
         overwrite committed data and exclude it from verification);
      4. extend + save the bloom, recording the
         "<query-id>/<batch-id>" idempotency marker.

    Artifact↔corpus binding: the verification corpus must be exactly
    the key set the bloom covers, so the artifact records
    ``bound_out_dir`` on its first save and any later stream pointing it
    at a DIFFERENT out_dir fails fast (a bloom-maybe key verified
    against the wrong corpus would be silently re-admitted).  A
    pre-built artifact (n_keys > 0, unbound) is accepted only with
    ``corpus_dirs`` naming the corpora it was built over; those dirs are
    recorded at binding time and folded into every later verification
    (pass the same dirs on every start — the recorded and passed sets
    are unioned).

    Crash-window audit (availableNow retries re-run the LAST uncommitted
    batch only): die before (3) → nothing durable changed, the retry
    recomputes identically.  Die between (3) and (4) → the bloom lacks
    the batch keys, but the verify corpus EXCLUDES the batch's own dir,
    so the retry recomputes the same admitted set and the overwrite is
    byte-idempotent.  Die between (4) and the checkpoint commit → the
    bloom already holds the keys, every batch key probes "maybe" and the
    exact anti-join (again minus the batch's own dir) re-admits the same
    set; a matching ``last_batch`` marker skips the n_keys re-count (the
    bit OR itself is idempotent, the counter is not) — and because the
    marker carries the checkpoint-scoped query id, a RESET checkpoint
    replaying colliding batch ids re-extends instead of silently
    skipping the save.  Die INSIDE (4)'s marker window (params deleted,
    not yet rewritten) → the next batch rebuilds the filter from the
    prior admitted dirs + ``corpus_dirs`` (the exact covered key set)
    with the stream's own (num_bits, k, seed) and proceeds.

    Long-lived streams accumulate one small dir per micro-batch and the
    maybe-path re-reads them all; compact periodically (stop the stream,
    rewrite ``out_dir/run=*/batch=*`` into one dir, restart with a fresh
    checkpoint and the compacted dir in ``corpus_dirs`` — or size
    triggers so batches are large).  The per-batch stage caches are
    released at the end of each batch (the registry's documented
    between-jobs contract — don't share the session with a concurrent
    job that persists its own stages mid-batch).

    Returns the started StreamingQuery."""
    import json
    import os

    from localmod_spark.cache_registry import register_stage_cache, release_stage_caches
    from localmod_spark.operators.bloom import (
        bloom_maybe_contains,
        build_bloom,
        ensure_bloom,
        extend_bloom,
        save_bloom,
    )

    corpus_dirs = tuple(corpus_dirs)
    _qid = {}

    def _query_id(spark) -> str:
        # the checkpoint's metadata file carries the query id: stable
        # across restarts of the same checkpoint, fresh after a reset
        if "id" not in _qid:
            txt = spark.sparkContext.wholeTextFiles(
                os.path.join(checkpoint_dir, "metadata")
            ).collect()[0][1]
            _qid["id"] = json.loads(txt)["id"]
        return _qid["id"]

    def _prior_batch_dirs(spark, batch_id):
        """All run=*/batch=* dirs EXCEPT the current run's current batch
        (a same-checkpoint retry must not dedup against its own crashed
        write); other runs' dirs are committed corpus, always included."""
        return _ingest_batch_dirs(
            spark, out_dir, exclude=f"run={_query_id(spark)}/batch={batch_id}"
        )

    def _covered_corpus(spark, batch_id, recorded_dirs):
        """Every key the artifact covers, MINUS the current batch's own
        dir (a retry must not dedup against itself)."""
        dirs = _prior_batch_dirs(spark, batch_id) + sorted(
            set(corpus_dirs) | set(recorded_dirs)
        )
        if not dirs:
            return None
        return spark.read.parquet(*dirs).select(key_col)

    def _load_or_heal(spark, batch_id):
        try:
            return ensure_bloom(
                spark, bloom_dir, key_col=key_col, num_bits=num_bits, k=k, seed=seed
            )
        except ValueError:
            # crash inside a prior save's marker window: the artifact dir
            # exists but refuses to load.  Its covered key set is exactly
            # the admitted dirs + corpus_dirs (passed AND previously
            # recorded — the sidecar survives the marker window precisely
            # for this: compacted corpora live only in the record) —
            # rebuild from those with OUR params (a full rebuild is
            # self-consistent under any).
            from localmod_spark.operators.bloom import covered_dirs_sidecar

            sidecar = covered_dirs_sidecar(spark, bloom_dir)
            corpus = _covered_corpus(spark, batch_id, sidecar)
            if corpus is None:
                corpus = spark.createDataFrame([], f"{key_col} string")
            corpus = corpus.dropDuplicates([key_col]).persist()
            n = corpus.count()
            save_bloom(
                build_bloom(corpus, key_col, num_bits=num_bits, k=k, seed=seed),
                bloom_dir,
                num_bits=num_bits,
                k=k,
                seed=seed,
                n_keys=n,
                bound_out_dir=out_dir,
                corpus_dirs=",".join(sorted(set(corpus_dirs) | set(sidecar))) or None,
            )
            corpus.unpersist()
            from localmod_spark.operators.bloom import load_bloom

            return load_bloom(spark, bloom_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bloom, params = _load_or_heal(spark, batch_id)
        nb, kk, sd = params["num_bits"], params["k"], params["seed"]
        bound = params.get("bound_out_dir")
        if bound is not None and bound != out_dir:
            raise ValueError(
                f"bloom artifact {bloom_dir} is bound to admitted corpus "
                f"{bound!r}, not {out_dir!r} — its keys are not covered by "
                "this stream's verification corpus; use the bound out_dir "
                "or a fresh artifact"
            )
        recorded = tuple(d for d in (params.get("corpus_dirs") or "").split(",") if d)
        if (
            bound is None
            and int(params.get("n_keys") or 0) > 0
            and not corpus_dirs
        ):
            raise ValueError(
                f"bloom artifact {bloom_dir} covers {params['n_keys']} keys "
                "but is not bound to an admitted corpus and no corpus_dirs "
                "were given — its covered keys cannot be verified, so seen "
                "keys would be re-admitted; pass corpus_dirs for the corpus "
                "it was built over"
            )
        marker = f"{_query_id(spark)}/{batch_id}"
        batch_keys = batch_df.where(F.col(key_col).isNotNull()).dropDuplicates([key_col])
        flagged = register_stage_cache(
            bloom_maybe_contains(
                batch_keys, bloom, key_col, num_bits=nb, k=kk, seed=sd, out_col="_maybe"
            ).persist()
        )
        if flagged.where(F.col("_maybe")).count() == 0:
            # nothing to verify — the admitted corpus is never read
            admitted = flagged.drop("_maybe")
        else:
            corpus = _covered_corpus(spark, batch_id, recorded)
            verified = flagged.where(F.col("_maybe")).drop("_maybe")
            if corpus is not None:
                verified = verified.join(
                    corpus.distinct(), key_col, "left_anti"
                )
            admitted = flagged.where(~F.col("_maybe")).drop("_maybe").unionByName(verified)
        admitted = admitted.persist()
        try:
            n_admitted = admitted.count()  # materialize BEFORE mutating the bloom
            if n_admitted == 0:
                # nothing admitted: no dir (empty dirs would pollute the
                # corpus listing), no bloom change to record
                return
            landed = admitted
            if transform_fn is not None:
                # gate → score → land: the transform runs on admitted rows
                # only (already deduped), but the landed rows ARE the
                # future verification corpus, so the key column AND every
                # row must survive it — a filtering transform would let
                # filtered keys stay in the bloom yet vanish from the
                # corpus, re-admitting them on redelivery.  Filter
                # downstream of the landed dirs instead (keep/drop is a
                # column, not an existence question).
                # the persist is registered, so the finally's
                # release_stage_caches covers the raise paths below too
                landed = register_stage_cache(transform_fn(admitted).persist())
                if key_col not in landed.columns:
                    raise ValueError(
                        f"transform_fn dropped {key_col!r} — the landed rows "
                        "are the verification corpus and must keep the key"
                    )
                if landed.count() != n_admitted:
                    raise ValueError(
                        "transform_fn changed the row count — it must not "
                        "filter or fan out; the landed rows are the "
                        "verification corpus (emit keep/drop as a column)"
                    )
            landed.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"run={_query_id(spark)}", f"batch={batch_id}")
            )
            if params.get("last_batch") != marker:
                save_bloom(
                    extend_bloom(bloom, admitted, key_col, num_bits=nb, k=kk, seed=sd),
                    bloom_dir,
                    num_bits=nb,
                    k=kk,
                    seed=sd,
                    n_keys=int(params.get("n_keys") or 0) + n_admitted,
                    last_batch=marker,
                    bound_out_dir=out_dir,
                    corpus_dirs=",".join(sorted(set(corpus_dirs) | set(recorded))) or None,
                )
        finally:
            admitted.unpersist()
            release_stage_caches()

    w = (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()

