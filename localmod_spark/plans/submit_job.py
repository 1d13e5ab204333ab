"""spark-submit entry point for the moderation pipeline.

Cluster launch (the north-rule contract):

    zip -r localmod_spark.zip localmod_spark
    spark-submit --py-files localmod_spark.zip \\
        --conf spark.sql.execution.arrow.pyspark.enabled=true \\
        --conf spark.sql.adaptive.enabled=true \\
        localmod_spark/plans/submit_job.py \\
        --input  <iceberg table or parquet path> \\
        --output <output dir> --waves 64 [--no-resume] [--synthetic N]

Local smoke run:

    python localmod_spark/plans/submit_job.py \\
        --synthetic 50000 --output /tmp/mod_out --waves 4
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Running as a plain script (`python .../plans/submit_job.py`) puts the
# script dir on sys.path, not the repo root; under spark-submit --py-files
# the package comes from the shipped zip instead.
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if os.path.isdir(os.path.join(_ROOT, "localmod_spark")) and _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="localmod_spark moderation pipeline")
    p.add_argument(
        "--job", choices=("moderate", "select", "export", "bloom", "ingest"),
        default="moderate",
        help="moderate = wave-resumable scoring; select = staged corpus "
        "selection; export = mix/shuffle/shard; bloom = build or extend "
        "the corpus Bloom dedup artifact; ingest = streaming bloom-gated "
        "dedup admission (drains the --input backlog exactly-once)",
    )
    p.add_argument("--input", help="input transcripts: parquet path or iceberg table name")
    p.add_argument("--output", required=True, help="output directory (data/ _lineage/ _metrics/)")
    p.add_argument("--dedup-threshold", type=float, default=0.9, help="[select] jaccard keep threshold")
    p.add_argument("--max-bucket", type=int, default=None, help="[select] LSH giant-bucket cap (opt-in)")
    p.add_argument(
        "--cap-mode", choices=("drop", "shard"), default="drop",
        help="[select] giant-bucket strategy: drop (bounded, recall loss) or "
        "shard (bounded task size, zero dropped pairs)",
    )
    p.add_argument("--waves", type=int, default=16, help="resume granularity (hash buckets of conv_id)")
    p.add_argument("--no-resume", action="store_true", help="ignore the lineage ledger")
    p.add_argument(
        "--partition-by-day", action="store_true",
        help="[moderate] sub-partition each wave's output by day=to_date(ts) "
        "(the Iceberg days(ts) transform's filesystem analog; date-ranged "
        "readers prune day directories)",
    )
    p.add_argument("--no-context", action="store_true", help="skip conversation-context features")
    p.add_argument("--synthetic", type=int, default=0, help="generate N synthetic turns instead of --input")
    p.add_argument("--classifiers", default=None, help="comma list; default all five")
    p.add_argument(
        "--max-concurrent-waves", type=int, default=1,
        help="submit this many wave jobs at once (scheduler fills idle slots)",
    )
    p.add_argument(
        "--mix-weights", default="en=1.0",
        help="[export] comma list of source=weight (sources = lang values)",
    )
    p.add_argument(
        "--token-col", default=None,
        help="[export] existing token-count column to budget in (e.g. a "
        "precomputed n_bpe_tokens); default: whitespace counts from text",
    )
    p.add_argument(
        "--token-budget", type=int, default=100_000,
        help="[export] total token budget for the mixed corpus",
    )
    p.add_argument("--shards", type=int, default=16, help="[export] output shard count")
    p.add_argument(
        "--shuffle-seed", type=int, default=0,
        help="[export] deterministic shuffle seed (same seed = same shards)",
    )
    p.add_argument(
        "--conv-max-flag-share", type=float, default=None,
        help="[moderate] enable the conversation-level rollup: drop a whole "
        "conversation when its flagged-turn share EXCEEDS this",
    )
    from localmod_spark.kernel.types import SEVERITIES  # pure-python, cheap

    p.add_argument(
        "--conv-drop-severity", default="high", choices=SEVERITIES[1:],
        help="[moderate] rollup severity floor: any turn at/above this "
        "severity drops the conversation (only with --conv-max-flag-share)",
    )
    p.add_argument(
        "--key-col", default="text",
        help="[bloom] column whose values the filter indexes",
    )
    p.add_argument("--bloom-bits", type=int, default=1 << 23, help="[bloom] filter size in bits (power of two)")
    p.add_argument("--bloom-k", type=int, default=5, help="[bloom] hash count")
    p.add_argument("--bloom-seed", type=int, default=77, help="[bloom] hash seed")
    p.add_argument(
        "--extend", action="store_true",
        help="[bloom] fold the input's keys into the EXISTING artifact at "
        "--output (params come from the artifact, CLI bloom params ignored)",
    )
    p.add_argument(
        "--bloom-dir", default=None,
        help="[ingest] bloom artifact dir (default <output>/_bloom)",
    )
    p.add_argument(
        "--checkpoint-dir", default=None,
        help="[ingest] streaming checkpoint (default <output>/_checkpoint; "
        "keep it to resume, reset it only together with a truthful "
        "--corpus-dirs)",
    )
    p.add_argument(
        "--corpus-dirs", default=None,
        help="[ingest] comma list of pre-existing corpora a pre-built "
        "bloom artifact covers (recorded at binding time)",
    )
    p.add_argument(
        "--files-per-batch", type=int, default=None,
        help="[ingest] maxFilesPerTrigger for the backlog drain "
        "(default: whole backlog in one micro-batch)",
    )
    p.add_argument(
        "--score-admitted", action="store_true",
        help="[ingest] run the fused moderation scoring stage on admitted "
        "rows before landing them (gate -> score -> land; the input needs "
        "a text column)",
    )
    p.add_argument(
        "--model-dir", default=None,
        help="local HF checkpoint dir (or LOCALMOD_SPARK_MODEL_DIR): when "
        "torch/transformers and checkpoints are present, the O3/O6 slots run "
        "real batched inference; otherwise pattern-only (reference's own "
        "degradation, toxicity.py:113-118)",
    )
    args = p.parse_args(argv)
    if not args.input and not args.synthetic:
        p.error("one of --input / --synthetic is required")
    if args.job == "ingest" and (not args.input or "/" not in args.input):
        # a catalog table name would pass the batch schema read, then fail
        # late inside readStream.parquet with a confusing path error
        p.error("--job ingest needs --input as a parquet dir/glob PATH "
                "(file streams cannot watch a catalog table)")
    if args.conv_max_flag_share is not None and not (
        0.0 <= args.conv_max_flag_share <= 1.0
    ):
        p.error("--conv-max-flag-share must be in [0, 1]")

    from pyspark.sql import SparkSession

    # Under spark-submit the session/master come from the launcher; the
    # local fallback config only applies when run as a plain script.
    spark = SparkSession.builder.appName("localmod_spark_pipeline").getOrCreate()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    # Executors need the package too when launched without --py-files
    # (plain-script mode); mirrors __spark_entry__._ship_package.  When
    # the script runs from OUTSIDE a repo checkout (the literal
    # `spark-submit --py-files localmod_spark.zip submit_job.py` deploy
    # shape) there is nothing to self-ship — the launcher already
    # distributed the zip to driver and executors.
    if os.path.isdir(os.path.join(_ROOT, "localmod_spark")):
        from localmod_spark.session import ship_package

        ship_package(spark.sparkContext, _ROOT)

    from localmod_spark.kernel.aggregate import config_from_env
    from localmod_spark.plans.pipeline import run_pipeline
    from localmod_spark.sources.transcripts import synth_transcripts

    if args.synthetic:
        turns = synth_transcripts(spark, args.synthetic)
    elif "/" in args.input:
        turns = spark.read.parquet(args.input)
    else:
        turns = spark.read.table(args.input)  # iceberg catalog table

    def _as_documents(df):
        # adapt synthetic transcripts to document shape for smoke runs
        if not args.synthetic:
            return df
        from pyspark.sql import functions as F

        return df.select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.lit("en").alias("lang"),
            "text",
        )

    if args.job == "ingest":
        # streaming bloom-gated dedup admission: drain the input backlog
        # exactly-once into <output>/run=*/batch=* and extend the artifact
        from localmod_spark.operators.bloom import load_bloom
        from localmod_spark.streaming import ingest_bloom_stream

        bloom_dir = args.bloom_dir or os.path.join(args.output, "_bloom")
        ckpt = args.checkpoint_dir or os.path.join(args.output, "_checkpoint")
        corpus_dirs = tuple(
            d.strip() for d in (args.corpus_dirs or "").split(",") if d.strip()
        )
        # schema from the existing backlog files (a stream source needs
        # one; `turns` already read the same path batch-side)
        reader = spark.readStream.schema(turns.schema)
        if args.files_per_batch:
            reader = reader.option("maxFilesPerTrigger", args.files_per_batch)
        transform = None
        if args.score_admitted:
            from localmod_spark.operators.score import score_turns

            transform = score_turns
        q = ingest_bloom_stream(
            reader.parquet(args.input),
            args.output,
            ckpt,
            bloom_dir,
            key_col=args.key_col,
            num_bits=args.bloom_bits,
            k=args.bloom_k,
            seed=args.bloom_seed,
            corpus_dirs=corpus_dirs,
            transform_fn=transform,
            available_now=True,
        )
        q.awaitTermination()
        from pyspark.errors import AnalysisException

        _, params = load_bloom(spark, bloom_dir)
        try:
            n_rows = spark.read.parquet(os.path.join(args.output, "run=*")).count()
        except AnalysisException:  # nothing admitted yet (no run dirs);
            n_rows = 0  # genuine read failures stay loud
        print(
            json.dumps(
                {
                    "admitted_dir": args.output,
                    "bloom_dir": bloom_dir,
                    "admitted_rows": n_rows,
                    "n_keys": params["n_keys"],
                    "num_bits": params["num_bits"],
                    "k": params["k"],
                }
            )
        )
        return 0

    if args.job == "bloom":
        # build (or --extend) the corpus Bloom dedup artifact from the
        # input's key column; prints the post-write health stats
        from pyspark.sql import functions as F

        from localmod_spark.operators.bloom import (
            bloom_stats,
            build_bloom,
            extend_bloom,
            load_bloom,
            save_bloom,
        )

        if args.extend:
            # fail fast on a missing / half-written artifact BEFORE any
            # input scan; the artifact's own params override the CLI ones,
            # and the streaming lifecycle markers (last_batch, binding)
            # must survive a batch extend untouched
            existing, params = load_bloom(spark, args.output)
            num_bits, k, seed = params["num_bits"], params["k"], params["seed"]
        else:
            existing, params = None, {}
            num_bits, k, seed = args.bloom_bits, args.bloom_k, args.bloom_seed
        # persist the projected key column so the bookkeeping count and the
        # build read the input once; n_keys is DISTINCT per batch (the fpr
        # formula wants distinct n) but overlap ACROSS extend batches is
        # unknowable without the corpus the filter replaces, so the
        # cumulative figure is an upper bound on distinct keys
        keys = (
            turns  # raw input: --key-col names any of its columns
            .select(args.key_col)
            .where(F.col(args.key_col).isNotNull())
            .persist()
        )
        n_new = keys.select(F.count_distinct(args.key_col)).first()[0]
        if args.extend:
            bloom = extend_bloom(
                existing, keys, args.key_col, num_bits=num_bits, k=k, seed=seed
            )
            n_keys = int(params.get("n_keys") or 0) + n_new
        else:
            bloom = build_bloom(keys, args.key_col, num_bits=num_bits, k=k, seed=seed)
            n_keys = n_new
        save_bloom(
            bloom, args.output, num_bits=num_bits, k=k, seed=seed, n_keys=n_keys,
            last_batch=params.get("last_batch"),
            bound_out_dir=params.get("bound_out_dir"),
            corpus_dirs=params.get("corpus_dirs"),
        )
        keys.unpersist()
        # re-load through the artifact contract: doubles as a post-write
        # marker/params integrity check (vs. a raw path read)
        words, _ = load_bloom(spark, args.output)
        stats = bloom_stats(words, num_bits, k=k).collect()[0]
        print(
            json.dumps(
                {
                    "artifact": args.output,
                    "extended": bool(args.extend),
                    "n_keys": n_keys,
                    "num_bits": num_bits,
                    "k": k,
                    "fill_ratio": stats["fill_ratio"],
                    "est_fpr": stats["est_fpr"],
                }
            )
        )
        return 0

    if args.job == "export":
        # mix → shuffle → shards: the trainer-facing artifact; input is a
        # DOCUMENT table (doc_id, lang, text); pass --token-col to budget
        # in an existing count column instead of whitespace counts
        from localmod_spark.plans.export import run_export

        weights = {}
        for kv in args.mix_weights.split(","):
            k, _, v = kv.partition("=")
            k, v = k.strip(), v.strip()
            if not k or not v:
                p.error(f"--mix-weights entry {kv!r} is not source=weight")
            try:
                weights[k] = float(v)
            except ValueError:
                p.error(f"--mix-weights weight {v!r} for {k!r} is not a number")
        res = run_export(
            spark, _as_documents(turns), args.output,
            weights=weights,
            total_budget=args.token_budget,
            n_shards=args.shards,
            seed=args.shuffle_seed,
            token_col=args.token_col,
            resume=not args.no_resume,
        )
        print(
            json.dumps(
                {
                    "out_dir": res.out_dir,
                    "stages_run": res.stages_run,
                    "stages_skipped": res.stages_skipped,
                    "shard_rows": res.shard_rows,
                    "n_shards": args.shards,
                }
            )
        )
        return 0

    if args.job == "select":
        # staged corpus selection: the input is a DOCUMENT table
        # (doc_id, lang, text); stages + lineage under --output
        from localmod_spark.plans.selection import run_selection

        docs = _as_documents(turns)
        sel = run_selection(
            spark, docs, args.output,
            threshold=args.dedup_threshold,
            max_bucket=args.max_bucket,
            cap_mode=args.cap_mode,
            resume=not args.no_resume,
        )
        print(
            json.dumps(
                {
                    "out_dir": sel.out_dir,
                    "stages_run": sel.stages_run,
                    "stages_skipped": sel.stages_skipped,
                    "selected_rows": sel.selected.count(),
                }
            )
        )
        return 0

    # thresholds: LOCALMOD_*_THRESHOLD env vars, reference-Settings style
    cfg = config_from_env()
    if args.classifiers:
        cfg = cfg._replace(classifiers=tuple(args.classifiers.split(",")))
    # env-gated real-model slots: load only when libs + local checkpoints
    # exist (never a download); absent → the mocks/pattern-only defaults
    from localmod_spark.models.real_inference import (
        load_real_nsfw_prob_fn,
        load_real_toxicity_batch_fns,
    )

    tox_fns = load_real_toxicity_batch_fns(args.model_dir)
    if tox_fns:
        cfg = cfg._replace(toxicity_model_batch_fns=tox_fns)
    nsfw_fn = load_real_nsfw_prob_fn(args.model_dir)
    if nsfw_fn:
        cfg = cfg._replace(nsfw_prob_fn=nsfw_fn)

    conv_rollup = None
    if args.conv_max_flag_share is not None:
        conv_rollup = {
            "max_flag_share": args.conv_max_flag_share,
            "drop_severity": args.conv_drop_severity,
        }
    res = run_pipeline(
        spark,
        turns,
        args.output,
        n_waves=args.waves,
        resume=not args.no_resume,
        cfg=cfg,
        context=not args.no_context,
        max_concurrent_waves=args.max_concurrent_waves,
        partition_by_day=args.partition_by_day,
        conv_rollup=conv_rollup,
    )
    print(
        json.dumps(
            {
                "out_dir": res.out_dir,
                "waves_run": res.waves_run,
                "waves_skipped": res.waves_skipped,
                "rows_written": res.rows_written,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
