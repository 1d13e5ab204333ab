"""The moderation batch job: scan → score → context → write, resumable.

Contract (north rule):
  * per-turn keep/drop + byte-exact scrubbed text (operators/score.py);
  * conversation context features with explicit skew handling
    (operators/context.py, operators/skew.py);
  * **checkpoint/resume** — work splits into deterministic *waves* (hash
    buckets of conv_id; on a real Iceberg table: partition buckets, so
    each wave scan partition-prunes).  Each wave commits atomically:
    data → ``data/wave=N/``, then a lineage row.  A rerun skips waves the
    ledger marks done; a wave that died mid-write is simply overwritten
    (dynamic partition overwrite of that wave's directory = idempotent);
  * **lineage + metrics side tables** — ``_lineage`` (wave, rows, timing,
    status) and ``_metrics`` (per-wave per-classifier flag counts).

Why waves instead of one action: resume granularity AND bounded failure
blast radius at 10^12 turns — a lost executor costs one wave's work, and
the ledger makes progress observable mid-job.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from localmod_spark.kernel.aggregate import DEFAULT_CONFIG, PipelineConfig
from localmod_spark.operators.context import add_context
from localmod_spark.operators.score import score_turns

WAVE_COL = "wave"

# Open parquet writers per task for ``partition_by_day`` writes (see
# run_pipeline): day cardinality is bounded by the dataset's time span.
MAX_CONCURRENT_OUTPUT_WRITERS = 64


@dataclass
class PipelineResult:
    out_dir: str
    waves_run: List[int]
    waves_skipped: List[int]
    rows_written: int


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _metrics_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_metrics")


def data_path(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for *path* via the JVM Hadoop FS API — the same
    resolution Spark's own writers use, so ledger existence checks and
    atomic renames work on whatever filesystem out_dir lives on (local,
    HDFS, s3a://, abfs://...), not just a local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def save_marked_artifact(
    spark: SparkSession,
    path: str,
    data_df: DataFrame,
    marker_df: DataFrame,
    data_subdir: str = "data",
    marker_subdir: str = "_key",
) -> None:
    """Crash-safe overwrite of a <data, marker> artifact pair, shared by
    the bloom and ANN-truth artifacts.  SAFE when ``data_df``'s plan
    reads the artifact's own current data dir (the load→transform→
    save-in-place lifecycle): the new data is written to a tmp sibling
    first, so Spark's self-overwrite guard never fires and the OLD
    artifact stays fully loadable until the marker delete.  Order:

      1. write new data to a tmp dir (old artifact still valid);
      2. delete the marker — from here the artifact refuses to load;
      3. swap tmp into place (delete old data, same-FS rename);
      4. write the one-row marker LAST.

    Every crash window leaves either the intact old artifact (before 2)
    or one that fails its load/key check (2-4) — never one that loads
    wrong."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs, _ = _hadoop_fs(spark, path)
    data_dir = os.path.join(path, data_subdir)
    tmp_dir = os.path.join(
        path, f"_tmp_{data_subdir}_{os.getpid()}_{int(time.time() * 1000)}"
    )
    data_df.write.mode("overwrite").parquet(tmp_dir)
    fs.delete(jpath(os.path.join(path, marker_subdir)), True)
    fs.delete(jpath(data_dir), True)
    if not fs.rename(jpath(tmp_dir), jpath(data_dir)):
        raise IOError(f"could not move staged artifact {tmp_dir} -> {data_dir}")
    marker_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, marker_subdir)
    )


def completed_waves(spark: SparkSession, out_dir: str, layout: str = "flat") -> set:
    """Waves the ledger marks done WITH a matching output layout.

    ``layout`` is part of the resume key: a wave written flat must not be
    skipped by a ``partition_by_day`` rerun (its directory has no day=
    partitions — a date-ranged consumer would break) and vice versa;
    non-matching waves rerun and their dir overwrite restores a uniform
    layout.  Only the LATEST ledger row per wave counts (max
    ``finished``): the ledger is append-only, so a superseded run's rows
    linger, and matching "any row ever appended" would let a
    flat→day→flat (or rollup on→off) sequence skip waves whose dirs were
    overwritten with the OTHER layout.  Rows from before layout tracking
    have no ``layout`` column (mergeSchema null-fills them) and count as
    "flat".  Missing ledger = fresh run.

    An *unreadable* ledger (corrupt page, partial file) is loudly warned
    about, not silently swallowed — otherwise resume degrades to full
    re-runs forever without anyone noticing.  Ledger rows are written
    tmp-then-rename (:func:`_append_ledger_row`), so a crash mid-write
    never leaves a truncated part in the directory in the first place."""
    path = _lineage_path(out_dir)
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return set()
    try:
        from pyspark.sql import Window

        ledger = spark.read.option("mergeSchema", "true").parquet(path)
        if "layout" not in ledger.columns:
            ledger = ledger.withColumn("layout", F.lit(None).cast("string"))
        w = Window.partitionBy(WAVE_COL).orderBy(
            F.coalesce(F.col("finished"), F.lit(float("-inf"))).desc()
        )
        rows = (
            ledger.withColumn("_rn", F.row_number().over(w))
            .where(
                (F.col("_rn") == 1)
                & (F.col("status") == "done")
                & (F.coalesce(F.col("layout"), F.lit("flat")) == layout)
            )
            .select(WAVE_COL)
            .collect()
        )
        return {r[WAVE_COL] for r in rows}
    except Exception as e:  # noqa: BLE001
        import warnings

        warnings.warn(
            f"lineage ledger at {path} is unreadable ({e!r}); "
            "treating all waves as incomplete — rerun will overwrite",
            stacklevel=2,
        )
        return set()


def with_wave(df: DataFrame, n_waves: int) -> DataFrame:
    """Deterministic wave assignment = hash bucket of conv_id.  On Iceberg
    this column is the table's bucket(conv_id) partition transform, so the
    per-wave filter prunes files instead of rescanning."""
    return df.withColumn(
        WAVE_COL, F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_waves)).cast("int")
    )


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    out_dir: str,
    n_waves: int = 8,
    resume: bool = True,
    cfg: Optional[PipelineConfig] = None,
    context: bool = True,
    max_concurrent_waves: int = 1,
    partition_by_day: bool = False,
    conv_rollup: Optional[dict] = None,
) -> PipelineResult:
    """Score every turn, wave by wave, committing lineage as we go.

    The wave-keyed input is cached (MEMORY_AND_DISK) for the run, so the
    input is scanned once and each wave's filter reads its slice from the
    cache; the cache is released when the run ends, failed or not.

    ``max_concurrent_waves`` > 1 submits that many wave jobs at once from
    driver threads — same per-wave commit/resume semantics, but the
    scheduler can fill task slots one wave alone would leave idle (small
    waves, write stalls).  Keep it modest: each in-flight wave holds its
    own shuffle/write buffers.

    ``partition_by_day=True`` writes the output CONSUMER-shaped: each
    wave's directory is sub-partitioned hive-style by ``day =
    to_date(ts)`` — the Iceberg ``days(ts)`` partition transform's
    filesystem analog, composed with the bucket(conv_id) wave layout.
    Downstream readers filtering a date range then PRUNE day directories
    instead of scanning the whole output (plan-asserted in
    tests/test_plan_quality.py); resume semantics are unchanged because
    the atomic unit is still the wave dir overwrite.

    ``conv_rollup`` (kwargs for `operators/convmod.with_conv_decision`,
    e.g. ``{"max_flag_share": 0.2, "drop_severity": "high"}``) adds the
    conversation-level decision columns (``conv_keep``, ``drop_reason``)
    to every turn.  The rollup runs per wave, which is GLOBALLY correct
    because the wave key is a hash bucket of conv_id — a conversation
    never straddles waves; the grouped decision reuses the wave's own
    conv-keyed exchange.  The rollup changes the output schema, so it is
    part of the resume layout key: waves written without it rerun under
    it (and vice versa) instead of being skipped with the wrong columns.
    """
    cfg = cfg or DEFAULT_CONFIG
    staged = with_wave(turns, n_waves).persist(StorageLevel.MEMORY_AND_DISK)
    _writers_key = "spark.sql.maxConcurrentOutputFileWriters"
    _writers_prev = None
    waves_run: List[int] = []
    total_rows = 0
    try:
        if partition_by_day:
            # dynamic-partition parquet writes default to a per-task SORT
            # on the partition column; under concurrent waves that sort
            # exhausted execution memory at the 2M-turn scale check
            # (SparkOutOfMemoryError: unable to acquire).  Concurrent
            # output writers skip the sort, and the 2M run completes in
            # the flat layout's time.  The conf is session-global, so it
            # is restored in the finally below.
            _writers_prev = spark.conf.get(_writers_key)  # "0" is Spark's default
            spark.conf.set(_writers_key, str(MAX_CONCURRENT_OUTPUT_WRITERS))
        layout = "day" if partition_by_day else "flat"
        if conv_rollup is not None:
            import hashlib
            import json

            # the rollup's PARAMETERS are part of the resume key, not just
            # its presence — resuming with a changed threshold must rerun,
            # not keep waves decided under the old one
            digest = hashlib.md5(
                json.dumps(conv_rollup, sort_keys=True, default=str).encode()
            ).hexdigest()[:8]
            layout += f"+conv:{digest}"
        done = completed_waves(spark, out_dir, layout=layout) if resume else set()
        pending = [w for w in range(n_waves) if w not in done]

        def _run_wave(wave: int) -> int:
            started = time.time()
            # At Iceberg scale this filter is a partition-pruning predicate.
            wave_df = staged.where(F.col(WAVE_COL) == wave)
            scored = score_turns(wave_df, cfg=cfg)
            if context:
                scored = add_context(scored)
            wave_cache = None
            if conv_rollup is not None:
                from localmod_spark.operators.convmod import with_conv_decision

                # the rollup join-back reads the scored subtree twice
                # (aggregate side + probe side); persist so the scoring
                # pass runs once per wave, released after the write
                wave_cache = scored.persist()
                scored = with_conv_decision(wave_cache, **conv_rollup)

            # observe() collects global counters in the same action as the
            # write — no second pass over the data.
            obs = Observation(f"wave_{wave}")
            observed = scored.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("flagged").cast("long")).alias("flagged"),
                F.sum(F.col("pii_flagged").cast("long")).alias("pii"),
                F.sum(F.col("tox_flagged").cast("long")).alias("tox"),
                F.sum(F.col("inj_flagged").cast("long")).alias("inj"),
                F.sum(F.col("spam_flagged").cast("long")).alias("spam"),
                F.sum(F.col("nsfw_flagged").cast("long")).alias("nsfw"),
                F.sum(F.col("redaction_count").cast("long")).alias("redactions"),
            )
            # Plain overwrite of THIS wave's own directory: idempotent on
            # rerun like dynamic partition overwrite, without its staging
            # commit cost.  The hive-style dir name keeps the dataset readable
            # as one wave-partitioned table.
            out_df = observed.drop(WAVE_COL)
            writer = out_df.write.mode("overwrite")
            if partition_by_day:
                out_df = out_df.withColumn("day", F.to_date(F.col("ts")))
                writer = out_df.write.mode("overwrite").partitionBy("day")
            writer.parquet(os.path.join(data_path(out_dir), f"{WAVE_COL}={wave}"))
            if wave_cache is not None:
                wave_cache.unpersist()
            obs_row = obs.get
            rows = int(obs_row.get("rows") or 0)
            finished = time.time()

            def _m(key: str) -> int:
                v = obs_row.get(key)
                return int(v) if v is not None else 0

            # Ledger rows are driver-side metadata (one row per wave) — append
            # them directly with pyarrow instead of launching a Spark job per
            # row.  At production scale this ledger is a catalog/Iceberg table;
            # locally the dirs stay readable by spark.read.parquet.
            _append_ledger_row(
                spark,
                _metrics_path(out_dir),
                {
                    WAVE_COL: wave,
                    "turns": rows,
                    "flagged": _m("flagged"),
                    "pii_flagged": _m("pii"),
                    "tox_flagged": _m("tox"),
                    "inj_flagged": _m("inj"),
                    "spam_flagged": _m("spam"),
                    "nsfw_flagged": _m("nsfw"),
                    "redactions": _m("redactions"),
                    "wall_ms": round((finished - started) * 1000, 2),
                },
            )
            _append_ledger_row(
                spark,
                _lineage_path(out_dir),
                {
                    WAVE_COL: wave,
                    "status": "done",
                    "rows": rows,
                    "started": started,
                    "finished": finished,
                    "layout": layout,
                },
            )
            return rows

        if max_concurrent_waves <= 1:
            for wave in pending:
                total_rows += _run_wave(wave)
                waves_run.append(wave)
        else:
            # Waves are independent Spark jobs (disjoint output dirs,
            # atomic ledger appends), so the driver can submit several at
            # once and let the scheduler fill idle task slots — resume
            # granularity and blast radius are unchanged (each wave still
            # commits individually; a failure mid-fleet leaves the
            # completed waves' ledger rows in place).
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=max_concurrent_waves) as ex:
                for wave, rows in zip(pending, ex.map(_run_wave, pending)):
                    total_rows += rows
                    waves_run.append(wave)
    finally:
        # the persisted wave-keyed input must not outlive the run — a
        # mid-run failure would otherwise pin the whole input in executor
        # storage for the rest of the session
        staged.unpersist()
        if _writers_prev is not None:
            spark.conf.set(_writers_key, _writers_prev)
    return PipelineResult(
        out_dir=out_dir,
        waves_run=waves_run,
        waves_skipped=sorted(done),
        rows_written=total_rows,
    )


def _append_ledger_row(spark: SparkSession, dir_path: str, row: dict) -> None:
    """Append one parquet file containing one ledger row, atomically:
    write the bytes locally, ship them to a dot-prefixed temp name on the
    TARGET filesystem (invisible to Spark's file listing) and rename into
    place — a crash mid-write can never leave a truncated readable part
    that would poison every later ledger read.  All target-side ops go
    through the Hadoop FS API so the ledger works wherever out_dir lives
    (HDFS/S3A/ABFS), not only on the driver's local disk."""
    import tempfile
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, hdir = _hadoop_fs(spark, dir_path)
    fs.mkdirs(hdir)
    name = f"part-{row[WAVE_COL]:05d}-{uuid.uuid4().hex}.parquet"
    jvm = spark._jvm
    tmp_target = jvm.org.apache.hadoop.fs.Path(os.path.join(dir_path, f".{name}.tmp"))
    final = jvm.org.apache.hadoop.fs.Path(os.path.join(dir_path, name))
    with tempfile.TemporaryDirectory() as td:
        local = os.path.join(td, name)
        pq.write_table(pa.Table.from_pylist([row]), local)
        fs.copyFromLocalFile(
            False, True, jvm.org.apache.hadoop.fs.Path("file:" + local), tmp_target
        )
    if not fs.rename(tmp_target, final):
        raise IOError(f"ledger rename failed: {tmp_target} -> {final}")


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(data_path(out_dir))


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_metrics_path(out_dir))
