"""The three benchmark workloads, untraced (end-to-end metrics) and
traced (per-layer metrics).  See README.md for why each exists and which
end-to-end metric each layer metric should move."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import __spark_entry__ as em
import checks
import inputs
from localmod_spark.cache_registry import release_stage_caches
from localmod_spark.kernel.aggregate import analyze_frame
from localmod_spark.operators.context import add_context
from localmod_spark.operators.score import score_turns
from localmod_spark.plans.pipeline import (
    completed_waves,
    data_path,
    read_metrics,
    read_output,
    run_pipeline,
)
from localmod_spark.session import get_spark
from spans import (
    RssSampler,
    Tracer,
    attribute,
    collect_stages,
    span_report,
    task_skew,
    tree_cpu_s,
)

SETUP_REPS = 3  # set-ups per run; setup_s is their median
MIN_REPS = 2  # timed reps per run, even when --seconds runs out first
MODERATE_TURNS = 6_000
PIPELINE_WAVES = 16
CURATE_DOCS = 5_000
CURATE_QUERIES = ("corpus_select_best", "span_scrub")
ORACLE_DOCS = 48  # corpus_select_best's DuckDB oracle costs ~0.05 s per document
CHECK_CONVS = 20  # seeded conversations checked against the reference kernel
KERNEL_SAMPLE = 1_000



@dataclass
class Run:
    """State of one benchmark invocation."""

    workload: str
    seed: int
    seconds: float
    tracer: Tracer
    scratch: str
    scale: float = 1.0
    cores: int = field(default_factory=lambda: len(os.sched_getaffinity(0)))
    spark: SparkSession = None
    attempted: int = 0
    failed: int = 0
    metrics: Dict[str, float] = field(default_factory=dict)
    record: Dict[str, object] = field(default_factory=dict)

    def size(self, n: int) -> int:
        return max(int(n * self.scale), 50)

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def check(self, name: str, result: dict) -> None:
        self.attempted += 1
        self.failed += 0 if result["ok"] else 1
        self.record.setdefault("checks", {})[name] = result


def _now() -> float:
    return time.perf_counter()


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _force(df: DataFrame, *extra) -> list:
    """Consume every column of ``df`` by aggregate; a bare count(1) would
    let Catalyst prune the scoring UDF."""
    return df.agg(F.count(F.lit(1)), *[F.count(c) for c in df.columns], *extra).collect()[0]


def _fresh(spark: SparkSession) -> None:
    """Between reps: drop the SQL cache and operator stage caches, so no
    rep reads what an earlier one persisted."""
    spark.catalog.clearCache()
    release_stage_caches()


# ----------------------------------------------------------------- session


def _conf(scratch: str) -> dict:
    return {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": scratch,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
    }


def _open_session(run: Run) -> Dict[str, float]:
    """Session start, package ship, and the first Python-worker job: the
    set-up every fresh session pays before its first scored row."""
    t = run.tracer
    with t.span("session.start") as start:
        run.spark = get_spark(
            app_name=f"perfbench-{run.workload}",
            master=f"local[{run.cores}]",
            shuffle_partitions=max(run.cores, 8),
            extra_conf=_conf(run.scratch),
        )
        run.spark.sparkContext.setLogLevel("ERROR")
    t.bind(run.spark.sparkContext)
    with t.span("session.ship") as ship:
        em._ship_package(run.spark)
    with t.span("session.warmup") as warm:
        texts = run.spark.range(0, run.cores * 8, numPartitions=run.cores)
        _noop(score_turns(texts.select(F.format_string("warm-up turn %d", "id").alias("text"))))
    return {"start": start.wall_s, "ship": ship.wall_s, "warmup": warm.wall_s}


def setup(run: Run) -> None:
    """``SETUP_REPS`` set-ups; the last one's session runs the workload.
    The first also launches the JVM; the others stop the SparkContext and
    start a new one, which spawns new Python workers."""
    samples = []
    for k in range(SETUP_REPS):
        if run.spark is not None:
            run.tracer.bind(None)
            run.spark.stop()
        with run.tracer.span("setup"):
            samples.append(_open_session(run))
    total = [s["start"] + s["ship"] + s["warmup"] for s in samples]
    run.record["setup_samples_s"] = total
    run.metrics["setup_s"] = statistics.median(total)
    for part in ("start", "ship", "warmup"):
        run.metrics[f"session.{part}_s"] = statistics.median(s[part] for s in samples)


def shutdown(run: Run) -> None:
    """Stop the session and the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if run.spark is not None:
        run.tracer.bind(None)
        run.spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------------------ timing


def timed_reps(run: Run, rep: Callable[[int], None], between: Callable[[], None]) -> List[float]:
    """Run ``rep`` until ``run.seconds`` have passed (at least MIN_REPS
    times); returns the wall time of each rep that did not raise."""
    walls: List[float] = []
    deadline = _now() + run.seconds
    i = 0
    sampler = RssSampler().start()
    try:
        while i < MIN_REPS or _now() < deadline:
            between()
            run.attempted += 1
            t0 = _now()
            try:
                rep(i)
                walls.append(_now() - t0)
            except Exception as e:  # noqa: BLE001 — a failed rep is counted, not fatal
                run.failed += 1
                run.record.setdefault("rep_errors", []).append(repr(e)[:500])
            i += 1
    finally:
        run.metrics["peak_rss_mb"] = sampler.stop() / 2**20
    run.record["rep_walls_s"] = walls
    run.record["reps"] = i
    return walls


def end_to_end(run: Run, walls: List[float], rows: int) -> None:
    if not walls:
        raise RuntimeError(f"every timed rep failed: {run.record.get('rep_errors')}")
    wall = statistics.median(walls)
    run.metrics["wall_s"] = wall
    run.metrics["rows_per_s"] = rows / wall
    run.record["rows"] = rows


def kernel_1core(run: Run, texts: pd.Series) -> None:
    """analyze_frame on the driver thread, over a seeded sample of the
    workload's own texts."""
    rng = np.random.default_rng([run.seed, 4])
    sample = texts.iloc[rng.permutation(len(texts))[:KERNEL_SAMPLE]].reset_index(drop=True)
    analyze_frame(sample[:100])
    with run.tracer.span("kernel.1core") as s:
        analyze_frame(sample)
    run.metrics["kernel.texts_per_s_1core"] = len(sample) / s.wall_s


def traced_composition(run: Run, compose: Callable[[], None], name: str = "composition") -> None:
    """The workload's timed composition once, in a traced span, with the
    process tree's CPU time (driver, JVM and Python workers) around it."""
    _fresh(run.spark)
    cpu0 = tree_cpu_s(os.getpid())
    with run.tracer.span(name) as s:
        compose()
    run.metrics["host.cpu_util"] = (tree_cpu_s(os.getpid()) - cpu0) / (s.wall_s * run.cores)
    run.record["traced_composition_s"] = s.wall_s


def spark_layer(run: Run, report: Dict[str, dict], span: str) -> None:
    r = report[span]
    for k in ("executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "stages", "tasks", "failed_tasks",
              "driver_gap_s"):
        run.metrics[f"spark.{k}"] = r[k]
    run.metrics["spark.cpu_util"] = r["executor_cpu_s"] / (r["wall_s"] * run.cores)


def finish_trace(run: Run) -> Dict[str, dict]:
    """Attribute stages to spans and build the per-span report.  The
    tracing overhead is the time the tracer spent: job-group calls on
    every span edge plus this status-store read."""
    t0 = _now()
    spans = run.tracer.snapshot()
    attribute(spans, collect_stages(run.spark.sparkContext))
    report = span_report(spans)
    run.tracer.own_s += _now() - t0
    run.metrics["trace.overhead_s"] = run.tracer.own_s
    run.record["spans"] = report
    return {r["name"]: r for r in report}  # latest span of each name wins


def _sample_convs(run: Run, pdf: pd.DataFrame) -> List[str]:
    convs = sorted(c for c in pdf["conv_id"].unique() if c.startswith("conv-"))
    rng = np.random.default_rng([run.seed, 3])
    return ["hot-000"] + [convs[i] for i in sorted(rng.choice(len(convs), min(CHECK_CONVS, len(convs)), replace=False))]


def _stage_turns(run: Run, n: int) -> tuple:
    pdf = inputs.turns(run.seed, n)
    run.record["input"] = inputs.text_stats(pdf["text"])
    path = inputs.stage(pdf, run.path("input", "turns"), files=2 * run.cores)
    return pdf, path


# ------------------------------------------------------------ moderate_turns


def _moderation(spark: SparkSession, path: str) -> DataFrame:
    return add_context(score_turns(spark.read.parquet(path)))


def _passthrough(df: DataFrame) -> DataFrame:
    """A pandas identity UDF over the text column: the floor cost of one
    Arrow round trip, with no kernel work."""

    @F.pandas_udf("string")
    def identity(texts: pd.Series) -> pd.Series:
        return texts

    return df.select(identity(F.col("text")).alias("text"))


def moderate_turns(run: Run) -> None:
    spark = run.spark
    pdf, path = _stage_turns(run, run.size(MODERATE_TURNS))
    compose = lambda: _noop(_moderation(spark, path))  # noqa: E731
    compose()  # untimed: compiles the plan and warms the JIT before the timed reps

    if run.tracer.enabled:
        t = run.tracer
        kernel_1core(run, pdf["text"])
        with t.span("sources.scan") as s:
            _noop(spark.read.parquet(path))
        run.metrics["sources.scan_s"] = s.wall_s
        with t.span("score") as s:
            busy_ms = _force(score_turns(spark.read.parquet(path)), F.sum("processing_time_ms"))[-1]
        run.metrics["score.wall_s"] = s.wall_s
        run.metrics["kernel.udf_busy_s"] = busy_ms / 1e3
        with t.span("score.passthrough") as s:
            _noop(_passthrough(spark.read.parquet(path)))
        run.metrics["score.passthrough_s"] = s.wall_s
        with t.span("context.persist"):
            scored = score_turns(spark.read.parquet(path)).persist(StorageLevel.MEMORY_AND_DISK)
            scored.count()
        with t.span("context") as s:
            _noop(add_context(scored))
        run.metrics["context.wall_s"] = s.wall_s
        scored.unpersist()
        with t.span("driver.plan") as s:
            _moderation(spark, path)._jdf.queryExecution().executedPlan()
        run.metrics["driver.plan_s"] = s.wall_s
        traced_composition(run, compose)
        pipeline_layer(run, pdf, path)
        report = finish_trace(run)
        run.metrics["score.boundary_s"] = report["score"]["executor_run_s"] - busy_ms / 1e3
        ctx = report["context"]
        run.metrics["context.shuffle_write_bytes"] = ctx["shuffle_write_bytes"]
        run.metrics["context.spill_bytes"] = ctx["spill_bytes"]
        heaviest = max(t.find("context").stages, key=lambda st: st["executor_run_s"])
        run.metrics["context.task_skew"] = task_skew(spark.sparkContext, heaviest)
        spark_layer(run, report, "composition")
    else:
        walls = timed_reps(run, lambda i: compose(), lambda: _fresh(spark))
        end_to_end(run, walls, len(pdf))

    sample = _sample_convs(run, pdf)
    out = (
        _moderation(spark, path).where(F.col("conv_id").isin(sample))
        .select("conv_id", "turn_idx", "text", "keep", "scrubbed_text", "turn_rank", "n_turns")
        .toPandas()
    )
    run.check("keep_scrub", checks.moderation(out))
    run.check("context", checks.context(out, pdf[pdf["conv_id"].isin(sample)]))


def _dir_bytes(path: str) -> tuple:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    return sum(os.path.getsize(f) for f in files), len(files)


def pipeline_layer(run: Run, pdf: pd.DataFrame, path: str) -> None:
    """The moderation job in its production shape, traced: run_pipeline
    over a quarter of the staged turns in PIPELINE_WAVES waves, at most
    nproc at once, with parquet output and the ledger; then a resume
    rerun over the committed ledger, and the output read back."""
    spark, t = run.spark, run.tracer
    files = sorted(os.path.join(path, f) for f in os.listdir(path))[: max(len(os.listdir(path)) // 4, 1)]
    n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    out = run.path("out", "pipeline")

    def go():
        return run_pipeline(spark, spark.read.parquet(*files), out, n_waves=PIPELINE_WAVES,
                            max_concurrent_waves=run.cores)

    _fresh(spark)
    with t.span("pipeline"):
        go()
    walls = read_metrics(spark, out).select("wall_ms").toPandas()["wall_ms"]
    run.metrics["pipeline.wave_ms_p50"] = float(walls.median())
    run.metrics["pipeline.wave_ms_max"] = float(walls.max())
    with t.span("pipeline.ledger_read") as s:
        done = completed_waves(spark, out)
    run.metrics["pipeline.ledger_read_s"] = s.wall_s
    run.metrics["pipeline.write_bytes"], run.metrics["pipeline.files_written"] = _dir_bytes(data_path(out))
    with t.span("pipeline.resume") as s:
        resumed = go()
    run.metrics["pipeline.resume_s"] = s.wall_s

    written = read_output(spark, out)
    n_out = written.count()
    turns_total = read_metrics(spark, out).agg(F.sum("turns")).collect()[0][0]
    run.check("pipeline_readback", {
        "rows": n_out, "input_rows": n_rows, "metrics_turns": turns_total, "done_waves": len(done),
        "resume_skipped": len(resumed.waves_skipped),
        "ok": n_out == n_rows == turns_total and done == set(range(PIPELINE_WAVES))
        and not resumed.waves_run,
    })
    sample = _sample_convs(run, pdf.iloc[:n_rows])
    rows = written.where(F.col("conv_id").isin(sample)).select("text", "keep", "scrubbed_text").toPandas()
    run.check("pipeline_keep_scrub", checks.moderation(rows))


# --------------------------------------------------------------- curate_docs


def _oracle_digests(docs_dir: str, names, cores: int) -> Dict[str, dict]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={cores}")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')")
        oracle = em.oracle_sql()
        return {n: checks.digest(con.execute(oracle[n]).fetchdf()) for n in names}
    finally:
        con.close()


def curate_docs(run: Run) -> None:
    spark = run.spark
    q = em.queries()
    docs = inputs.documents(run.seed, run.size(CURATE_DOCS))
    run.record["input"] = inputs.text_stats(docs["text"])
    sf, small = run.path("input", "sf"), run.path("input", "oracle_sf")
    inputs.stage(docs, os.path.join(sf, "documents.parquet"), files=2 * run.cores)
    # corpus_select_best's oracle is too slow for the full input, so both
    # queries are also checked on a small seeded set dense in near duplicates
    inputs.stage(inputs.documents(run.seed, ORACLE_DOCS, near_dup_share=0.4),
                 os.path.join(small, "documents.parquet"), files=1)

    def compose(sf_dir: str) -> Dict[str, object]:
        out = {}
        for name in CURATE_QUERIES:
            out[name] = q[name](spark, sf_dir).toArrow()
            _fresh(spark)
        return out

    small_out = compose(small)  # untimed: also compiles every plan before the timed reps
    results: List[Dict[str, object]] = []

    if run.tracer.enabled:
        t = run.tracer
        kernel_1core(run, docs["text"])
        with t.span("sources.scan") as s:
            _noop(spark.read.parquet(os.path.join(sf, "documents.parquet")))
        run.metrics["sources.scan_s"] = s.wall_s
        with t.span("driver.plan") as s:
            for name in CURATE_QUERIES:
                q[name](spark, sf)._jdf.queryExecution().executedPlan()
        run.metrics["driver.plan_s"] = s.wall_s
        for name in CURATE_QUERIES:
            _fresh(spark)
            with t.span(f"dedup.{name}") as s:
                results.append({name: q[name](spark, sf).toArrow()})
            run.metrics[f"dedup.{name}_s"] = s.wall_s
        traced_composition(run, lambda: results.append(compose(sf)))
        report = finish_trace(run)
        for name in CURATE_QUERIES:
            run.metrics[f"dedup.{name}.shuffle_write_bytes"] = report[f"dedup.{name}"]["shuffle_write_bytes"]
            run.metrics[f"dedup.{name}.spill_bytes"] = report[f"dedup.{name}"]["spill_bytes"]
        spark_layer(run, report, "composition")
    else:
        walls = timed_reps(run, lambda i: results.append(compose(sf)), lambda: _fresh(spark))
        end_to_end(run, walls, len(docs))

    # every run of a query gives the same rows, and they equal the DuckDB
    # oracle's wherever the oracle is affordable
    want = _oracle_digests(os.path.join(sf, "documents.parquet"), ["span_scrub"], run.cores)
    want_small = _oracle_digests(os.path.join(small, "documents.parquet"), CURATE_QUERIES, run.cores)
    for name in CURATE_QUERIES:
        ds = [checks.digest(r[name].to_pandas()) for r in results if name in r]
        ok = bool(ds) and all(d == ds[0] for d in ds) and (name not in want or ds[0] == want[name])
        run.check(f"{name}_rows", {"digest": ds[0] if ds else None, "oracle": want.get(name),
                                   "runs": len(ds), "ok": ok})
        mine = checks.digest(small_out[name].to_pandas())
        run.check(f"{name}_small_oracle", {"digest": mine, "oracle": want_small[name],
                                           "ok": mine == want_small[name]})


WORKLOADS = {
    "moderate_turns": moderate_turns,
    "curate_docs": curate_docs,
}
