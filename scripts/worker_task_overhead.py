"""Measure the fixed cost a Python worker pays per task, before its first row.

    python3 scripts/worker_task_overhead.py

Runs on ``local[nproc]``.  After a warm-up job that spawns the workers, one
job of ``TASKS`` single-batch tasks runs a ``mapInPandas`` probe that
imports ``localmod_spark`` (as every localmod UDF does) and reports, from
inside the worker:

* ``first_call_ms_p50`` / ``_p90``: task launch (the status store's
  ``taskList`` launch time) to the probe's first call;
* ``invalidate_caches_ms_p50``: one ``importlib.invalidate_caches()`` call,
  the call PySpark's worker makes at the start of every task;
* ``zip_importers``: the worker's zip importers, counted per archive;
* ``pyspark_origin``: the directory the workers imported pyspark from
  (``.../pyspark.zip/pyspark`` when they compiled it from the zip's source).

Then it stops the SparkContext, starts a new one and times its first probe
job, the warm-up job above: ``cold_first_job_s`` is what a fresh context's
first Python job pays to start the worker daemon and its workers (the JVM
is already up).

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TASKS = 48


def probe(batches):
    import time

    first_call_ms = time.time() * 1000.0
    import importlib
    import zipimport
    from collections import Counter

    import pandas as pd
    import pyspark
    from pyspark import TaskContext

    import localmod_spark  # noqa: F401

    t0 = time.perf_counter()
    importlib.invalidate_caches()
    invalidate_ms = (time.perf_counter() - t0) * 1000.0
    importers = Counter(
        os.path.basename(f.archive)
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    )
    for _ in batches:
        pass
    yield pd.DataFrame({
        "task": [TaskContext.get().taskAttemptId()],
        "first_call_ms": [first_call_ms],
        "invalidate_ms": [invalidate_ms],
        "importers": [json.dumps(dict(sorted(importers.items())))],
        "pyspark": [os.path.dirname(pyspark.__file__)],
    })


def _launch_ms(sc) -> dict:
    """taskId -> launch time (epoch ms) of every task in the status store."""
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    return {
        int(t.taskId()): t.launchTime().getTime()
        for sd in conv.asJava(store.stageList(None, False, False, no_quantiles, None))
        for t in conv.asJava(store.taskList(sd.stageId(), sd.attemptId(), 100_000))
    }


def _session(cores: int):
    import __spark_entry__ as em
    from localmod_spark.session import get_spark

    spark = get_spark(
        app_name="worker_task_overhead",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    em._ship_package(spark)
    return spark


def _run(spark, n_tasks: int):
    schema = "task long, first_call_ms double, invalidate_ms double, importers string, pyspark string"
    df = spark.range(0, n_tasks * 8, numPartitions=n_tasks)
    return df.mapInPandas(probe, schema).collect()


def main() -> int:
    cores = len(os.sched_getaffinity(0))
    spark = _session(cores)
    _run(spark, cores * 3)  # spawn the workers and let each import the package
    rows = _run(spark, TASKS)
    launch = _launch_ms(spark.sparkContext)
    first_call = [r.first_call_ms - launch[r.task] for r in rows]
    last = max(rows, key=lambda r: launch[r.task])
    spark.stop()

    spark = _session(cores)
    t0 = time.perf_counter()
    _run(spark, cores * 3)
    cold_first_job_s = time.perf_counter() - t0
    spark.stop()
    print(json.dumps({
        "cores": cores,
        "tasks": len(rows),
        "python": sys.version.split()[0],
        "first_call_ms_p50": round(statistics.median(first_call), 1),
        "first_call_ms_p90": round(statistics.quantiles(first_call, n=10)[-1], 1),
        "invalidate_caches_ms_p50": round(statistics.median(r.invalidate_ms for r in rows), 2),
        "zip_importers": json.loads(last.importers),
        "pyspark_origin": sorted({r.pyspark for r in rows}),
        "cold_first_job_s": round(cold_first_job_s, 3),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
