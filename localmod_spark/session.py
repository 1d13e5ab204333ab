"""SparkSession factory with scale-appropriate defaults.

Tuned for the moderation pipeline's shape: a scan → narrow pandas-UDF map
→ (optional) conv-level aggregate → write.  The knobs that matter:

  * Arrow enabled + large-ish Arrow batches: the scoring UDF vectorizes
    over thousands of turns per call (the boundary's fixed cost is per
    task, not per batch; see operators/score.py);
  * AQE on (post-shuffle coalescing + skew-join splitting for the
    conversation-context joins);
  * shuffle partitions sized for the local test harness; a real cluster
    run overrides via spark-submit conf (see plans/submit_job.py).

On local masters the Python worker daemon is ``localmod_spark._worker_daemon``
(``spark.python.daemon.module``), with the package's parent directory on
the executors' ``PYTHONPATH`` so the JVM finds it from any cwd.  It runs
Spark's own daemon, but from the installed pyspark's bytecode rather than
``pyspark.zip``'s source when the two have one version: every new
SparkContext's first Python job starts about 1 s sooner (4 vCPU).  Only local
masters get it, since there the driver's interpreter, its pyspark and this
package are the executors' own; a cluster's executors may have none of
them, so they keep Spark's stock daemon.

``ship_package`` makes the package importable on executors whose
workers do not fork from that daemon.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

from localmod_spark import _worker_daemon

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "localmod_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 4096,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.session.timeZone", "UTC")  # oracle-safe timestamps
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master == "local" or master.startswith("local["):
        builder = (
            builder.config("spark.python.daemon.module", _worker_daemon.__name__)
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ship_package(sc: SparkContext, root: str) -> str | None:
    """Zip ``root``/localmod_spark and ``addPyFile`` it, once per
    SparkContext, so executor Python workers can import the package
    whatever their cwd; returns the zip's path.  The zip is built in a
    fresh ``mkdtemp`` dir (mode 0700, removed at exit): a predictable path
    in the shared tmp dir would let another local user plant the code our
    executors import.

    A context that runs this package's worker daemon (a local master
    built by :func:`get_spark`) ships nothing and returns None: its
    workers fork from that daemon, which imported the package from the
    executors' ``PYTHONPATH`` before forking."""
    if sc.getConf().get("spark.python.daemon.module") == _worker_daemon.__name__:
        return None
    shipped = getattr(sc, "_localmod_spark_zip", None)
    if shipped is not None:
        return shipped
    staging = tempfile.mkdtemp(prefix="localmod_spark_pkg_")
    atexit.register(shutil.rmtree, staging, True)
    # a name of its own: Spark refuses a second file under a name it has
    # (say a localmod_spark.zip passed with --py-files) from another path
    zip_path = shutil.make_archive(
        os.path.join(staging, os.path.basename(staging)), "zip",
        root_dir=root, base_dir="localmod_spark",
    )
    sc.addPyFile(zip_path)
    sc._localmod_spark_zip = zip_path
    return zip_path
