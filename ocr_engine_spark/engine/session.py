"""SparkSession construction with scale-appropriate defaults.

One place for the knobs that matter at 100 TB (AQE, skew-join handling,
Arrow batch sizing for the Python kernels) so tests, bench, and
spark-submit entry points agree. In the sandbox we run local[N]; on a
real cluster the same config applies per-executor, except the worker
settings of ``worker_conf``, which only hold where workers run on the
driver's host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import ocr_engine_spark

# the directory that holds the ocr_engine_spark package
PACKAGE_PARENT = os.path.dirname(os.path.dirname(
    os.path.abspath(ocr_engine_spark.__file__)))


def worker_conf(master: str) -> dict[str, str]:
    """Python-worker settings for ``master``. On a local master the
    workers see this checkout: they import the package (kernels, the
    daemon) from ``PACKAGE_PARENT`` whatever the working directory, and
    run under ``engine/worker_daemon.py`` (``pyspark.daemon`` without its
    per-task zip re-reads and full-heap collects). Elsewhere the package
    reaches executors as ``--py-files``, which land on ``sys.path`` only
    inside each forked worker, too late for a daemon module, so any other
    master keeps the stock daemon and the executors' own ``PYTHONPATH``."""
    if not master.startswith("local"):
        return {}
    return {
        "spark.executorEnv.PYTHONPATH": PACKAGE_PARENT,
        "spark.python.daemon.module": "ocr_engine_spark.engine.worker_daemon",
    }


# Arrow batch size is deliberately LOW (rows are whole web pages,
# multi-KB to multi-MB each; extraction cost varies ~100x per doc;
# SURVEY.md §7.2 kernel-cost-variance note). This row cap is the only
# batch limit set: nothing bounds a batch's bytes, so 256 pages near
# the 50 MB payload cap would overflow a 2 GiB Arrow binary column
# (ROADMAP direction 4)
ARROW_BATCH_ROWS = 256


def build_session(app: str = "ocr-engine-spark", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    cores = os.cpu_count() or 8
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * cores)))
    b = (
        SparkSession.builder.appName(app).master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        # pages rows are fat (binary html) — keep scan splits modest so a
        # partition of payloads fits executor memory at any SF; the
        # extraction planner (extract_job._plan_scan) starts from this
        # launch value and only lowers it for a small local corpus
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, value in worker_conf(master).items():
        b = b.config(key, value)
    return b.getOrCreate()
