"""SparkSession factory with engine defaults (local test / bench profile)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _daemon_module() -> str | None:
    """Enable the preloading worker daemon when it can work.

    ``spark.python.daemon.module`` makes the JVM launch
    ``python -m pdf_to_opensearch_spark.worker_daemon`` for the worker
    daemon, so forked workers inherit the engine's imports (guide §4.3;
    worker_daemon docstring). That requires the package root on the
    daemon's ``PYTHONPATH`` — exported here, which only reaches the JVM
    if the JVM has not launched yet. When a SparkContext already exists
    the conf could not apply anyway (PythonWorkerFactory reads the
    context-creation conf), so return None and keep the stock daemon.
    The same holds once the JVM gateway is up even with no active
    context (a stopped session, or a gateway launched by other code): the
    JVM's environment is fixed, the exported ``PYTHONPATH`` cannot reach
    the daemon it would launch, and every Python job would fail.
    """
    from pyspark import SparkContext

    if os.environ.get("SPARK_GRAFT_DAEMON_PRELOAD", "1") == "0":
        return None
    if (SparkContext._active_spark_context is not None
            or SparkContext._gateway is not None):
        return None
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    return "pdf_to_opensearch_spark.worker_daemon"


def get_spark(app: str = "pdf_to_opensearch_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cores
    daemon = _daemon_module()
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if daemon:
        builder = builder.config("spark.python.daemon.module", daemon)
    spark = builder.getOrCreate()
    from .deploy import ensure_py_files

    ensure_py_files(spark)
    return spark
