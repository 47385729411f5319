"""SparkSession factory with engine defaults (local test / bench profile)."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

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


_LOCAL_FS = "pdf_to_opensearch_spark.jvm.InProcessLocalFileSystem"


def _local_fs_classpath() -> str | None:
    """Class directory of :data:`_LOCAL_FS`, compiled once per source.

    ``jvm/InProcessLocalFileSystem.java`` sets file modes in-process where
    Hadoop's local file system runs a ``chmod`` subprocess per created
    file and directory (its docstring has the numbers). The classes go to
    ``jvm/classes-<source sha1>/`` beside the source, so a checkout
    compiles once (``javac``, about 1 s) and an edited source gets a
    fresh directory. Like the daemon, this only applies to a JVM that has
    not launched yet. Any failure (no ``javac``, no Spark jars, a
    read-only package) returns None and keeps Hadoop's stock class.
    """
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        return None
    jvm_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
    src = os.path.join(jvm_dir, "InProcessLocalFileSystem.java")
    try:
        with open(src, "rb") as f:
            digest = hashlib.sha1(f.read()).hexdigest()[:12]
        out = os.path.join(jvm_dir, f"classes-{digest}")
        if os.path.isdir(out):
            return out
        from pyspark.find_spark_home import _find_spark_home

        javac = shutil.which("javac")
        jars = os.path.join(_find_spark_home(), "jars")
        if javac is None or not os.path.isdir(jars):
            return None
        # the Hadoop API jar alone compiles in ~1 s, all of Spark's in ~2 s
        cp = (glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))
              or [os.path.join(jars, "*")])
        # compile beside the target and rename: concurrent first sessions
        # of one checkout never see a half-written class directory
        tmp = tempfile.mkdtemp(prefix=".classes-", dir=jvm_dir)
        try:
            subprocess.run([javac, "-J-XX:TieredStopAtLevel=1", "-nowarn",
                            "-cp", os.pathsep.join(cp), "-d", tmp, src],
                           check=True, capture_output=True, timeout=300)
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return out
    except (OSError, subprocess.SubprocessError):
        return None


def get_spark(app: str = "pdf_to_opensearch_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cores
    daemon = _daemon_module()
    local_fs = _local_fs_classpath()
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
    if local_fs:
        builder = (builder
                   .config("spark.driver.extraClassPath", local_fs)
                   .config("spark.hadoop.fs.file.impl", _LOCAL_FS))
    spark = builder.getOrCreate()
    from .deploy import ensure_py_files

    ensure_py_files(spark)
    return spark
