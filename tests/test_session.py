"""Session factory: the local file system get_spark selects for file://
paths sets file modes in-process instead of starting a ``chmod``
subprocess per created file and directory."""

import os
import shutil
import stat
import subprocess
import sys

import pytest

from pdf_to_opensearch_spark.session import _LOCAL_FS, _local_fs_classpath

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_javac = pytest.mark.skipif(shutil.which("javac") is None,
                                 reason="no javac to compile the local FS")


def _mode(path: str) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


@needs_javac
def test_session_writes_through_in_process_local_fs(spark, tmp_path):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == _LOCAL_FS

    out = str(tmp_path / "t")
    df = spark.range(0, 100, 1, numPartitions=4).selectExpr(
        "id", "cast(id * 7 as string) as s")
    df.write.mode("overwrite").parquet(out)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == \
        sorted(map(tuple, df.collect()))

    # the same modes and checksum files as Hadoop's stock local FS
    umask = os.umask(0)
    os.umask(umask)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 4
    assert all(_mode(os.path.join(out, f)) == 0o666 & ~umask for f in parts)
    assert _mode(out) == 0o777 & ~umask
    assert {f".{f}.crc" for f in parts} <= set(os.listdir(out))

    p = jvm.org.apache.hadoop.fs.Path(os.path.join(out, parts[0]))
    fs.setPermission(p, jvm.org.apache.hadoop.fs.permission.FsPermission(
        jvm.java.lang.Short.valueOf("416")))  # 0o640
    assert _mode(os.path.join(out, parts[0])) == 0o640


def test_local_fs_off_once_gateway_is_up(spark):
    # the JVM's classpath is fixed once it runs: naming a class it cannot
    # load would fail every file:// read and write of the session
    from pyspark import SparkContext

    assert SparkContext._gateway is not None
    assert _local_fs_classpath() is None


_WRITE = """
import sys
sys.path.insert(0, {root!r})
from pdf_to_opensearch_spark.session import get_spark
spark = get_spark("no-chmod", cores=2)
spark.range(0, 1000, 1, numPartitions=4).write.parquet({out!r})
assert spark.read.parquet({out!r}).count() == 1000
spark.stop()
"""


@needs_javac
def test_parquet_write_starts_no_chmod_process(tmp_path):
    # a chmod first on the JVM's PATH logs every call: a fresh session's
    # parquet write (job, task and part-file paths) must not start one
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "chmod.log"
    wrapper = bin_dir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$*" >> {log}\n'
                       f'exec {shutil.which("chmod")} "$@"\n')
    wrapper.chmod(0o755)
    out = str(tmp_path / "out")
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}")
    res = subprocess.run(
        [sys.executable, "-c", _WRITE.format(root=ROOT, out=out)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    calls = log.read_text().splitlines() if log.exists() else []
    assert [c for c in calls if out in c] == []
