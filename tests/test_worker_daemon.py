"""Worker-daemon preload (round 6): sessions from get_spark fork their
Python workers from a daemon that already imported the engine's
worker-side modules, so the first task of a job does not pay the import
chain inside a timed region (guide §4.3)."""

import os
import subprocess
import sys

import pytest

import pdf_to_opensearch_spark.worker_daemon as wd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_daemon_module_importable_and_delegates():
    # the module must never fail at import (a broken daemon module takes
    # down every Python job of the session) and must expose pyspark's
    # manager as its entry point
    from pyspark.daemon import manager

    assert wd.manager is manager


def test_preload_failure_is_reported_and_daemon_module_still_loads():
    # a failed preload must name the module on stderr (stdout carries the
    # daemon's port to the JVM) and must not stop the module from loading
    code = ("import sys; sys.modules['pdf_to_opensearch_spark.query'] = None;"
            "import pdf_to_opensearch_spark.worker_daemon as wd;"
            "from pyspark.daemon import manager;"
            "assert wd.manager is manager")
    res = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    assert res.stdout == ""
    lines = [ln for ln in res.stderr.splitlines()
             if ln.startswith("worker_daemon:")]
    assert len(lines) == 1, res.stderr
    assert "pdf_to_opensearch_spark.query" in lines[0]


def test_daemon_module_off_once_gateway_is_up(spark, monkeypatch):
    # no active context but a live JVM gateway: the exported PYTHONPATH
    # can no longer reach the JVM, so the stock daemon must be kept
    from pyspark import SparkContext

    from pdf_to_opensearch_spark.session import _daemon_module

    assert SparkContext._gateway is not None
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.delenv("SPARK_GRAFT_DAEMON_PRELOAD", raising=False)
    assert _daemon_module() is None


def test_session_configures_daemon_and_workers_inherit_imports(spark):
    if os.environ.get("SPARK_GRAFT_DAEMON_PRELOAD", "1") == "0":
        pytest.skip("daemon preload switched off by "
                    "SPARK_GRAFT_DAEMON_PRELOAD=0")
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "pdf_to_opensearch_spark.worker_daemon")

    def probe(it):
        import sys as _s
        for pdf in it:
            pdf["ok"] = int(
                "pdf_to_opensearch_spark.indexer" in _s.modules
                and "pyarrow.parquet" in _s.modules)
            yield pdf

    rows = (spark.range(0, 4, 1, numPartitions=4)
            .mapInPandas(probe, schema="id long, ok int").collect())
    assert len(rows) == 4
    assert all(r["ok"] == 1 for r in rows)
