"""Python worker daemon with the engine's worker-side modules preloaded.

Spark's Python daemon (``pyspark.daemon``) forks one process per task
slot; anything imported in the daemon parent is inherited by every
forked worker via copy-on-write. The stock daemon already imports the
pyspark/pandas stack (``pyspark.worker``), but NOT this package or
``pyarrow.parquet`` — so the first task that unpickles an engine
closure pays the import chain (~60-100 ms measured on this sandbox)
inside whatever region is being timed, at every parallelism level
(guide §4.3: heavyweight init once per process, not per task).

Selected via ``spark.python.daemon.module`` (see ``session.get_spark``),
which requires the package to be importable from the daemon's
``PYTHONPATH`` — the session factory exports it before the JVM launches
and only enables the conf when it could. Import failures of the
preloads must never take the daemon down: they only mean the first
task pays the import again, exactly as without this module.
"""

import importlib
import sys

# deliberately ONLY the deep shared import chains (indexer/query pull
# analyzer, codec, oracle, numpy/pandas plumbing): the daemon's own
# import time is paid when the session's FIRST Python-worker job
# triggers the daemon fork — which in a build-then-query session is
# inside the timed index build — so each module preloaded here must
# save more downstream than it costs there. Leaf task modules
# (ops.dedup, ops.similarity, hybrid, boolquery) import in 5-50 ms
# once these chains are resident and are left to first use.
PRELOAD = ("pyarrow", "pyarrow.parquet",
           "pdf_to_opensearch_spark.indexer",  # analyzer, codec
           "pdf_to_opensearch_spark.query")

for _name in PRELOAD:
    try:
        importlib.import_module(_name)
    except Exception as _exc:  # noqa: BLE001 - preload is best-effort
        # stderr only: the JVM reads the daemon's port from its stdout
        print(f"worker_daemon: preload of {_name} failed: {_exc!r}",
              file=sys.stderr)
        break

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
