"""One I/O path for every index table: a pyarrow filesystem per path.

Every table path is resolved ONCE, on the driver, by :func:`resolve` into
a ``(pyarrow.fs.FileSystem, path)`` pair; every pyarrow read, write,
list, delete and rename of index tables then goes through that
filesystem object, which pickles and rides in task closures. Local disk,
HDFS, S3, GCS and Azure are all built into pyarrow, so the same code
serves each of them — there is no local-only fast path and no JVM
fallback beside it. Spark reads and writes keep the original path
string, which Spark resolves against the same ``fs.defaultFS``.
"""

from __future__ import annotations

import pandas as pd


def qualify(path: str, default_fs: str) -> str:
    """Hadoop-style qualification of ``path``: a scheme-less path is
    resolved against ``default_fs`` (Spark's ``fs.defaultFS``). Local
    paths come back as plain absolute paths (``file:/p`` and
    ``file:///p`` included) — pyarrow takes those as-is, while a
    ``file:`` URI would have to be percent-encoded."""
    import os

    if ":" not in path.split("/", 1)[0]:  # no scheme before the first /
        if default_fs.startswith("file:"):
            return os.path.abspath(path)
        return default_fs.rstrip("/") + "/" + path.lstrip("/")
    if path.startswith("file:"):
        return "/" + path[len("file:"):].lstrip("/")
    return path


def resolve(spark, path: str):
    """``path`` → ``(pyarrow.fs.FileSystem, path within it)``, qualified
    the way Spark's executors qualify it."""
    from pyarrow import fs as pafs

    default_fs = (spark.sparkContext._jsc.hadoopConfiguration()
                  .get("fs.defaultFS", "file:///"))
    return pafs.FileSystem.from_uri(qualify(path, default_fs))


def list_files(fs, path: str) -> list:
    """A table's data files (``FileInfo``s sorted by path): the regular
    files directly under ``path``, skipping ``_``/``.``-prefixed names
    (commit markers, checksums, side dirs). A missing dir has none."""
    from pyarrow import fs as pafs

    infos = fs.get_file_info(pafs.FileSelector(path, allow_not_found=True))
    return sorted((i for i in infos if i.type == pafs.FileType.File
                   and not i.base_name.startswith(("_", "."))),
                  key=lambda i: i.path)


def exists(fs, path: str) -> bool:
    from pyarrow import fs as pafs

    return fs.get_file_info(path).type != pafs.FileType.NotFound


def delete_dir(fs, path: str) -> None:
    """Remove ``path`` and everything under it, if present."""
    if exists(fs, path):
        fs.delete_dir(path)


def replace_dir(fs, staging: str, path: str) -> None:
    """Commit a fully written ``staging`` dir as ``path`` (delete, then
    rename — atomic per rename on local disk and HDFS)."""
    delete_dir(fs, path)
    fs.move(staging, path)


def lpt_bins(infos: list, n_bins: int) -> list[list[str]]:
    """Pack files into ``n_bins`` task bins, largest first (LPT,
    ≤4/3·OPT imbalance on ``FileInfo.size``); returns each bin's paths,
    heaviest bin first."""
    bins: list[list[str]] = [[] for _ in range(n_bins)]
    loads = [0] * n_bins
    for f in sorted(infos, key=lambda i: i.size, reverse=True):
        i = loads.index(min(loads))
        bins[i].append(f.path)
        loads[i] += f.size
    return [bins[i] for i in sorted(range(n_bins), key=lambda i: -loads[i])]


def read_small_table(spark, path: str, **kwargs) -> pd.DataFrame:
    """Driver-side read of a small table (stats, docs_meta, dictionary):
    one pyarrow read, no Spark job. ``kwargs`` go to
    ``pyarrow.parquet.read_table`` (``columns``, ``filters``)."""
    import pyarrow.parquet as pq

    fs, p = resolve(spark, path)
    files = [i.path for i in list_files(fs, p)]
    if not files:
        raise FileNotFoundError(f"no parquet data files under {path!r}")
    return pq.read_table(files, filesystem=fs, **kwargs).to_pandas()


def spark_read(spark, path: str, arrow_schema=None):
    """``spark.read.parquet(path)`` with the schema declared, so Spark
    starts no schema-inference job before reading: ``arrow_schema`` when
    the caller knows it, else the Arrow schema of the table's first data
    file's footer, converted as Spark converts it. A dir without data
    files reads as before."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if arrow_schema is None:
        fs, p = resolve(spark, path)
        files = list_files(fs, p)
        if not files:
            return spark.read.parquet(path)
        arrow_schema = pq.read_schema(files[0].path, filesystem=fs)
    return spark.read.schema(from_arrow_schema(arrow_schema)).parquet(path)


def write_small_table(spark, pdf: pd.DataFrame, path: str) -> None:
    """Overwrite a tiny driver-side table (one file): a full Spark job for
    a 1-row parquet is pure scheduling overhead (~0.3 s) that shows up
    as SERIAL epilogue in the build's scaling profile. Written to a
    staging dir first, then committed with :func:`replace_dir`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, p = resolve(spark, path)
    staging = p + ".staging_small"
    delete_dir(fs, staging)
    fs.create_dir(staging)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   f"{staging}/part-00000.parquet", filesystem=fs)
    replace_dir(fs, staging, p)
