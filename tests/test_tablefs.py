"""The one I/O path (tablefs.py): path resolution, every index table
routed through the resolved pyarrow filesystem, and a source guard that
keeps os/glob/shutil file access out of the index-table modules."""

import ast
import os

import numpy as np
import pandas as pd

from pdf_to_opensearch_spark import tablefs
from pdf_to_opensearch_spark.oracle import BruteForceBM25
from pdf_to_opensearch_spark.synth import expected_text, make_pages_pdf


def test_resolve_local_forms_agree(spark, tmp_path):
    from pyarrow import fs as pafs

    p = str(tmp_path / "idx")
    assert tablefs.qualify(p, "file:///") == p
    for form in (p, "file://" + p, "file:" + p):
        fs, got = tablefs.resolve(spark, form)
        assert isinstance(fs, pafs.LocalFileSystem), form
        assert got == p, form


def test_qualify_against_remote_default_fs():
    # string-level only: resolving these would connect to the cluster
    assert tablefs.qualify("/data/idx", "hdfs://nn") == "hdfs://nn/data/idx"
    assert (tablefs.qualify("/data/idx", "hdfs://nn:8020/")
            == "hdfs://nn:8020/data/idx")
    assert tablefs.qualify("s3://bkt/idx", "hdfs://nn") == "s3://bkt/idx"
    assert (tablefs.qualify("hdfs://other/idx", "file:///")
            == "hdfs://other/idx")


GUARDED = ("indexer", "query", "streaming", "maintenance", "fields")
# the alias registry is one JSON file next to the indexes, not a table
EXEMPT_FUNCS = {"read_aliases", "update_aliases"}


def _dotted(node) -> str:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
    return ".".join(reversed(parts))


def test_index_table_modules_do_no_os_file_io():
    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "pdf_to_opensearch_spark")
    bad = []
    for mod in GUARDED:
        with open(os.path.join(pkg, f"{mod}.py"), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        skip = {id(n) for f in ast.walk(tree)
                if isinstance(f, ast.FunctionDef) and f.name in EXEMPT_FUNCS
                for n in ast.walk(f)}
        for node in ast.walk(tree):
            if id(node) in skip:
                continue
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                names = []
            bad += [f"{mod}.py:{node.lineno}: import {n}" for n in names
                    if n.split(".")[0] in ("glob", "shutil")
                    or n == "os.path"]
            if isinstance(node, ast.Attribute):
                name = _dotted(node)
                if (name.startswith("os.path.")
                        or name in ("os.rename", "os.makedirs")):
                    bad.append(f"{mod}.py:{node.lineno}: {name}")
    assert not bad, "index tables must go through tablefs:\n" + "\n".join(bad)


def _check(spark, root, oracle, doc_filter=None, allowed=None):
    from pdf_to_opensearch_spark.query import search

    queries = [(1, "spark index posting"), (2, "query merge block")]
    got = (search(spark, root, queries, k=10, prune=False,
                  doc_filter=doc_filter).toPandas()
           .sort_values(["query_id", "rank"], ignore_index=True))
    for qid, qtext in queries:
        want = oracle.search(qtext, 10, allowed=allowed)
        sub = got[got["query_id"] == qid]
        assert len(want) > 0
        assert list(sub["doc_id"]) == [d for d, _ in want], (root, qtext)
        np.testing.assert_allclose(sub["score"].to_numpy(),
                                   [s for _, s in want], rtol=0, atol=1e-6)


def test_every_index_table_goes_through_resolve(spark, tmp_path,
                                                monkeypatch):
    """Map paths under tmp_path to a SubTreeFileSystem plus a RELATIVE
    path: build, plain and filtered search, append, delete and
    force-merge must then do all their pyarrow I/O through that
    filesystem object (a relative path handed to os/glob would resolve
    against the cwd, which is elsewhere) and still match the oracle."""
    from pyarrow import fs as pafs

    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.indexer import build_index
    from pdf_to_opensearch_spark.maintenance import (
        delete_from_index,
        force_merge,
    )
    from pdf_to_opensearch_spark.streaming import append_batch
    from pdf_to_opensearch_spark.synth import make_pages

    base = str(tmp_path)
    assert os.getcwd() != base
    sub = pafs.SubTreeFileSystem(base, pafs.LocalFileSystem())
    real = tablefs.resolve
    routed: set[str] = set()

    def resolve(spark_, path):
        if not path.startswith(base + "/"):
            return real(spark_, path)
        rel = path[len(base) + 1:]
        routed.add(rel)
        return sub, rel

    monkeypatch.setattr(tablefs, "resolve", resolve)

    root = f"{base}/idx"
    pages = make_pages(spark, n_docs=120, seed=31, partitions=4)
    build_index(spark, extract_docs(pages), root, num_ranges=4,
                n_buckets=8, id_partitions=4)
    pdf0 = make_pages_pdf(n_docs=120, seed=31)
    ids0 = np.arange(len(pdf0))
    texts0 = list(expected_text(pdf0))
    _check(spark, root, BruteForceBM25(ids0, texts0))
    even = {int(i) for i, u in zip(ids0, pdf0["url"]) if u[-1] in "02468"}
    _check(spark, root, BruteForceBM25(ids0, texts0),
           doc_filter="substring(url, -1, 1) IN ('0', '2', '4', '6', '8')",
           allowed=even)

    pdf1 = make_pages_pdf(n_docs=30, seed=77)
    pdf1["url"] = pdf1["url"].str.replace("example.org", "routed.org",
                                          regex=False)
    pdf1 = pdf1.sort_values("url", ignore_index=True)
    assert append_batch(spark, spark.createDataFrame(
        pdf1[["url", "text", "lang"]]), root, batch_id=1) == len(pdf1)
    ids = np.concatenate([ids0, len(pdf0) + np.arange(len(pdf1))])
    texts = texts0 + list(expected_text(pdf1))
    _check(spark, root, BruteForceBM25(ids, texts))

    urls = list(pdf0["url"]) + list(pdf1["url"])
    doomed = {urls[0], urls[len(pdf0) + 1]}
    keep = [i for i, u in enumerate(urls) if u not in doomed]
    survivors = BruteForceBM25(ids[keep], [texts[i] for i in keep])
    snap = f"{base}/snap"
    delete_from_index(spark, root, snap, sorted(doomed))
    _check(spark, snap, survivors)
    merged = f"{base}/merged"
    force_merge(spark, snap, merged)
    _check(spark, merged, survivors)

    for rel in ("idx", "idx/docs_meta", "idx/stats", "idx/dictionary",
                "idx/postings", "snap/stats", "merged/postings"):
        assert rel in routed, rel
    assert pd.read_parquet(f"{merged}/stats")["format_version"].notna().all()


def test_declared_schema_equals_inferred_schema(spark, tmp_path):
    """tablefs.spark_read declares each table's schema from its first
    data file's footer: on a built, appended and force-merged index it
    equals the schema Spark infers for every table (so reads keep their
    columns and types), and building a filter frame with it starts no
    Spark job."""
    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.indexer import (
        IndexPaths,
        _postings_arrow_schema,
        build_index,
    )
    from pdf_to_opensearch_spark.maintenance import force_merge
    from pdf_to_opensearch_spark.query import _allowed_docs
    from pdf_to_opensearch_spark.streaming import append_batch
    from pdf_to_opensearch_spark.synth import make_pages

    root, merged = str(tmp_path / "idx"), str(tmp_path / "merged")
    build_index(spark, extract_docs(make_pages(spark, n_docs=60, seed=8,
                                               partitions=2)),
                root, num_ranges=3, n_buckets=8, id_partitions=2)
    extra = make_pages_pdf(n_docs=12, seed=81)
    extra["url"] = extra["url"].str.replace("example.org", "more.org",
                                            regex=False)
    append_batch(spark, spark.createDataFrame(extra[["url", "text",
                                                     "lang"]]),
                 root, batch_id=1)
    force_merge(spark, root, merged)
    seen = 0
    for idx in (root, merged):
        for name in sorted(os.listdir(idx)):
            fs, p = tablefs.resolve(spark, f"{idx}/{name}")
            if name.startswith(("_", ".")) or not tablefs.list_files(fs, p):
                continue
            declared = tablefs.spark_read(spark, f"{idx}/{name}").schema
            assert declared == spark.read.parquet(f"{idx}/{name}").schema, \
                (idx, name)
            seen += 1
        from pyspark.sql.pandas.types import from_arrow_schema

        assert (from_arrow_schema(_postings_arrow_schema())
                == spark.read.parquet(f"{idx}/postings").schema), idx
    assert seen >= 12

    sc = spark.sparkContext
    sc.setJobGroup("allowed-docs", "allowed-docs")
    try:
        _allowed_docs(spark, IndexPaths(merged), "lang = 'en'")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("allowed-docs")) == []

