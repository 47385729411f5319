"""Incremental ingestion: append, exactly-once replay, crash rollback,
and a Structured Streaming end-to-end file-source run."""

import numpy as np
import pandas as pd
import pytest

from pdf_to_opensearch_spark.extract import extract_docs
from pdf_to_opensearch_spark.indexer import build_index
from pdf_to_opensearch_spark.oracle import BruteForceBM25
from pdf_to_opensearch_spark.query import search
from pdf_to_opensearch_spark.streaming import append_batch, rollback_incomplete
from pdf_to_opensearch_spark.synth import expected_text, make_pages, make_pages_pdf

QUERIES = [(1, "spark index posting"), (2, "query merge block")]


def _oracle_for(pdfs: list[pd.DataFrame], id_lists: list[np.ndarray]):
    texts, ids = [], []
    for pdf, idl in zip(pdfs, id_lists):
        texts.extend(expected_text(pdf))
        ids.extend(idl)
    return BruteForceBM25(np.array(ids), texts)


def _check(spark, root, oracle):
    got = (search(spark, root, QUERIES, k=10, prune=False).toPandas()
           .sort_values(["query_id", "rank"], ignore_index=True))
    for qid, qtext in QUERIES:
        want = oracle.search(qtext, 10)
        sub = got[got["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], qtext
        np.testing.assert_allclose(sub["score"].to_numpy(),
                                   [s for _, s in want], atol=1e-6)


@pytest.fixture()
def base_index(spark, tmp_path):
    root = str(tmp_path / "sidx")
    pages = make_pages(spark, n_docs=120, seed=31, partitions=4)
    build_index(spark, extract_docs(pages), root, num_ranges=4, n_buckets=8,
                id_partitions=4)
    pdf0 = make_pages_pdf(n_docs=120, seed=31)
    return root, pdf0


def _batch_docs(spark, n, seed):
    pdf = make_pages_pdf(n_docs=n, seed=seed)
    pdf["url"] = pdf["url"].str.replace("example.org", f"batch{seed}.org",
                                       regex=False)
    pdf = pdf.sort_values("url", ignore_index=True)
    sdf = spark.createDataFrame(pdf[["url", "text", "lang"]])
    return pdf, sdf


def test_append_batch_matches_oracle(spark, base_index):
    root, pdf0 = base_index
    pdf1, sdf1 = _batch_docs(spark, 40, seed=77)
    n = append_batch(spark, sdf1, root, batch_id=1)
    assert n == len(pdf1)
    # appended ids continue densely after the current max
    n0 = len(pdf0)
    base = n0
    oracle = _oracle_for(
        [pdf0, pdf1],
        [np.arange(n0), np.arange(base, base + len(pdf1))])
    _check(spark, root, oracle)
    # avgdl drifted after the append → pruning must STAY SOUND (block
    # metadata stores raw (max_tf, min_dl); bounds recomputed at the
    # current avgdl) — pruned and exhaustive results must agree
    got_p = search(spark, root, QUERIES, k=10, prune=True).toPandas()
    got_e = search(spark, root, QUERIES, k=10, prune=False).toPandas()
    assert got_p.equals(got_e)


def test_append_replay_is_exactly_once(spark, base_index):
    root, pdf0 = base_index
    pdf1, sdf1 = _batch_docs(spark, 25, seed=88)
    assert append_batch(spark, sdf1, root, batch_id=5) == len(pdf1)
    # replay of a committed batch id is a no-op
    assert append_batch(spark, sdf1, root, batch_id=5) == 0
    n_docs = spark.read.parquet(f"{root}/docs").count()
    assert n_docs == len(pdf0) + len(pdf1)


def test_crash_rollback_then_retry(spark, base_index):
    from pyspark.sql import functions as F

    from pdf_to_opensearch_spark.streaming import _log_batch
    from pdf_to_opensearch_spark.indexer import IndexPaths

    root, pdf0 = base_index
    paths = IndexPaths(root)
    pdf1, sdf1 = _batch_docs(spark, 30, seed=99)
    # simulate a crash mid-batch: begin logged, docs partially appended,
    # postings missing
    n0 = len(pdf0)
    base = n0
    base_range = 100  # any id above the committed max
    _log_batch(spark, paths, 9, base, base_range, "begin")
    partial = spark.createDataFrame(
        pdf1.iloc[:10][["url", "text", "lang"]])
    from pdf_to_opensearch_spark.indexer import assign_doc_ids
    from pdf_to_opensearch_spark.analyzer import token_count_udf

    wi = (assign_doc_ids(partial, partitions=2, with_range_id=True)
          .withColumn("doc_id", F.col("doc_id") + F.lit(base))
          .withColumn("range_id",
                      (F.col("range_id") + F.lit(base_range)).cast("int"))
          .withColumn("dl", token_count_udf(F.col("text"))))
    wi.write.mode("append").parquet(paths.docs)
    assert spark.read.parquet(paths.docs).count() == n0 + 10

    rolled = rollback_incomplete(spark, root)
    assert rolled == [9]
    assert spark.read.parquet(paths.docs).count() == n0
    # retry under a NEW batch id (the stream's replay) lands cleanly
    assert append_batch(spark, sdf1, root, batch_id=10) == len(pdf1)
    oracle = _oracle_for([pdf0, pdf1],
                         [np.arange(n0), np.arange(base, base + len(pdf1))])
    _check(spark, root, oracle)


def test_streaming_end_to_end(spark, base_index, tmp_path):
    import time

    from pdf_to_opensearch_spark.streaming import start_ingest_stream

    root, pdf0 = base_index
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    pdf1, sdf1 = _batch_docs(spark, 20, seed=55)
    sdf1.write.mode("overwrite").parquet(src)
    q = start_ingest_stream(spark, src, sdf1.schema, root, ckpt,
                            trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n0 = len(pdf0)
    base = n0
    assert spark.read.parquet(f"{root}/docs").count() == n0 + len(pdf1)
    oracle = _oracle_for([pdf0, pdf1],
                         [np.arange(n0), np.arange(base, base + len(pdf1))])
    _check(spark, root, oracle)


def test_stats_format_version_is_checked_loudly(spark, base_index,
                                               tmp_path):
    # every layout older than the stats format_version stamp (bucket=N/
    # postings, docs without range_id, no docs_meta) lacks the stamp: a
    # missing or unknown stamp must fail every entry point with a
    # ValueError naming the index root — never fall back to a slow path
    import glob
    import os
    import re
    import shutil

    from pdf_to_opensearch_spark.indexer import (
        FORMAT_VERSION,
        IndexPaths,
        build_postings,
        resume_info,
    )
    from pdf_to_opensearch_spark.maintenance import (
        delete_from_index,
        force_merge,
    )
    from pdf_to_opensearch_spark.tablefs import (
        read_small_table,
        write_small_table,
    )

    root, pdf0 = base_index
    paths = IndexPaths(root)
    stats = read_small_table(spark, paths.stats)
    assert int(stats["format_version"].iloc[0]) == FORMAT_VERSION
    _pdf1, sdf1 = _batch_docs(spark, 10, seed=44)
    ops = {
        "search": lambda: search(spark, root, QUERIES, k=5),
        "append": lambda: append_batch(spark, sdf1, root, batch_id=2),
        "delete": lambda: delete_from_index(
            spark, root, str(tmp_path / "del"), [pdf0["url"].iloc[0]]),
        "force_merge": lambda: force_merge(spark, root,
                                           str(tmp_path / "fm")),
        "resume": lambda: build_postings(spark, root, num_ranges=4,
                                         n_buckets=8,
                                         completed_ranges={0, 2, 3}),
    }
    for stale in (stats.drop(columns=["format_version"]),
                  stats.assign(format_version=FORMAT_VERSION + 1)):
        write_small_table(spark, stale, paths.stats)
        for name, op in ops.items():
            with pytest.raises(ValueError,
                               match=re.escape(root) + ".*build_index"):
                op()
            assert not (tmp_path / "del").exists(), name
    n0 = len(pdf0)
    assert spark.read.parquet(paths.docs).count() == n0

    # an ABSENT stats table is a first build that crashed before its
    # epilogue, not a legacy layout: the resume runs and rebuilds range 1
    shutil.rmtree(paths.stats)
    lost = glob.glob(f"{paths.postings}/part-pyio-r00001-00001.parquet")
    assert len(lost) == 1
    os.remove(lost[0])
    assert resume_info(spark, root) == {0, 1, 2, 3}
    build_postings(spark, root, num_ranges=4, n_buckets=8,
                   completed_ranges={0, 2, 3})
    _check(spark, root, _oracle_for([pdf0], [np.arange(n0)]))


def test_resume_refuses_a_range_split_across_docs_files(spark, base_index):
    # the SPIMI writer builds each range from ONE docs file; a pending
    # range spread over two files would yield duplicate (term, range)
    # rows, so the resume must refuse it instead of writing them
    import glob

    import pyarrow.parquet as pq

    from pdf_to_opensearch_spark.indexer import IndexPaths, build_postings

    root, _pdf0 = base_index
    docs = IndexPaths(root).docs
    src = max(glob.glob(f"{docs}/*.parquet"), key=lambda f: (
        pq.read_metadata(f).num_rows, f))
    tbl = pq.read_table(src)
    rid = tbl["range_id"][0].as_py()
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), src)
    pq.write_table(tbl.slice(half), f"{docs}/split-extra.parquet")
    with pytest.raises(ValueError, match="range-aligned"):
        build_postings(spark, root, num_ranges=4, n_buckets=8,
                       completed_ranges={0, 1, 2, 3} - {rid})


def test_append_doc_stats_consistency(spark, tmp_path):
    # prepare-assigned range ids are partition ordinals, NOT doc_id //
    # docs_per_range — the doc_stats append filter must use the batch's
    # own base doc_id (id_partitions=8 / num_ranges=2 is the combination
    # where the old arithmetic silently dropped batch rows)
    from pyspark.sql import functions as F

    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.indexer import build_index
    from pdf_to_opensearch_spark.synth import make_pages

    root = str(tmp_path / "dsidx")
    pages = make_pages(spark, n_docs=40, seed=13, partitions=4)
    build_index(spark, extract_docs(pages), root, num_ranges=2, n_buckets=8,
                id_partitions=8)
    _pdf1, sdf1 = _batch_docs(spark, 10, seed=66)
    assert append_batch(spark, sdf1, root, batch_id=1) == 10
    docs_n = spark.read.parquet(f"{root}/docs").count()
    stats = spark.read.parquet(f"{root}/doc_stats")
    assert docs_n == 50
    assert stats.count() == docs_n
    assert stats.select("doc_id").distinct().count() == docs_n
    # and the stats rows agree with docs on dl
    joined = (spark.read.parquet(f"{root}/docs").select("doc_id", "dl")
              .join(stats.withColumnRenamed("dl", "dl2"), "doc_id"))
    assert joined.filter(F.col("dl") != F.col("dl2")).count() == 0


def test_windowed_event_counts_stream_matches_batch(spark, tmp_path):
    # streaming (file source, two micro-batches) and batch runs of the
    # SAME operator must agree on finalized counts
    import datetime as dt

    from pyspark.sql import functions as F

    from pdf_to_opensearch_spark.streaming import windowed_event_counts

    src = str(tmp_path / "ev_src")
    ckpt = str(tmp_path / "ev_ckpt")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows1 = [(i, base + dt.timedelta(minutes=i % 12), "a" if i % 3 else "b")
             for i in range(60)]
    rows2 = [(100 + i, base + dt.timedelta(minutes=30 + i % 7), "a")
             for i in range(20)]
    schema = "event_id long, ts timestamp, event_type string"
    spark.createDataFrame(rows1, schema).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (windowed_event_counts(stream)
         .writeStream.outputMode("update")
         .format("memory").queryName("wincounts")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = (spark.table("wincounts")
           .groupBy("window_start", "event_type")
           .agg(F.max("n").alias("n")).toPandas())
    want = (windowed_event_counts(
                spark.createDataFrame(rows1 + rows2, schema)).toPandas())
    g = {(r.window_start, r.event_type): r.n for r in got.itertuples()}
    w = {(r.window_start, r.event_type): r.n for r in want.itertuples()}
    assert g == w


def test_running_user_totals_state_survives_batches(spark, tmp_path):
    from pdf_to_opensearch_spark.streaming import running_user_totals

    src = str(tmp_path / "st_src")
    ckpt = str(tmp_path / "st_ckpt")
    schema = "event_id long, user_id long"
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (running_user_totals(stream)
         .writeStream.outputMode("update")
         .format("memory").queryName("usertotals")
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # one file: the running stream lists the source directory while
        # a multi-file append's job commit moves its files in one by
        # one, and may split that append into two micro-batches
        spark.createDataFrame(
            [(100 + i, i % 2) for i in range(10)], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    from pyspark.sql import functions as F

    final = (spark.table("usertotals")
             .groupBy("user_id").agg(F.max("total").alias("total"),
                                     F.max("batches").alias("batches"))
             .toPandas().set_index("user_id"))
    # batch 1: users 0,1,2 x10 each; batch 2: users 0,1 x5 each
    assert final.loc[0, "total"] == 15 and final.loc[0, "batches"] == 2
    assert final.loc[1, "total"] == 15 and final.loc[1, "batches"] == 2
    assert final.loc[2, "total"] == 10 and final.loc[2, "batches"] == 1


def test_force_merge_compacts_appends(spark, tmp_path):
    """force_merge: after micro-batch appends, compaction preserves
    doc_ids and bit-identical query results while densifying ranges;
    unchanged original ranges carry their postings rows over."""
    import numpy as np
    import pandas as pd

    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.indexer import build_index
    from pdf_to_opensearch_spark.maintenance import force_merge
    from pdf_to_opensearch_spark.query import search
    from pdf_to_opensearch_spark.streaming import append_batch
    from pdf_to_opensearch_spark.synth import make_pages

    root = str(tmp_path / "fm_idx")
    pages = make_pages(spark, n_docs=120, seed=3, partitions=4)
    build_index(spark, extract_docs(pages), root, num_ranges=4,
                n_buckets=8, id_partitions=4)
    for b in range(3):  # three tiny appends -> three sparse ranges
        batch = spark.createDataFrame(pd.DataFrame({
            "url": [f"app://b{b}/d{i}" for i in range(7)],
            "text": [f"appended spark batch{b} doc {i} merge index"
                     for i in range(7)],
            "lang": ["en"] * 7,
        }))
        assert append_batch(spark, batch, root, batch_id=b) == 7

    docs0 = spark.read.parquet(f"{root}/docs")
    n_ranges_before = docs0.select("range_id").distinct().count()
    qs = [(1, "spark index"), (2, "appended merge"), (3, "batch1")]
    before = (search(spark, root, qs, k=20, prune=False).toPandas()
              .sort_values(["query_id", "rank"], ignore_index=True))

    out = str(tmp_path / "fm_out")
    force_merge(spark, root, out)

    docs1 = spark.read.parquet(f"{out}/docs")
    # doc_ids preserved exactly
    assert sorted(docs1.select("doc_id").toPandas().doc_id) == \
        sorted(docs0.select("doc_id").toPandas().doc_id)
    n_ranges_after = docs1.select("range_id").distinct().count()
    assert n_ranges_after < n_ranges_before
    # dense assignment
    st = spark.read.parquet(f"{out}/stats").collect()[0]
    dpr = int(st["docs_per_range"])
    got_ranges = docs1.selectExpr(
        "doc_id", "range_id", f"cast(doc_id / {dpr} as int) AS want")
    assert got_ranges.filter("range_id <> want").count() == 0
    # bit-identical query results (N/avgdl/df unchanged by compaction)
    after = (search(spark, out, qs, k=20, prune=False).toPandas()
             .sort_values(["query_id", "rank"], ignore_index=True))
    assert list(before.doc_id) == list(after.doc_id)
    np.testing.assert_array_equal(before.score.to_numpy(),
                                  after.score.to_numpy())
    # range 0's membership is unchanged -> its postings carried over
    p0_before = (spark.read.parquet(f"{root}/postings")
                 .filter("range_id = 0").select("term", "n")
                 .toPandas().sort_values("term", ignore_index=True))
    p0_after = (spark.read.parquet(f"{out}/postings")
                .filter("range_id = 0").select("term", "n")
                .toPandas().sort_values("term", ignore_index=True))
    pd.testing.assert_frame_equal(p0_before, p0_after)


def test_force_merge_carries_field_spaces(spark, tmp_path):
    """Compaction rebuilds per-field posting spaces consistently:
    search_field on the merged snapshot equals pre-merge results."""
    import pandas as pd

    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.fields import build_field_index, search_field
    from pdf_to_opensearch_spark.indexer import build_index
    from pdf_to_opensearch_spark.maintenance import force_merge
    from pdf_to_opensearch_spark.streaming import append_batch
    from pdf_to_opensearch_spark.synth import make_pages
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    root = str(tmp_path / "fmf_idx")
    pages = make_pages(spark, n_docs=80, seed=9, partitions=2)
    d = extract_docs(pages).withColumn(
        "text_prev",
        F.coalesce(F.lag("text").over(Window.orderBy("url")), F.lit("")))
    build_index(spark, d, root, num_ranges=3, n_buckets=8, id_partitions=2)
    build_field_index(spark, root, "text_prev")
    batch = spark.createDataFrame(pd.DataFrame({
        "url": [f"app://f/d{i}" for i in range(5)],
        "text": [f"field appended doc {i}" for i in range(5)],
        "lang": ["en"] * 5,
    }))
    append_batch(spark, batch, root, batch_id=0)
    # appended docs are absent from the field space (built pre-append):
    # compaction must carry the field's own docs, not invent rows
    qs = [(1, "spark index")]
    before = search_field(spark, root, "text_prev", qs, k=10,
                          prune=False).toPandas()
    out = str(tmp_path / "fmf_out")
    force_merge(spark, root, out)
    after = search_field(spark, out, "text_prev", qs, k=10,
                         prune=False).toPandas()
    assert list(before.doc_id) == list(after.doc_id)
    assert list(before.score) == list(after.score)
