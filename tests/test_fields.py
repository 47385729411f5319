"""Per-field BM25 posting spaces (fields.py): rank identity vs the
brute-force oracle computed over the FIELD's text, with the field's own
(df, avgdl) statistics — Lucene per-field norms semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_to_opensearch_spark.extract import extract_docs
from pdf_to_opensearch_spark.fields import build_field_index, search_field
from pdf_to_opensearch_spark.indexer import IndexPaths, build_index
from pdf_to_opensearch_spark.oracle import BruteForceBM25
from pdf_to_opensearch_spark.synth import make_pages


@pytest.fixture(scope="module")
def field_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fieldidx"))
    pages = make_pages(spark, n_docs=150, seed=11, partitions=4)
    docs = extract_docs(pages)
    # the chunk_text_previous analogue: previous doc's text in url order
    from pyspark.sql import Window

    docs = docs.withColumn(
        "text_prev",
        F.coalesce(F.lag("text").over(Window.orderBy("url")), F.lit("")))
    build_index(spark, docs, root, num_ranges=4, n_buckets=8,
                id_partitions=4)
    build_field_index(spark, root, "text_prev")
    return root


def test_field_index_rank_identical_to_field_oracle(spark, field_index):
    docs = (spark.read.parquet(IndexPaths(field_index).docs)
            .select("doc_id", "text_prev").orderBy("doc_id").collect())
    oracle = BruteForceBM25([r["doc_id"] for r in docs],
                            [r["text_prev"] for r in docs])
    queries = [(1, "spark index posting"), (2, "the merge join"),
               (3, "zzzz-absent-term")]
    got = (search_field(spark, field_index, "text_prev", queries, k=10)
           .orderBy("query_id", "rank").collect())
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, qtext in queries:
        want = oracle.search(qtext, k=10)
        have = by_q.get(qid, [])
        assert [d for d, _ in want] == [d for d, _ in have], (qid, want, have)
        for (_, ws), (_, hs) in zip(want, have):
            assert abs(ws - hs) <= 1e-6


def test_field_stats_are_per_field(spark, field_index):
    """avgdl of the field space must be the FIELD's average length, not
    the current field's (they differ: text_prev has one empty doc)."""
    from pdf_to_opensearch_spark.fields import field_root
    from pdf_to_opensearch_spark.query import load_stats

    root_stats = load_stats(spark, field_index)
    fstats = load_stats(spark, field_root(field_index, "text_prev"))
    assert fstats.N == root_stats.N
    assert fstats.avgdl != root_stats.avgdl
    dl = (spark.read.parquet(
        IndexPaths(field_root(field_index, "text_prev")).docs)
        .agg(F.avg("dl")).collect()[0][0])
    assert abs(fstats.avgdl - float(dl)) < 1e-9


def test_current_field_aliases_root(spark, field_index):
    a = search_field(spark, field_index, "current",
                     [(1, "spark index")], k=5).collect()
    from pdf_to_opensearch_spark.query import search

    b = search(spark, field_index, [(1, "spark index")], k=5).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == \
        [(r["doc_id"], round(r["score"], 9)) for r in b]


def test_unknown_field_raises(spark, field_index):
    with pytest.raises(ValueError, match="not a column"):
        build_field_index(spark, field_index, "no_such_field")


def test_field_build_is_shuffle_free(spark, field_index):
    """The field posting space reuses the prepare-assigned ranges: its
    postings must carry the same range_ids as the root (no re-sharding),
    and every doc_id appears in the same range in both spaces."""
    root_docs = (spark.read.parquet(IndexPaths(field_index).docs)
                 .select("doc_id", "range_id"))
    from pdf_to_opensearch_spark.fields import field_root

    fdocs = (spark.read.parquet(
        IndexPaths(field_root(field_index, "text_prev")).docs)
        .select("doc_id", F.col("range_id").alias("f_range")))
    joined = root_docs.join(fdocs, "doc_id")
    n_mismatch = joined.filter(
        F.col("range_id") != F.col("f_range")).count()
    assert n_mismatch == 0
    assert joined.count() == root_docs.count()


def test_search_field_phrase_mode(spark, field_index):
    """mode='phrase' on a field space == the reference's schema-typed
    per-field match_phrase (opensearch_loader.py:386-408): rank+score
    identity vs the brute-force phrase oracle over the FIELD text with
    the field's own statistics."""
    from pdf_to_opensearch_spark.analyzer import tokenize_text
    from pdf_to_opensearch_spark.fields import field_root

    rows = (spark.read.parquet(
        IndexPaths(field_root(field_index, "text_prev")).docs)
        .select("doc_id", "text").orderBy("doc_id").collect())
    oracle = BruteForceBM25([r["doc_id"] for r in rows],
                            [r["text"] for r in rows])
    toks = next(t for t in (tokenize_text(r["text"]) for r in rows)
                if len(t) >= 6)
    queries = [(1, " ".join(toks[2:4])), (2, toks[0]),
               (3, "zzzz absent phrase")]
    got = (search_field(spark, field_index, "text_prev", queries, k=10,
                        mode="phrase").orderBy("query_id", "rank").collect())
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, qtext in queries:
        want = oracle.phrase_search(qtext, k=10)
        have = by_q.get(qid, [])
        assert [d for d, _ in want] == [d for d, _ in have], (qid, want, have)
        for (_, ws), (_, hs) in zip(want, have):
            assert abs(ws - hs) <= 1e-6


def test_search_field_filter_resolves_root_metadata(spark, field_index):
    """--field + --filter: the predicate references a ROOT-docs-only
    column (url) — it must resolve against the root docs table (field
    docs carry no metadata) and restrict candidates without changing the
    field space's global stats."""
    from pdf_to_opensearch_spark.fields import field_root

    root_rows = (spark.read.parquet(IndexPaths(field_index).docs)
                 .select("doc_id", "url").collect())
    pred = "substring(url, -1, 1) IN ('0', '2', '4', '6', '8')"
    allowed = {int(r["doc_id"]) for r in root_rows
               if r["url"][-1] in "02468"}
    frows = (spark.read.parquet(
        IndexPaths(field_root(field_index, "text_prev")).docs)
        .select("doc_id", "text").orderBy("doc_id").collect())
    oracle = BruteForceBM25([r["doc_id"] for r in frows],
                            [r["text"] for r in frows])
    got = (search_field(spark, field_index, "text_prev",
                        [(1, "spark index posting")], k=10,
                        doc_filter=pred).orderBy("rank").collect())
    want = oracle.search("spark index posting", k=10, allowed=allowed)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, ws) in zip(got, want):
        assert abs(r["score"] - ws) <= 1e-6


def test_delete_snapshot_carries_field_spaces(spark, field_index,
                                              tmp_path_factory):
    """delete_from_index must rebuild field posting spaces into the
    snapshot (reference: all-fields-consistent delete,
    opensearch_loader.py:410-451): search_field on the snapshot must
    rank-match the brute-force oracle over the SURVIVING field docs."""
    from pdf_to_opensearch_spark.fields import field_root
    from pdf_to_opensearch_spark.maintenance import delete_from_index

    out = str(tmp_path_factory.mktemp("fieldsnap")) + "/snap"
    doomed_urls = [r["url"] for r in
                   (spark.read.parquet(IndexPaths(field_index).docs)
                    .filter("doc_id % 7 = 0").select("url").collect())]
    delete_from_index(spark, field_index, out, doomed_urls)

    srows = (spark.read.parquet(
        IndexPaths(field_root(out, "text_prev")).docs)
        .select("doc_id", "text").orderBy("doc_id").collect())
    # the snapshot field docs are exactly the surviving doc_ids
    root_surv = {int(r["doc_id"]) for r in
                 spark.read.parquet(IndexPaths(out).docs)
                 .select("doc_id").collect()}
    assert {int(r["doc_id"]) for r in srows} == root_surv
    assert all(int(r["doc_id"]) % 7 != 0 for r in srows)

    oracle = BruteForceBM25([r["doc_id"] for r in srows],
                            [r["text"] for r in srows])
    queries = [(1, "spark index posting"), (2, "the merge join")]
    got = (search_field(spark, out, "text_prev", queries, k=10)
           .orderBy("query_id", "rank").collect())
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, qtext in queries:
        want = oracle.search(qtext, k=10)
        have = by_q.get(qid, [])
        assert [d for d, _ in want] == [d for d, _ in have], (qid, want, have)
        for (_, ws), (_, hs) in zip(want, have):
            assert abs(ws - hs) <= 1e-6


def test_rebuild_drops_stale_field_spaces(spark, tmp_path):
    """build_index reassigns doc_ids, so field spaces built over the old
    docs table must not survive a rebuild of the root (maintenance would
    otherwise carry them into every snapshot)."""
    from pdf_to_opensearch_spark.fields import list_field_roots

    root = str(tmp_path / "rebuilt")
    docs = extract_docs(make_pages(spark, n_docs=40, seed=2, partitions=2))
    docs = docs.withColumn("text_prev", F.col("text"))
    build_index(spark, docs, root, num_ranges=2, n_buckets=4,
                id_partitions=2)
    build_field_index(spark, root, "text_prev")
    assert list_field_roots(spark, root) == ["text_prev"]
    build_index(spark, docs, root, num_ranges=2, n_buckets=4,
                id_partitions=2)
    assert list_field_roots(spark, root) == []
