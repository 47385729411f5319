"""Hybrid retrieval (BM25 ∪ kNN, RRF fusion) vs a numpy reference."""

import numpy as np
import pytest

from pyspark.sql import functions as F

K0 = 60
DEPTH = 15
K = 8


@pytest.fixture(scope="module")
def hybrid_setup(spark, tmp_path_factory):
    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.indexer import build_index
    from pdf_to_opensearch_spark.oracle import BruteForceBM25
    from pdf_to_opensearch_spark.synth import (
        expected_text,
        make_pages,
        make_pages_pdf,
    )

    n, dim = 150, 16
    root = str(tmp_path_factory.mktemp("hybrid_idx"))
    pages = make_pages(spark, n_docs=n, seed=5, partitions=4)
    docs = extract_docs(pages)
    # deterministic embeddings keyed by the engine's doc_id (= url rank)
    rng = np.random.default_rng(99)
    emb = rng.standard_normal((n, dim)).astype(np.float64)
    pdf = make_pages_pdf(n_docs=n, seed=5)
    texts = list(expected_text(pdf))
    pdf = pdf.sort_values("url", ignore_index=True)
    emb_rows = [(int(i), [float(x) for x in emb[i]]) for i in range(n)]
    emb_df = spark.createDataFrame(emb_rows,
                                   "doc_id long, embedding array<double>")
    # attach embeddings to the indexed unit: build, then join the docs
    # table on the assigned doc_id and swap it in
    build_index(spark, docs, root, num_ranges=4, n_buckets=8,
                id_partitions=4)
    docs_tbl = spark.read.parquet(f"{root}/docs")
    joined = docs_tbl.join(emb_df, "doc_id")
    joined.write.mode("overwrite").parquet(f"{root}/docs_with_emb")
    import shutil
    shutil.rmtree(f"{root}/docs")
    shutil.move(f"{root}/docs_with_emb", f"{root}/docs")

    oracle = BruteForceBM25(np.arange(n), texts)
    return root, oracle, emb


def _rrf_reference(bm_ids, knn_ids, k):
    scores = {}
    for r, d in enumerate(bm_ids, start=1):
        scores[d] = scores.get(d, 0.0) + 1.0 / (K0 + r)
    for r, d in enumerate(knn_ids, start=1):
        scores[d] = scores.get(d, 0.0) + 1.0 / (K0 + r)
    ranked = sorted(scores.items(), key=lambda t: (-round(t[1], 6), t[0]))
    return [d for d, _s in ranked[:k]]


def test_search_hybrid_matches_reference(spark, hybrid_setup):
    from pdf_to_opensearch_spark.hybrid import search_hybrid

    root, oracle, emb = hybrid_setup
    qvec = emb[7]
    queries = [(1, "spark index posting", list(qvec)),
               (2, "query merge block", list(emb[3]))]
    got = (search_hybrid(spark, root, queries, k=K, depth=DEPTH)
           .toPandas().sort_values(["query_id", "rank"], ignore_index=True))
    emb_n = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    for qid, qtext, qv in queries:
        # engine fuses ranks computed on 4-dp-ROUNDED scores (id ties) —
        # mirror that here
        top = oracle.search(qtext, DEPTH + 5)
        top.sort(key=lambda t: (-round(t[1], 4), t[0]))
        bm_ids = [d for d, _s in top[:DEPTH]]
        qn = np.asarray(qv) / np.linalg.norm(qv)
        sims = emb_n @ qn
        order = np.lexsort((np.arange(len(sims)), -sims))[:DEPTH]
        want = _rrf_reference(bm_ids, [int(i) for i in order], K)
        sub = got[got["query_id"] == qid]
        assert list(sub["doc_id"]) == want, qtext
        assert list(sub["rank"]) == list(range(1, len(want) + 1))


def test_knn_docs_topk_exact(spark, hybrid_setup):
    from pdf_to_opensearch_spark.hybrid import knn_docs_topk

    root, _oracle, emb = hybrid_setup
    qv = emb[42]
    got = (knn_docs_topk(spark, root, [(9, list(qv))], k=5)
           .toPandas().sort_values("rank", ignore_index=True))
    emb_n = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    sims = emb_n @ (qv / np.linalg.norm(qv))
    order = np.lexsort((np.arange(len(sims)), -sims))[:5]
    assert list(got["doc_id"]) == [int(i) for i in order]


def test_zero_norm_doc_embedding_is_deterministic(spark, tmp_path):
    # a zero-norm stored embedding must score 0 (not NaN) and never
    # displace real neighbors nondeterministically
    from pdf_to_opensearch_spark.hybrid import knn_docs_topk

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((20, 8))
    vecs[5] = 0.0
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(20)]
    root = str(tmp_path / "zn")
    spark.createDataFrame(rows, "doc_id long, embedding array<double>") \
        .write.parquet(f"{root}/docs")
    got = (knn_docs_topk(spark, root, [(1, list(vecs[0]))], k=20)
           .toPandas().sort_values("rank", ignore_index=True))
    assert np.isfinite(got["sim"]).all()
    assert float(got.set_index("doc_id").loc[5, "sim"]) == 0.0


def test_zero_norm_query_raises(spark, tmp_path):
    from pdf_to_opensearch_spark.hybrid import knn_docs_topk

    root = str(tmp_path / "znq")
    spark.createDataFrame([(0, [1.0, 2.0])],
                          "doc_id long, embedding array<double>") \
        .write.parquet(f"{root}/docs")
    with pytest.raises(ValueError, match="zero-norm"):
        knn_docs_topk(spark, root, [(1, [0.0, 0.0])], k=5)


def test_knn_lsh_recall_vs_exact(spark, tmp_path):
    # clustered corpus: each query's true neighbors are its cluster mates,
    # which co-bucket w.h.p. → LSH recall vs exact must be >= 0.8
    from pdf_to_opensearch_spark.hybrid import knn_docs_topk, knn_docs_topk_lsh

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((20, 16)) * 4.0
    vecs = np.repeat(centers, 10, axis=0) + rng.standard_normal((200, 16)) * 0.05
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(200)]
    root = str(tmp_path / "lshidx")
    spark.createDataFrame(rows, "doc_id long, embedding array<double>") \
        .write.parquet(f"{root}/docs")
    queries = [(q, list(vecs[q * 10])) for q in range(5)]
    exact = knn_docs_topk(spark, root, queries, k=8).toPandas()
    approx = knn_docs_topk_lsh(spark, root, queries, k=8,
                               n_planes=4).toPandas()
    recalls = []
    for q in range(5):
        e = set(exact[exact["query_id"] == q]["doc_id"])
        a = set(approx[approx["query_id"] == q]["doc_id"])
        recalls.append(len(e & a) / len(e))
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_search_hybrid_lsh_mode(spark, hybrid_setup):
    # lsh mode must run end-to-end and keep the exact mode untouched
    from pdf_to_opensearch_spark.hybrid import search_hybrid

    root, _oracle, emb = hybrid_setup
    queries = [(1, "spark index posting", list(emb[7]))]
    got = (search_hybrid(spark, root, queries, k=K, depth=DEPTH,
                         vector_mode="lsh")
           .toPandas().sort_values("rank", ignore_index=True))
    assert len(got) == K
    assert list(got["rank"]) == list(range(1, K + 1))
    with pytest.raises(ValueError, match="vector_mode"):
        search_hybrid(spark, root, queries, vector_mode="bogus")


def test_knn_docs_scan_reads_two_columns(spark, hybrid_setup):
    """knn_docs_topk's docs scan reads only doc_id and the embedding:
    the parquet ReadSchema holds those two columns, never text/url."""
    from pdf_to_opensearch_spark.hybrid import knn_docs_topk

    root, _oracle, emb = hybrid_setup
    df = knn_docs_topk(spark, root, [(1, list(emb[0]))], k=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    schemas = [seg.split("\n")[0] for seg in plan.split("ReadSchema: ")[1:]]
    assert schemas == ["struct<doc_id:bigint,embedding:array<double>>"], plan
