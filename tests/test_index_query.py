"""E2E: SPIMI build + BM25 top-k rank-identity vs brute-force oracle
(SURVEY.md §5.2/§5.4); resume + delete semantics."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdf_to_opensearch_spark.extract import extract_docs
from pdf_to_opensearch_spark.indexer import build_index, resume_info
from pdf_to_opensearch_spark.oracle import BruteForceBM25
from pdf_to_opensearch_spark.query import search
from pdf_to_opensearch_spark.synth import expected_text, make_pages, make_pages_pdf

QUERIES = [
    (1, "spark index posting"),
    (2, "query score merge block"),
    (3, "딸기 육묘"),
    (4, "duplicate content row"),
    (5, "w0001 w0002 vector"),
    (6, "nonexistentterm12345"),
    (7, "the w0003"),
    (8, "token document search rank batch stream"),
    # repeated query terms: BM25 accumulates once per OCCURRENCE
    # (oracle.py:53-64), so 'the the' weighs 'the' twice
    (9, "the the spark"),
    (10, "index index index posting"),
    # mixed case: both sides run the frozen lowercasing analyzer
    (11, "SPARK Index POSTING"),
]
K = 10


@pytest.fixture(scope="module")
def corpus():
    pdf = make_pages_pdf(n_docs=300, seed=42)
    texts = list(expected_text(pdf))
    # oracle doc_ids = dense rank over sorted url — same rule as the engine
    pdf = pdf.sort_values("url", ignore_index=True)
    return pdf, BruteForceBM25(np.arange(len(pdf)), texts)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    pages = make_pages(spark, n_docs=300, seed=42, partitions=4)
    docs = extract_docs(pages)
    build_index(spark, docs, root, num_ranges=5, n_buckets=8, id_partitions=4)
    return root


def _run(spark, index_dir, prune):
    out = search(spark, index_dir, QUERIES, k=K, prune=prune).toPandas()
    return out.sort_values(["query_id", "rank"], ignore_index=True)


def test_doc_ids_deterministic(spark, index_dir, corpus):
    pdf, _ = corpus
    docs = (spark.read.parquet(f"{index_dir}/docs")
            .select("doc_id", "url").toPandas()
            .sort_values("doc_id", ignore_index=True))
    assert list(docs["url"]) == list(pdf["url"])
    assert list(docs["doc_id"]) == list(range(len(pdf)))


def test_rank_identical_vs_oracle(spark, index_dir, corpus):
    _, oracle = corpus
    got = _run(spark, index_dir, prune=False)
    for qid, qtext in QUERIES:
        want = oracle.search(qtext, K)
        sub = got[got["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], qtext
        np.testing.assert_allclose(
            sub["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-6)
        assert list(sub["rank"]) == list(range(1, len(want) + 1))


def test_prune_differential(spark, index_dir):
    exact = _run(spark, index_dir, prune=False)
    pruned = _run(spark, index_dir, prune=True)
    assert list(exact["doc_id"]) == list(pruned["doc_id"])
    np.testing.assert_allclose(exact["score"], pruned["score"], atol=1e-9)


def test_tie_break_by_doc_id(spark, index_dir, corpus):
    pdf, _ = corpus
    got = _run(spark, index_dir, prune=False)
    sub = got[got["query_id"] == 4]
    dup_ids = [i for i, u in enumerate(pdf["url"]) if "/edge/dup-" in u]
    top2 = list(sub["doc_id"].iloc[:2])
    assert top2 == sorted(dup_ids)  # equal scores → ascending doc_id


def test_resume_from_manifest(spark, index_dir, corpus, tmp_path):
    """Partial build + resume must equal a clean full build byte-for-byte
    at the query surface."""
    import pandas as pd

    from pdf_to_opensearch_spark.indexer import IndexPaths
    from pyspark.sql import functions as F

    root = str(tmp_path / "resume_idx")
    pages = make_pages(spark, n_docs=300, seed=42, partitions=4)
    docs = extract_docs(pages)
    build_index(spark, docs, root, num_ranges=5, n_buckets=8, id_partitions=4)
    # simulate a crash: drop postings + manifest rows for ranges {2, 4}
    paths = IndexPaths(root)
    post = spark.read.parquet(paths.postings).filter(
        ~F.col("range_id").isin(2, 4)).toPandas()
    man = spark.read.parquet(paths.manifest).filter(
        ~F.col("range_id").isin(2, 4)).toPandas()
    spark.createDataFrame(post).write.mode("overwrite").parquet(
        paths.postings)
    spark.createDataFrame(man).write.mode("overwrite").parquet(paths.manifest)

    done = resume_info(spark, root)
    assert done == {0, 1, 3}
    build_index(spark, docs, root, num_ranges=5, n_buckets=8, id_partitions=4,
                completed_ranges=done)
    a = _run(spark, index_dir, prune=False)
    b = search(spark, root, QUERIES, k=K, prune=False).toPandas() \
        .sort_values(["query_id", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


def test_delete_from_index(spark, index_dir, corpus, tmp_path):
    from pdf_to_opensearch_spark.maintenance import delete_from_index

    pdf, _ = corpus
    victims = [u for u in pdf["url"] if "/edge/dup-" in u][:1]
    out = str(tmp_path / "snap")
    delete_from_index(spark, index_dir, out, victims)
    # oracle over the surviving corpus (doc_ids preserved)
    keep = [i for i, u in enumerate(pdf["url"]) if u not in victims]
    texts = list(expected_text(pdf))
    oracle2 = BruteForceBM25(np.array(keep),
                             [texts[i] for i in keep])
    got = search(spark, out, QUERIES, k=K, prune=True).toPandas() \
        .sort_values(["query_id", "rank"], ignore_index=True)
    for qid, qtext in QUERIES:
        want = oracle2.search(qtext, K)
        sub = got[got["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], qtext
        np.testing.assert_allclose(
            sub["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-6)


def test_batch_kernel_matches_per_query(spark, index_dir, corpus):
    """The >32-query batch path must agree with the per-query path."""
    import pandas as pd

    _, oracle = corpus
    big = [(i, q) for i, (qid, q) in enumerate(QUERIES * 5)]
    assert len(big) > 32
    got = (search(spark, index_dir, big, k=K, prune=False).toPandas()
           .sort_values(["query_id", "rank"], ignore_index=True))
    for qid, qtext in big:
        want = oracle.search(qtext, K)
        sub = got[got["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], (qid, qtext)
        np.testing.assert_allclose(sub["score"].to_numpy(),
                                   [s for _, s in want], atol=1e-6)


def test_dense_batch_path_matches_loop_path(spark, index_dir):
    """A ≥16-query batch scores bit for bit like the same batch under
    ``minimum_should_match=1`` (which adds the per-doc hit counter and
    changes nothing else: every matched doc matches ≥1 term) — one
    accumulation rule, whatever masks a call adds."""
    big = [(i, q) for i, (qid, q) in enumerate(QUERIES * 3)]
    assert len(big) >= 16
    plain = (search(spark, index_dir, big, k=K, prune=False).toPandas()
             .sort_values(["query_id", "rank"], ignore_index=True))
    msm = (search(spark, index_dir, big, k=K, prune=False,
                  minimum_should_match=1).toPandas()
           .sort_values(["query_id", "rank"], ignore_index=True))
    pd.testing.assert_frame_equal(plain, msm, check_exact=True)


def test_dense_kernel_gate_both_sides(spark, index_dir, corpus):
    """15- and 16-query batches (the two sides of the former dense-kernel
    gate) score their 15 shared queries bit for bit alike, and within
    1e-6 of BruteForceBM25."""
    _, oracle = corpus
    live = [q for _qid, q in QUERIES if oracle.search(q, 1)]
    batch = [(i, q) for i, q in enumerate((live * 2)[:16])]
    got = {}
    for n in (15, 16):
        got[n] = (search(spark, index_dir, batch[:n], k=K, prune=False)
                  .toPandas().sort_values(["query_id", "rank"],
                                          ignore_index=True))
    assert got[16]["query_id"].nunique() == 16  # every query is live
    pd.testing.assert_frame_equal(
        got[15], got[16][got[16]["query_id"] < 15].reset_index(drop=True),
        check_exact=True)
    for qid, q in batch:
        want = oracle.search(q, K)
        sub = got[16][got[16]["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], (qid, q)
        np.testing.assert_allclose(sub["score"].to_numpy(),
                                   [s for _, s in want], rtol=0, atol=1e-6)


# The batch-independence property: a query's page is the same bit for bit
# alone and inside any batch, under every mask the kernel applies.
WORDS = sorted({t for _qid, text in QUERIES for t in text.lower().split()}
               - {"nonexistentterm12345"})


@st.composite
def _batch_case(draw):
    mode = draw(st.sampled_from(["prune", "exhaustive", "filter", "bool",
                                 "msm", "after"]))
    n = draw(st.integers(1, 64))
    texts = draw(st.lists(st.lists(st.sampled_from(WORDS), min_size=1,
                                   max_size=6).map(" ".join),
                          min_size=n, max_size=n))
    return mode, texts, draw(st.integers(0, n - 1)), draw(
        st.sampled_from(WORDS))


def _pages(frame) -> dict:
    pdf = frame.toPandas().sort_values(["query_id", "rank"])
    return {int(q): (g["doc_id"].to_numpy(), g["score"].to_numpy())
            for q, g in pdf.groupby("query_id")}


@settings(max_examples=30, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(case=_batch_case())
def test_score_is_batch_independent(spark, index_dir, case):
    """score(q alone) == score(q inside a random batch of 1–64 queries),
    bit for bit, with block-max pruning, exhaustive, a metadata filter,
    bool clauses, minimum_should_match and a search_after cursor."""
    from pdf_to_opensearch_spark.boolquery import boolean_search
    from pdf_to_opensearch_spark.query import Searcher

    mode, texts, at, other = case
    qid = at + 1
    batch = list(enumerate(texts, 1))
    s = Searcher(spark, index_dir)
    if mode == "bool":
        def as_bool(text):
            first, *rest = text.split()
            return {"must": first, "should": " ".join(rest),
                    "must_not": other if other != first else ""}

        def run(qs):
            return _pages(boolean_search(
                spark, index_dir, [(i, as_bool(t)) for i, t in qs], k=5))
    else:
        kw = {"prune": mode == "prune"}
        if mode == "filter":
            kw["doc_filter"] = "doc_id % 3 != 1"
        if mode == "msm":
            kw["minimum_should_match"] = 2
        if mode == "after":
            first = _pages(s.search([(qid, texts[at])], k=3, prune=False))
            if qid in first:
                ids, scores = first[qid]
                kw["after"] = {qid: (scores[-1], ids[-1])}

        def run(qs):
            return _pages(s.search(qs, k=5, **kw))
    alone = run([(qid, texts[at])])
    inside = run(batch)
    assert (qid in alone) == (qid in inside)
    if qid in alone:
        np.testing.assert_array_equal(alone[qid][0], inside[qid][0])
        np.testing.assert_array_equal(alone[qid][1], inside[qid][1])


def test_k_edge_cases(spark, index_dir, corpus):
    # k=0 → empty frame, not an error; k >> corpus → every matching doc,
    # ranks dense from 1
    pdf, oracle = corpus
    assert search(spark, index_dir, [(1, "spark index")], k=0).count() == 0
    big = (search(spark, index_dir, [(1, "spark index")], k=10_000_000)
           .toPandas().sort_values("rank", ignore_index=True))
    want = oracle.search("spark index", 10_000_000)
    assert list(big["doc_id"]) == [d for d, _ in want]
    assert list(big["rank"]) == list(range(1, len(want) + 1))


def test_empty_and_punct_queries(spark, index_dir):
    res = search(spark, index_dir, [(1, ""), (2, "!!! ..."), (3, "   ")],
                 k=5)
    assert res.count() == 0


def test_search_after_cursor_pagination(spark, index_dir, corpus):
    """search_after: paging with the previous page's (score, doc_id)
    cursor reproduces the single deep query exactly — three 10-row pages
    stitched together == one k=30 query, scores bit-identical."""
    deep = (search(spark, index_dir, QUERIES, k=30, prune=True)
            .toPandas().sort_values(["query_id", "rank"],
                                    ignore_index=True))
    pages = []
    cursors: dict[int, tuple[float, int]] = {}
    live = list(QUERIES)
    for _page in range(3):
        got = (search(spark, index_dir, live, k=10,
                      after=cursors or None)
               .toPandas().sort_values(["query_id", "rank"],
                                       ignore_index=True))
        pages.append(got)
        cursors = {}
        for qid, _text in live:
            sub = got[got.query_id == qid]
            if len(sub):
                last = sub.iloc[-1]
                cursors[int(qid)] = (float(last.score), int(last.doc_id))
        # a query whose page came back empty (or short) is exhausted —
        # drop it, or the next unfiltered round restarts it from the top
        live = [(qid, t) for qid, t in live
                if int(qid) in cursors
                and len(got[got.query_id == qid]) == 10]
        if not live:
            break
    import pandas as pd

    stitched = pd.concat(pages, ignore_index=True)
    for qid in deep.query_id.unique():
        d = deep[deep.query_id == qid].reset_index(drop=True)
        s = stitched[stitched.query_id == qid].reset_index(drop=True)
        assert list(s.doc_id) == list(d.doc_id), qid
        np.testing.assert_array_equal(s.score.to_numpy(),
                                      d.score.to_numpy())


def test_search_after_exhausted_cursor_is_empty(spark, index_dir):
    """A cursor below every scoring doc returns an empty page, not an
    error."""
    got = search(spark, index_dir, [(1, "spark")], k=10,
                 after={1: (-1.0, 0)}).toPandas()
    assert len(got) == 0


def test_explain_contributions_sum_to_score(spark, index_dir):
    """explain=true parity: Σ per-term contributions == the hit's BM25
    score (within float-summation-order tolerance), and every explained
    pair is one of the query's top-k hits."""
    from pdf_to_opensearch_spark.query import explain_scores

    got = search(spark, index_dir, QUERIES, k=5).toPandas()
    exp = explain_scores(spark, index_dir, QUERIES, k=5).toPandas()
    sums = (exp.groupby(["query_id", "doc_id"])["contribution"].sum()
            .reset_index())
    merged = got.merge(sums, on=["query_id", "doc_id"], how="left")
    assert merged.contribution.notna().all()
    np.testing.assert_allclose(merged.contribution.to_numpy(),
                               merged.score.to_numpy(), rtol=1e-9)
    pairs_exp = set(map(tuple, exp[["query_id", "doc_id"]].values))
    pairs_got = set(map(tuple, got[["query_id", "doc_id"]].values))
    assert pairs_exp == pairs_got


def test_minimum_should_match_vs_bruteforce(spark, index_dir, corpus):
    """minimum_should_match rank-identity: the engine's TAAT segment-count
    mask equals a brute-force 'docs with >= m distinct query terms'
    candidate restriction (OpenSearch match-query msm semantics; scores
    are the unchanged corpus-global BM25 sums)."""
    from pdf_to_opensearch_spark.analyzer import tokenize_text
    from pdf_to_opensearch_spark.query import resolve_msm

    _, oracle = corpus
    msm = "67%"  # 3 terms -> 2, 4 terms -> 2, 6 terms -> 4
    got = search(spark, index_dir, QUERIES, k=K,
                 minimum_should_match=msm).toPandas()
    got = got.sort_values(["query_id", "rank"], ignore_index=True)
    for qid, qtext in QUERIES:
        terms = set(tokenize_text(qtext))
        m = resolve_msm(msm, len(terms))
        tally: dict[int, int] = {}
        for t in terms:
            for d in oracle.index.get(t, {}):
                tally[d] = tally.get(d, 0) + 1
        allowed = {int(oracle.doc_ids[d]) for d, c in tally.items()
                   if c >= m}
        want = oracle.search(qtext, K, allowed=allowed) if allowed else []
        sub = got[got["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], qtext
        np.testing.assert_allclose(
            sub["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-6)


def test_msm_int_and_unmatchable_floor(spark, index_dir):
    """An integer msm above the live-term count matches nothing; msm=1 is
    a no-op vs the plain match query."""
    plain = search(spark, index_dir, [(1, "spark index")], k=K).toPandas()
    one = search(spark, index_dir, [(1, "spark index")], k=K,
                 minimum_should_match=1).toPandas()
    assert list(plain.doc_id) == list(one.doc_id)
    # 'nonexistentterm12345' never matches -> no doc can reach m=2
    none = search(spark, index_dir,
                  [(1, "spark nonexistentterm12345")], k=K,
                  minimum_should_match=2).toPandas()
    assert len(none) == 0


def _split_one_range(root: str) -> None:
    """Move half of one range's postings rows into a second parquet file,
    so that range spans two files and the postings are no longer
    range-aligned."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(root, "postings", "*.parquet")))
    src = max(files, key=os.path.getsize)
    tbl = pq.read_table(src)
    rid = pc.min(tbl["range_id"]).as_py()
    idx = np.flatnonzero(tbl["range_id"].to_numpy() == rid)
    moved = np.zeros(tbl.num_rows, dtype=bool)
    moved[idx[len(idx) // 2:]] = True
    pq.write_table(tbl.filter(pa.array(~moved)), src)
    pq.write_table(tbl.filter(pa.array(moved)),
                   os.path.join(root, "postings", "split-extra.parquet"))


def test_execute_fork_unaligned_postings_match_aligned(spark, index_dir,
                                                       corpus, tmp_path,
                                                       force_side):
    """Both sides of query.execute's unfiltered distributed fork: with
    one range split across two postings files the per-file pyio scan
    would score partial ranges, so execute must take the JVM range_id
    grouping — and every surface must return the rows of the aligned
    index. (The distributed side of the sized decision is pinned; the
    driver side is :func:`test_driver_scan_reads_split_ranges_whole`.)"""
    import glob
    import os
    import shutil

    import pandas as pd
    from pyarrow.fs import LocalFileSystem

    from pdf_to_opensearch_spark.boolquery import fuzzy_search
    from pdf_to_opensearch_spark.indexer import _footers
    from pdf_to_opensearch_spark.query import Searcher, _aligned

    force_side("distributed")
    _, oracle = corpus
    split = str(tmp_path / "split_idx")
    shutil.copytree(index_dir, split)
    _split_one_range(split)
    def aligned(root):
        fs = LocalFileSystem()
        return _aligned(_footers(fs, fs.get_file_info(sorted(
            glob.glob(os.path.join(root, "postings", "*.parquet"))))))

    assert aligned(index_dir)
    assert not aligned(split)

    phrases = [(1, "duplicate content row"), (2, "딸기 육묘는"),
               (3, "spark index")]
    fuzzy = [(1, "sprak indx"), (2, "postng"), (3, "documnt serch")]

    def rows(df):
        return (df.toPandas().sort_values(["query_id", "rank"],
                                          ignore_index=True))

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    got = {}
    for name, root in (("aligned", index_dir), ("split", split)):
        res = search(spark, root, QUERIES, k=K, prune=False)
        # the aligned side reads postings in pyio tasks (no JVM scan);
        # the split side falls back to the JVM scan + range_id grouping
        assert ("Scan parquet" in plan(res)) == (name == "split"), name
        got[name] = (rows(res),
                     rows(Searcher(spark, root).phrase_search(phrases, k=K)),
                     rows(fuzzy_search(spark, root, fuzzy, k=K)))
    for a, b in zip(got["aligned"], got["split"]):
        assert len(a) > 0
        pd.testing.assert_frame_equal(a, b)
    res = got["split"][0]
    for qid, qtext in QUERIES:
        want = oracle.search(qtext, K)
        sub = res[res["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], qtext
        np.testing.assert_allclose(
            sub["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-6)


def test_driver_scan_reads_split_ranges_whole(spark, index_dir, tmp_path):
    """The driver side of query.execute's sized decision reads every
    pruned postings file in one table and groups by range_id across
    files, so a range split over two files is scored whole: on the split
    index search, phrase and fuzzy return the aligned index's rows, and
    each plan is one local relation (no Spark scan)."""
    import shutil

    import pandas as pd

    from pdf_to_opensearch_spark.boolquery import fuzzy_search
    from pdf_to_opensearch_spark.query import Searcher

    split = str(tmp_path / "split_idx")
    shutil.copytree(index_dir, split)
    _split_one_range(split)

    def rows(df):
        tree = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted").split("\n\n")[0]
        assert tree.splitlines()[1:] == ["LocalTableScan (1)"], tree
        return (df.toPandas().sort_values(["query_id", "rank"],
                                          ignore_index=True))

    got = {}
    for name, root in (("aligned", index_dir), ("split", split)):
        got[name] = (
            rows(search(spark, root, QUERIES, k=K, prune=False)),
            rows(Searcher(spark, root).phrase_search(
                [(1, "duplicate content row"), (3, "spark index")], k=K)),
            rows(fuzzy_search(spark, root, [(1, "sprak indx")], k=K)))
    for a, b in zip(got["aligned"], got["split"]):
        assert len(a) > 0
        pd.testing.assert_frame_equal(a, b)


def _rows_after(ranked, after):
    """The oracle's ranked (doc_id, score) rows after a search_after
    cursor: those below the cursor's doc in the oracle's own order (the
    cursor's score is the engine's, so it is matched by doc_id)."""
    if after is None:
        return ranked
    ids = [d for d, _ in ranked]
    return ranked[ids.index(after[1]) + 1:]


SIDE_CASES = {
    "prune": dict(prune=True),
    "exact": dict(prune=False),
    "msm": dict(minimum_should_match="67%"),
    "after": dict(after=True),
    "filter": dict(doc_filter="lang = 'en'"),
    "filter_matches_nothing": dict(doc_filter="doc_id < 0"),
    "filter_empties_a_range": dict(
        doc_filter="range_id <> 1 AND lang <> 'de'"),
}


def _filter_allowed(spark, index_dir, doc_filter):
    """doc_ids of the docs table rows passing ``doc_filter`` (None: no
    filter), read with Spark: the oracle's side of a filtered call."""
    if doc_filter is None:
        return None
    return {int(r.doc_id) for r in spark.read.parquet(f"{index_dir}/docs")
            .filter(doc_filter).select("doc_id").collect()}


def _side_of(tree: str, filtered: bool) -> str:
    """Which side of query.execute's decision planned a ranked page: a
    Python scan task below it (the pyio scan, or the cogroup with the
    allowed docs when filtered) is the distributed side; none is the
    driver."""
    if "InPandas" not in tree:
        return "driver"
    assert ("FlatMapCoGroupsInPandas" if filtered else "MapInPandas") \
        in tree, tree
    return "distributed"


@pytest.mark.parametrize("case", sorted(SIDE_CASES))
def test_execute_sides_agree_and_match_oracle(spark, index_dir, corpus,
                                              force_side, case):
    """Both sides of query.execute's sized decision return the same doc
    ids with bit-identical scores, and both match BruteForceBM25, for
    search with prune on and off, minimum_should_match, a search_after
    cursor and a doc_filter (one that keeps some docs of every range, one
    that keeps none and one that empties a whole range)."""
    from pdf_to_opensearch_spark.analyzer import tokenize_text
    from pdf_to_opensearch_spark.query import resolve_msm

    _, oracle = corpus
    opts = dict(SIDE_CASES[case])
    cursors = None
    if opts.pop("after", False):
        first = search(spark, index_dir, QUERIES, k=3).toPandas()
        cursors = {int(q): (float(g.score.iloc[-1]), int(g.doc_id.iloc[-1]))
                   for q, g in first.sort_values("rank").groupby("query_id")}
        opts["after"] = cursors
    got = {}
    for side in ("driver", "distributed"):
        force_side(side)
        df = search(spark, index_dir, QUERIES, k=K, **opts)
        tree = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted").split("\n\n")[0]
        assert _side_of(tree, "doc_filter" in opts) == side, tree
        got[side] = (df.toPandas()
                     .sort_values(["query_id", "rank"], ignore_index=True))
    drv, dist = got["driver"], got["distributed"]
    assert list(drv.query_id) == list(dist.query_id)
    assert list(drv.doc_id) == list(dist.doc_id)
    assert list(drv["rank"]) == list(dist["rank"])
    np.testing.assert_array_equal(drv.score.to_numpy(), dist.score.to_numpy())
    assert (len(drv) > 0) == (case != "filter_matches_nothing")
    filtered = _filter_allowed(spark, index_dir, opts.get("doc_filter"))
    if case == "filter_empties_a_range":
        ranges = {int(r.doc_id): int(r.range_id) for r in
                  spark.read.parquet(f"{index_dir}/docs").collect()}
        assert 1 not in {ranges[d] for d in filtered}
        assert 1 in set(ranges.values())
    for qid, qtext in QUERIES:
        allowed = filtered
        if case == "msm":
            m = resolve_msm("67%", len(set(tokenize_text(qtext))))
            tally: dict[int, int] = {}
            for t in set(tokenize_text(qtext)):
                for d in oracle.index.get(t, {}):
                    tally[d] = tally.get(d, 0) + 1
            allowed = {int(oracle.doc_ids[d]) for d, c in tally.items()
                       if c >= m}
        want = (oracle.search(qtext, oracle.N, allowed=allowed)
                if allowed is None or allowed else [])
        want = _rows_after(want, (cursors or {}).get(qid))[:K]
        sub = drv[drv["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], (case, qtext)
        np.testing.assert_allclose(
            sub["score"].to_numpy(), [s for _, s in want], rtol=0, atol=1e-6)


def test_below_the_bound_search_and_phrase_run_no_spark_job(spark,
                                                            index_dir):
    """With the default bound the small fixture index is served by the
    driver scan: Searcher.search(...).collect() and
    phrase_search(...).collect() start no Spark job at all."""
    from pdf_to_opensearch_spark.query import Searcher

    sc = spark.sparkContext
    searcher = Searcher(spark, index_dir)
    calls = {
        "search": lambda: searcher.search(QUERIES, k=K).collect(),
        "search_exact": lambda: searcher.search(QUERIES, k=K,
                                                prune=False).collect(),
        "phrase": lambda: searcher.phrase_search(
            [(1, "duplicate content row"), (2, "spark index")],
            k=K).collect(),
    }
    for name, call in calls.items():
        group = f"no-job-{name}"
        sc.setJobGroup(group, group)
        try:
            rows = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows, name
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_sized_decision_counts_bytes_and_queries():
    """The decision's measured side of each probe point (4 slots): a
    point query and a 64-query batch over a few MB run on the driver; a
    1,024-query batch over a 6.5 MB footprint stays distributed, as does
    anything above the driver's byte cap; with one slot there is nothing
    to parallelize, so only the cap decides. A filtered call's allowed
    set (at most N docs) must fit the same cap: the measured 2.7M-doc
    filtered calls run on the driver, one past the cap does not."""
    from pdf_to_opensearch_spark.query import DRIVER_MAX_BYTES, _runs_on_driver

    mb = 1 << 20
    assert _runs_on_driver(int(1.2 * mb), 1, 4)
    assert _runs_on_driver(int(1.2 * mb), 64, 4)
    assert _runs_on_driver(int(6.5 * mb), 256, 4)
    assert not _runs_on_driver(int(6.5 * mb), 1024, 4)
    assert not _runs_on_driver(DRIVER_MAX_BYTES + 1, 1, 4)
    assert _runs_on_driver(DRIVER_MAX_BYTES, 100_000, 1)
    assert not _runs_on_driver(DRIVER_MAX_BYTES + 1, 1, 1)
    assert _runs_on_driver(int(13.4 * mb), 1, 4, 1_000_000)
    assert _runs_on_driver(int(6.7 * mb), 1, 4, 2_700_000)
    assert not _runs_on_driver(0, 1, 4, DRIVER_MAX_BYTES // 12 + 1)


def test_unranked_execute_calls_stay_distributed(spark, index_dir,
                                                force_side):
    """Only ranked calls take the driver side of query.execute: with the
    bound forced to the driver, a hit set (search_count) and a full
    score set under a join (function_score) still read their postings in
    a mapInPandas task, while search's ranked page is a local relation.
    (The pages ranked on Spark expressions, span_near and intervals, are
    in the driver twin of the ranked-surface plan test.)"""
    from pdf_to_opensearch_spark import boolquery as bq

    force_side("driver")
    q = [(1, "spark posting"), (2, "index merge")]
    calls = {
        "search_count": lambda: bq.search_count(spark, index_dir, q),
        "function_score": lambda: bq.function_score_search(
            spark, index_dir, q, k=K),
        "search": lambda: search(spark, index_dir, q, k=K),
    }
    for name, call in calls.items():
        df = call()
        tree = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted").split("\n\n")[0]
        assert ("MapInPandas" in tree) == (name != "search"), (name, tree)
        assert df.count() > 0, name


def test_small_derived_docs_max_both_sides_build_equal_tables(
        spark, tmp_path, monkeypatch):
    """The same corpus built with SMALL_DERIVED_DOCS_MAX at its default
    (driver-side derived tables) and at 0 (the distributed epilogue)
    gives equal dictionary, manifest, stats and docs_meta tables."""
    import pandas as pd

    from pdf_to_opensearch_spark import indexer, tablefs

    pages = make_pages(spark, n_docs=60, seed=13, partitions=2)
    roots = {}
    for name, bound in (("driver", indexer.SMALL_DERIVED_DOCS_MAX),
                        ("distributed", 0)):
        monkeypatch.setattr(indexer, "SMALL_DERIVED_DOCS_MAX", bound)
        roots[name] = str(tmp_path / name)
        build_index(spark, extract_docs(pages), roots[name], num_ranges=3,
                    n_buckets=8, id_partitions=2)
    keys = {"dictionary": ["term"], "manifest": ["range_id"],
            "stats": None, "docs_meta": None}
    clock = {"committed_at", "wall_ms"}  # when each build ran, not what
    for table, key in keys.items():
        a, b = (tablefs.read_small_table(spark, f"{roots[n]}/{table}")
                for n in ("driver", "distributed"))
        assert len(a) > 0, table
        assert sorted(a.columns) == sorted(b.columns), table
        cols = sorted(set(a.columns) - clock)
        key = key or cols
        a = a[cols].sort_values(key, ignore_index=True)
        b = b[cols].sort_values(key, ignore_index=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=False, obj=table)


def test_filter_in_both_sides_of_in_list_max(spark, index_dir):
    """``_filter_in`` forks at ``IN_LIST_MAX``: ≤ that many keys stay a
    literal IN (pushed to the parquet reader as row-group pruning), one
    more becomes a broadcast left-semi join. Both sides return exactly
    the rows whose key is in the list — on a string column (``term``)
    and on a long column (``doc_id``, as ``more_like_this`` passes; the
    join's string-typed key column is cast to bigint implicitly)."""
    from pdf_to_opensearch_spark.query import IN_LIST_MAX, _filter_in

    tables = {
        "term": spark.read.parquet(f"{index_dir}/dictionary"),
        "doc_id": spark.read.parquet(f"{index_dir}/docs"),
    }
    for col, df in tables.items():
        present = sorted(r[col] for r in df.select(col).collect())
        # every other key exists, so both sides match some rows and miss
        # some keys
        absent = ([f"zz{i:04d}" for i in range(IN_LIST_MAX)] if col == "term"
                  else [10_000_000 + i for i in range(IN_LIST_MAX)])
        keys = [x for pair in zip(present, absent) for x in pair]
        assert len(keys) > IN_LIST_MAX, (col, len(keys))
        for n in (IN_LIST_MAX, IN_LIST_MAX + 1):
            got = _filter_in(df, col, keys[:n])
            want = sorted(set(keys[:n]) & set(present))
            assert sorted(r[col] for r in got.select(col).collect()) == want
            plan = got._jdf.queryExecution().executedPlan().toString()
            if n <= IN_LIST_MAX:
                assert "INSET" in plan or " IN (" in plan, (col, n, plan)
                assert "LeftSemi" not in plan, (col, n, plan)
            else:
                assert "LeftSemi" in plan and "Broadcast" in plan, \
                    (col, n, plan)
