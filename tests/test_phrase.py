"""Positional index + match_phrase query vs brute-force oracle."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_opensearch_spark.codec import decode_positions, encode_positions


@given(st.lists(st.lists(st.integers(0, 100000), min_size=1, max_size=30),
                min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip(doc_pos_lists):
    # positions sorted within each doc (as produced by the tokenizer)
    doc_pos_lists = [sorted(p) for p in doc_pos_lists]
    flat = np.array([p for doc in doc_pos_lists for p in doc], dtype=np.int64)
    tfs = np.array([len(p) for p in doc_pos_lists], dtype=np.int64)
    got = decode_positions(encode_positions(flat, tfs), tfs)
    assert np.array_equal(got, flat)


PHRASES = [
    (1, "딸기 육묘는"),           # fixture bigram
    (2, "duplicate content row"),  # dup docs — tie break
    (3, "content duplicate"),      # wrong order → likely no match
    (4, "spark"),                  # single-term phrase == term query
    (5, "missing phrase entirely zzz"),
]


@pytest.fixture(scope="module")
def phrase_setup(spark, tmp_path_factory):
    from pdf_to_opensearch_spark.extract import extract_docs
    from pdf_to_opensearch_spark.indexer import build_index
    from pdf_to_opensearch_spark.oracle import BruteForceBM25
    from pdf_to_opensearch_spark.synth import (
        expected_text,
        make_pages,
        make_pages_pdf,
    )

    root = str(tmp_path_factory.mktemp("phraseidx"))
    pages = make_pages(spark, n_docs=150, seed=21, partitions=4)
    build_index(spark, extract_docs(pages), root, num_ranges=4, n_buckets=8,
                id_partitions=4)
    pdf = make_pages_pdf(n_docs=150, seed=21)
    oracle = BruteForceBM25(np.arange(len(pdf)), list(expected_text(pdf)))
    return root, oracle


def test_phrase_search_matches_oracle(spark, phrase_setup):
    from pdf_to_opensearch_spark.query import phrase_search

    root, oracle = phrase_setup
    got = (phrase_search(spark, root, PHRASES, k=10).toPandas()
           .sort_values(["query_id", "rank"], ignore_index=True))
    for qid, phrase in PHRASES:
        want = oracle.phrase_search(phrase, 10)
        sub = got[got["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], phrase
        np.testing.assert_allclose(sub["score"].to_numpy(),
                                   [s for _, s in want], atol=1e-6)


def test_phrase_with_repeated_term(spark, phrase_setup):
    from pdf_to_opensearch_spark.query import phrase_search

    root, oracle = phrase_setup
    # bigram with a repeated word appears nowhere → must return empty,
    # and the kernel must not crash on same-term-multiple-offsets
    got = phrase_search(spark, root, [(9, "spark spark")], k=5).toPandas()
    want = oracle.phrase_search("spark spark", 5)
    assert list(got["doc_id"]) == [d for d, _ in want]


def test_filtered_phrase_restricts_candidates_only(spark, phrase_setup):
    """doc_filter is the bool/filter context: scores of surviving docs are
    UNCHANGED (corpus-global stats), non-matching docs just disappear."""
    from pdf_to_opensearch_spark.query import phrase_search

    root, _oracle = phrase_setup
    # k > corpus size: both lists are complete, so the filtered result
    # must be exactly the unfiltered one restricted to surviving docs
    full = phrase_search(spark, root, PHRASES, k=500).toPandas()
    filt = phrase_search(spark, root, PHRASES, k=500,
                         doc_filter="doc_id % 2 = 0").toPandas()
    assert (filt["doc_id"] % 2 == 0).all()
    merged = filt.merge(full, on=["query_id", "doc_id"],
                        suffixes=("_f", "_u"))
    assert len(merged) == len(filt)  # every filtered hit exists unfiltered
    np.testing.assert_allclose(merged["score_f"], merged["score_u"],
                               atol=1e-12)


def test_searcher_parity_with_module_functions(spark, phrase_setup):
    """Searcher.search/phrase_search (resident stats/dictionary) must be
    row-identical to the module-level functions, filters included."""
    from pdf_to_opensearch_spark.query import (
        Searcher,
        phrase_search,
        search,
    )

    root, _oracle = phrase_setup
    s = Searcher(spark, root, preload_dictionary=True)
    queries = [(1, "spark index"), (2, "the content")]
    for flt in (None, "doc_id % 3 = 0"):
        a = (search(spark, root, queries, k=10, doc_filter=flt)
             .toPandas().sort_values(["query_id", "rank"],
                                     ignore_index=True))
        b = (s.search(queries, k=10, doc_filter=flt)
             .toPandas().sort_values(["query_id", "rank"],
                                     ignore_index=True))
        assert a.equals(b), f"search mismatch (filter={flt})"
        ap = (phrase_search(spark, root, PHRASES, k=10, doc_filter=flt)
              .toPandas().sort_values(["query_id", "rank"],
                                      ignore_index=True))
        bp = (s.phrase_search(PHRASES, k=10, doc_filter=flt)
              .toPandas().sort_values(["query_id", "rank"],
                                      ignore_index=True))
        assert ap.equals(bp), f"phrase mismatch (filter={flt})"


# ------------------------------------------------ slop (ordered window)

def _slop_tf(toks: list[str], terms: list[str], slop: int) -> int:
    """Pure-python ordered-window anchor count (the slop contract)."""
    n = len(terms)
    count = 0
    for i, tok in enumerate(toks):
        if tok != terms[0]:
            continue
        prev, ok = i, True
        for t in terms[1:]:
            nxt = next((j for j in range(prev + 1, min(i + n + slop,
                                                       len(toks)))
                        if toks[j] == t), None)
            if nxt is None:
                ok = False
                break
            prev = nxt
        count += ok
    return count


def test_phrase_slop_vs_brute(spark, phrase_setup):
    """slop ∈ {1, 3}: engine matches the pure-python ordered-window
    reimplementation doc-for-doc and score-for-score."""
    from pdf_to_opensearch_spark.oracle import idf as idf_fn
    from pdf_to_opensearch_spark.query import phrase_search

    root, oracle = phrase_setup
    cases = [(1, "duplicate row"), (2, "spark posting"),
             (3, "content duplicate")]
    for slop in (1, 3):
        got = (phrase_search(spark, root, cases, k=20, slop=slop)
               .toPandas().sort_values(["query_id", "rank"],
                                       ignore_index=True))
        for qid, phrase in cases:
            terms = phrase.split()
            idf_sum = sum(float(idf_fn(oracle.N,
                                       np.array([len(oracle.index.get(
                                           t, {}))]))[0])
                          for t in terms)
            scores = []
            for d, toks in enumerate(oracle.doc_tokens):
                tf = _slop_tf(toks, terms, slop)
                if tf == 0:
                    continue
                dl = float(oracle.dl[d])
                tn = tf * 2.2 / (tf + 1.2 * (1 - 0.75
                                             + 0.75 * dl / oracle.avgdl))
                scores.append((d, idf_sum * tn))
            want = sorted(scores, key=lambda kv: (-kv[1], kv[0]))[:20]
            sub = got[got["query_id"] == qid]
            assert list(sub["doc_id"]) == [d for d, _ in want], \
                (slop, phrase)
            np.testing.assert_allclose(sub["score"].to_numpy(),
                                       [s for _, s in want], atol=1e-6)


@pytest.mark.parametrize("slop", [0, 2])
def test_execute_sides_agree_and_match_brute(spark, phrase_setup,
                                             force_side, slop):
    """Both sides of query.execute's sized decision give the same phrase
    hits with bit-identical scores, at slop 0 (checked against
    BruteForceBM25.phrase_search) and slop 2 (against the ordered-window
    brute force)."""
    _phrase_sides_agree(spark, phrase_setup, force_side, slop, None)


FILTERS = {
    "some": "doc_id % 2 = 0",
    "nothing": "doc_id < 0",
    "empties_a_range": "range_id <> 1",
}


@pytest.mark.parametrize("slop", [0, 2])
@pytest.mark.parametrize("flt", sorted(FILTERS))
def test_filtered_execute_sides_agree_and_match_brute(spark, phrase_setup,
                                                      force_side, slop, flt):
    """The same two-sided check with a doc_filter: the driver side
    collects the allowed docs and runs the kernel on each range's allowed
    ids, the distributed side cogroups them with the postings scan."""
    _phrase_sides_agree(spark, phrase_setup, force_side, slop, FILTERS[flt])


def _phrase_sides_agree(spark, phrase_setup, force_side, slop, doc_filter):
    from pdf_to_opensearch_spark.oracle import idf as idf_fn
    from pdf_to_opensearch_spark.query import phrase_search

    root, oracle = phrase_setup
    cases = [(1, "duplicate content row"), (2, "spark posting"),
             (3, "content duplicate")]
    allowed = None
    if doc_filter is not None:
        docs = spark.read.parquet(f"{root}/docs")
        allowed = {int(r.doc_id) for r in
                   docs.filter(doc_filter).select("doc_id").collect()}
        if "range_id" in doc_filter:
            assert docs.filter("range_id = 1").count() > 0
    got = {}
    for side in ("driver", "distributed"):
        force_side(side)
        df = phrase_search(spark, root, cases, k=20, slop=slop,
                           doc_filter=doc_filter)
        tree = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted").split("\n\n")[0]
        marker = ("MapInPandas" if doc_filter is None
                  else "FlatMapCoGroupsInPandas")
        assert (marker in tree) == (side == "distributed"), tree
        assert ("InPandas" in tree) == (side == "distributed"), tree
        got[side] = (df.toPandas()
                     .sort_values(["query_id", "rank"], ignore_index=True))
    drv, dist = got["driver"], got["distributed"]
    assert (len(drv) > 0) == (allowed is None or bool(allowed))
    assert list(drv.query_id) == list(dist.query_id)
    assert list(drv.doc_id) == list(dist.doc_id)
    np.testing.assert_array_equal(drv.score.to_numpy(), dist.score.to_numpy())
    for qid, phrase in cases:
        if slop == 0:
            want = oracle.phrase_search(phrase, oracle.N)
        else:
            terms = phrase.split()
            idf_sum = sum(float(idf_fn(oracle.N, np.array(
                [len(oracle.index.get(t, {}))]))[0]) for t in terms)
            scores = []
            for d, toks in enumerate(oracle.doc_tokens):
                tf = _slop_tf(toks, terms, slop)
                if tf:
                    dl = float(oracle.dl[d])
                    scores.append((d, idf_sum * tf * 2.2 / (
                        tf + 1.2 * (1 - 0.75 + 0.75 * dl / oracle.avgdl))))
            want = sorted(scores, key=lambda kv: (-kv[1], kv[0]))
        want = [(d, s) for d, s in want
                if allowed is None or d in allowed][:20]
        sub = drv[drv["query_id"] == qid]
        assert list(sub["doc_id"]) == [d for d, _ in want], (slop, phrase)
        np.testing.assert_allclose(sub["score"].to_numpy(),
                                   [s for _, s in want], atol=1e-6)


def test_phrase_slop_widens_match_set(spark, phrase_setup):
    """A slop window can only ADD matches relative to exact phrase."""
    from pdf_to_opensearch_spark.query import phrase_search

    root, _ = phrase_setup
    q = [(1, "duplicate content row")]
    exact = set(phrase_search(spark, root, q, k=200).toPandas().doc_id)
    sloppy = set(phrase_search(spark, root, q, k=200, slop=4)
                 .toPandas().doc_id)
    assert exact <= sloppy
