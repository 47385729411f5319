"""Boolean / prefix / facet / highlight query surfaces vs brute-force
oracles (boolquery.py; reference bool-query builder
opensearch_loader.py:395-441)."""

import numpy as np
import pandas as pd
import pytest

from pdf_to_opensearch_spark.analyzer import tokenize_text
from pdf_to_opensearch_spark.boolquery import (
    boolean_search,
    highlight_snippets,
    prefix_search,
    search_facets,
)
from pdf_to_opensearch_spark.extract import extract_docs
from pdf_to_opensearch_spark.indexer import build_index
from pdf_to_opensearch_spark.oracle import BruteForceBM25
from pdf_to_opensearch_spark.query import search
from pdf_to_opensearch_spark.synth import expected_text, make_pages, make_pages_pdf

K = 10


@pytest.fixture(scope="module")
def corpus():
    pdf = make_pages_pdf(n_docs=250, seed=7)
    texts = list(expected_text(pdf))
    pdf = pdf.sort_values("url", ignore_index=True)
    return pdf, BruteForceBM25(np.arange(len(pdf)), texts)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("boolindex"))
    pages = make_pages(spark, n_docs=250, seed=7, partitions=4)
    docs = extract_docs(pages)
    build_index(spark, docs, root, num_ranges=4, n_buckets=8,
                id_partitions=4)
    return root


def _bool_allowed(oracle: BruteForceBM25, must: str, mnot: str) -> set[int]:
    """Doc ids containing EVERY must term and NO must_not term."""
    ok = set(int(d) for d in oracle.doc_ids)
    for t in tokenize_text(must):
        have = {int(oracle.doc_ids[i])
                for i in oracle.index.get(t, {})}
        ok &= have
    for t in tokenize_text(mnot):
        ok -= {int(oracle.doc_ids[i]) for i in oracle.index.get(t, {})}
    return ok


BOOL_CASES = [
    {"must": "spark index", "should": "posting merge"},
    {"must": "document", "should": "query score", "must_not": "stream"},
    {"should": "token search", "must_not": "spark"},
    {"must": "nonexistentterm12345", "should": "spark"},  # must absent: 0 hits
]


def test_boolean_vs_brute(spark, index_dir, corpus):
    _, oracle = corpus
    queries = [(i + 1, q) for i, q in enumerate(BOOL_CASES)]
    got = (boolean_search(spark, index_dir, queries, k=K).toPandas()
           .sort_values(["query_id", "rank"], ignore_index=True))
    for qid, q in queries:
        allowed = _bool_allowed(oracle, q.get("must", ""),
                                q.get("must_not", ""))
        scoring = (q.get("must", "") + " " + q.get("should", "")).strip()
        if q.get("must") and any(
                t not in oracle.index for t in tokenize_text(q["must"])):
            exp = []
        else:
            exp = oracle.search(scoring, k=K, allowed=allowed)
        sub = got[got.query_id == qid]
        assert list(sub.doc_id) == [d for d, _ in exp], f"qid {qid}"
        np.testing.assert_allclose(sub.score.to_numpy(),
                                   [s for _, s in exp], rtol=1e-9)


def test_boolean_constraints_hold(spark, index_dir, corpus):
    pdf, _ = corpus
    toks = [set(tokenize_text(t)) for t in pdf["text"]]
    queries = [(1, BOOL_CASES[1])]
    got = boolean_search(spark, index_dir, queries, k=50).toPandas()
    assert len(got) > 0
    for d in got.doc_id:
        assert "document" in toks[int(d)]
        assert "stream" not in toks[int(d)]


def test_prefix_equals_expanded_search(spark, index_dir, corpus):
    """PrefixQuery(scoring_boolean) == match query over the expansion
    terms listed once each (weight = idf in both)."""
    _, oracle = corpus
    pref = "po"  # posting, pool, ... whatever the synth vocab holds
    exp_terms = sorted(t for t in oracle.index if t.startswith(pref))[:50]
    assert exp_terms, "fixture vocabulary must contain a 'po' term"
    got = (prefix_search(spark, index_dir, [(1, pref)], k=K)
           .toPandas().sort_values("rank", ignore_index=True))
    want = (search(spark, index_dir, [(1, " ".join(exp_terms))], k=K,
                   prune=True)
            .toPandas().sort_values("rank", ignore_index=True))
    assert list(got.doc_id) == list(want.doc_id)
    np.testing.assert_allclose(got.score.to_numpy(), want.score.to_numpy(),
                               rtol=1e-12)


def test_prefix_no_match_is_empty(spark, index_dir):
    got = prefix_search(spark, index_dir, [(1, "zzzzqqq")], k=K).toPandas()
    assert len(got) == 0


def test_prefix_batch_single_expansion_pass(spark, index_dir, force_side):
    """Batched dictionary expansion: a multi-query batch of every
    expanding surface (prefix, wildcard, regexp, match_phrase_prefix)
    must (a) return exactly the union of per-query results and (b)
    expand every query in ONE dictionary job — a per-query loop runs
    one Spark job per prefix/pattern. (Spark side of the expansion's
    sized decision.)"""
    force_side("distributed")
    _batch_expansion_check(spark, index_dir, "distributed")


def test_prefix_batch_expansion_on_the_driver(spark, index_dir, force_side):
    """Driver twin of test_prefix_batch_single_expansion_pass: the same
    union and job-count checks with the expansion and the ranked scan on
    the driver, where a prefix or wildcard batch runs no Spark job at
    all."""
    force_side("driver")
    jobs = _batch_expansion_check(spark, index_dir, "driver")
    assert jobs["prefix"] == jobs["wildcard"] == (0, 0), jobs


def _batch_expansion_check(spark, index_dir, side: str) -> dict:
    """The checks of the two tests above; returns {surface: (jobs of one
    query, jobs of the 4-query batch)} (job groups tagged by ``side``)."""
    from pdf_to_opensearch_spark.boolquery import (
        match_phrase_prefix_search,
        regexp_search,
        wildcard_search,
    )

    cases = {
        "prefix": (prefix_search,
                   [(1, "po"), (2, "s"), (3, "do"), (4, "w00")]),
        "wildcard": (wildcard_search,
                     [(1, "po*"), (2, "s?ark"), (3, "d*t"), (4, "w00*")]),
        "regexp": (regexp_search,
                   [(1, "po.*"), (2, "s[a-z]+"), (3, "d.*t"), (4, "w00.")]),
        "match_phrase_prefix": (match_phrase_prefix_search,
                                [(1, "posting me"), (2, "spark in"),
                                 (3, "the do"), (4, "index s")]),
    }
    tracker = spark.sparkContext.statusTracker()

    def count_jobs(fn, tag, queries):
        spark.sparkContext.setJobGroup(tag, "expansion batch")
        try:
            out = fn(spark, index_dir, queries, k=K).collect()
            out = pd.DataFrame([r.asDict() for r in out],
                               columns=["query_id", "rank", "doc_id",
                                        "score"])
            return out, len(tracker.getJobIdsForGroup(tag))
        finally:
            spark.sparkContext.setJobGroup(None, None)

    jobs = {}
    for name, (fn, queries) in cases.items():
        per_q = {qid: (fn(spark, index_dir, [(qid, q)], k=K).toPandas()
                       .sort_values("rank", ignore_index=True))
                 for qid, q in queries}
        assert any(len(v) for v in per_q.values()), name
        _one, jobs1 = count_jobs(fn, f"{name}_b1_{side}", queries[:1])
        batch, jobs4 = count_jobs(fn, f"{name}_b4_{side}", queries)
        # job count must be independent of the batch size (a per-query
        # expansion loop runs jobs4 ≈ jobs1 + 3)
        assert jobs4 <= jobs1, \
            f"{name}: 1 query: {jobs1} jobs, 4 queries: {jobs4}"
        jobs[name] = (jobs1, jobs4)
        for qid, _q in queries:
            sub = (batch[batch["query_id"] == qid]
                   .sort_values("rank", ignore_index=True))
            want = per_q[qid]
            assert list(sub["doc_id"]) == list(want["doc_id"]), (name, qid)
            np.testing.assert_allclose(sub["score"].to_numpy(),
                                       want["score"].to_numpy(), rtol=0)
    return jobs


def _expansion_rows(spark, index_dir, force_side, probes, kind, cut,
                    order=("term",), max_edits=0) -> list:
    """``_expand``'s rows on each side: asserts they are equal and
    returns them."""
    from pdf_to_opensearch_spark.boolquery import _expand
    from pdf_to_opensearch_spark.indexer import IndexPaths

    got = {}
    for side in ("driver", "distributed"):
        force_side(side)
        got[side] = _expand(spark, IndexPaths(index_dir), probes, kind, cut,
                            order=order, max_edits=max_edits)
    assert got["driver"] == got["distributed"], (kind, probes, cut)
    return got["driver"]


def _cut_at_a_tie(rows: list, col: str) -> int:
    """A cut that falls between two rows of one probe tied on ``col``."""
    for i in range(1, len(rows)):
        if (rows[i - 1]["key"] == rows[i]["key"]
                and rows[i - 1][col] == rows[i][col]):
            first = next(j for j, r in enumerate(rows)
                         if r["key"] == rows[i]["key"])
            return i - first
    raise AssertionError(f"fixture dictionary has no {col} tie")


EXPANSION_CASES = {
    # prefix: ASCII, Korean, a probe with no match (the prefix_search and
    # match_phrase_prefix form)
    "prefix": ("prefix", [(1, "po"), (2, "s"), (3, "w00"), (4, "딸"),
                          (5, "zzqq")], ("term",), 0),
    # like: the wildcard_search and query_string wildcard-leg form
    "like": ("like", [(1, "po%"), (2, "s_ark"), (3, "d%t"), (4, "%기"),
                      (5, "___"), (6, "zz%")], ("term",), 0),
    "fuzzy1": ("fuzzy", [(0, "sparc"), (1, "documnt"), (2, "딸기"),
                         (3, "육묘"), (4, "w001"), (5, "zqzqzqzq")],
               ("dist", "term"), 1),
    "fuzzy2": ("fuzzy", [(0, "sprak"), (1, "documnt"), (2, "postng"),
                         (3, "딸기"), (4, "zqzqzqzq")], ("dist", "term"), 2),
    # completion_suggest's order: df desc, term asc
    "completion": ("prefix", [(1, "s"), (2, "w0"), (3, "딸"), (4, "zzqq")],
                   ("-df", "term"), 0),
}


@pytest.mark.parametrize("case", sorted(EXPANSION_CASES))
def test_expand_sides_return_equal_rows(spark, index_dir, force_side, case):
    """The dictionary expansion's driver pass returns exactly the Spark
    pass's rows, over the fixture dictionary (Korean terms included): at
    max_expansions 50, at 1, and at a cut that falls inside a tie of the
    order's leading column (distance ties for fuzzy, df ties for the
    completion order); a probe without matches contributes no row."""
    kind, probes, order, max_edits = EXPANSION_CASES[case]
    full = _expansion_rows(spark, index_dir, force_side, probes, kind,
                           1 << 30, order, max_edits)
    keys = {r["key"] for r in full}
    assert len(keys) == len(probes) - 1, keys  # the last probe: no match
    assert any(ord(r["term"][0]) > 0x3000 for r in full), "no Korean term"
    cuts = [50, 1]
    if order[0] != "term":  # terms are unique: only other keys can tie
        cuts.append(_cut_at_a_tie(full, order[0].lstrip("-")))
    for cut in cuts:
        rows = _expansion_rows(spark, index_dir, force_side, probes, kind,
                               cut, order, max_edits)
        for key in keys:
            mine = [r for r in full if r["key"] == key][:cut]
            assert [r for r in rows if r["key"] == key] == mine, (key, cut)


def test_fuzzy_driver_pass_with_one_very_long_term(spark, tmp_path,
                                                   force_side):
    """A dictionary with one 40,000-character term (an unspaced run in a
    PDF is one token): the driver's fuzzy pass holds code points only
    for the terms within max_edits of a probe's length, so its peak
    allocation stays far below rows × longest term × 4 bytes (80 MB
    here), and its rows equal the Spark pass's."""
    import tracemalloc

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_to_opensearch_spark.boolquery import _expand
    from pdf_to_opensearch_spark.indexer import IndexPaths

    rng = np.random.default_rng(7)
    letters = list("abcdefgh") + ["딸", "기"]
    terms = sorted({"".join(rng.choice(letters, int(rng.integers(3, 9))))
                    for _ in range(600)})[:499] + ["ab" * 20_000]
    paths = IndexPaths(str(tmp_path))
    (tmp_path / "dictionary").mkdir()
    pq.write_table(pa.table({"term": terms,
                             "df": rng.integers(1, 50, len(terms))}),
                   str(tmp_path / "dictionary" / "part-0.parquet"))
    probes = [(i, t[:-1] + "x") for i, t in enumerate(terms[:20])]
    force_side("driver")
    tracemalloc.start()
    try:
        driver = _expand(spark, paths, probes, "fuzzy", 50,
                         order=("dist", "term"), max_edits=2)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 << 20, peak
    assert driver and all(len(r["term"]) < 10 for r in driver)
    force_side("distributed")
    assert driver == _expand(spark, paths, probes, "fuzzy", 50,
                             order=("dist", "term"), max_edits=2)


@pytest.mark.parametrize("surface", ["match_phrase_prefix", "query_string"])
def test_expanding_surfaces_agree_across_expansion_sides(spark, index_dir,
                                                         force_side, surface):
    """match_phrase_prefix (prefix expansion) and query_string (its
    wildcard leg, a LIKE expansion) return identical pages whichever side
    expands, including max_expansions=1."""
    from pdf_to_opensearch_spark.boolquery import (
        match_phrase_prefix_search,
        query_string_search,
    )

    if surface == "match_phrase_prefix":
        fn, queries = match_phrase_prefix_search, [
            (1, "posting me"), (2, "spark in"), (3, "index zzqq")]
    else:
        fn, queries = query_string_search, [
            (1, '+spark -stream doc*'), (2, 'po* s?ark'), (3, 'zzqq*')]
    for max_exp in (50, 1):
        got = {}
        for side in ("driver", "distributed"):
            force_side(side)
            got[side] = (fn(spark, index_dir, queries, k=K,
                            max_expansions=max_exp).toPandas()
                         .sort_values(["query_id", "rank"],
                                      ignore_index=True))
        assert len(got["driver"]) > 0
        pd.testing.assert_frame_equal(got["driver"], got["distributed"])


def test_facets_vs_brute(spark, index_dir, corpus):
    pdf, oracle = corpus
    query = "spark document"
    got = (search_facets(spark, index_dir, [(1, query)],
                         facet_col="lang", n=10)
           .toPandas().sort_values("rank", ignore_index=True))
    match_idx = set()
    for t in tokenize_text(query):
        match_idx |= set(oracle.index.get(t, {}))
    langs = pdf["lang"].to_numpy()
    counts: dict[str, int] = {}
    for i in match_idx:
        counts[langs[i]] = counts.get(langs[i], 0) + 1
    exp = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert list(zip(got.facet_value, got.doc_count)) == [
        (v, c) for v, c in exp]


def test_highlight_window(spark, index_dir, corpus):
    pdf, _ = corpus
    query = "spark posting"
    width = 30
    got = highlight_snippets(spark, index_dir, [(1, query)], k=5,
                             width=width).toPandas()
    assert len(got) > 0
    terms = sorted(set(tokenize_text(query)))
    texts = pdf["text"].tolist()
    for row in got.itertuples():
        text = texts[int(row.doc_id)]
        poss = [text.lower().find(t) + 1 for t in terms
                if text.lower().find(t) >= 0]
        if poss:
            p = min(poss)
            start = max(p - width, 1)
            assert row.snippet == text[start - 1:start - 1 + 2 * width]
        else:
            assert row.snippet == ""


# ------------------------- fuzzy / wildcard / more_like_this expansions

def _lev(a: str, b: str) -> int:
    """Plain DP Levenshtein (unit costs) — the semantics of both
    F.levenshtein and Lucene's FuzzyTermsEnum distance."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _tfnorm(oracle, term, k1=1.2, b=0.75):
    postings = oracle.index.get(term, {})
    out = {}
    for i, tf in postings.items():
        dl = float(oracle.dl[i])
        out[i] = tf * (k1 + 1) / (
            tf + k1 * (1 - b + b * dl / oracle.avgdl))
    return out


def _fuzzy_brute(oracle, qtext: str, max_edits: int, max_exp: int,
                 k: int) -> list[tuple[int, float]]:
    """Brute-force fuzzy top-k: per source token the closest-first
    Levenshtein-≤max_edits expansion cut at max_exp, each term weighted
    (1 − d/|src|)·idf and accumulated across source tokens."""
    from pdf_to_opensearch_spark.oracle import idf as idf_fn

    vocab = sorted(oracle.index)
    weights: dict[str, float] = {}
    for src in tokenize_text(qtext):
        exp = sorted(((_lev(t, src), t) for t in vocab
                      if _lev(t, src) <= max_edits))[:max_exp]
        for d, t in exp:
            boost = 1.0 - d / len(src)
            if boost <= 0:
                continue
            w = float(idf_fn(oracle.N, np.array([len(oracle.index[t])]))[0])
            weights[t] = weights.get(t, 0.0) + boost * w
    scores: dict[int, float] = {}
    for t, w in weights.items():
        for i, tn in _tfnorm(oracle, t).items():
            scores[i] = scores.get(i, 0.0) + w * tn
    return sorted(((int(oracle.doc_ids[i]), s)
                   for i, s in scores.items() if s > 0),
                  key=lambda kv: (-kv[1], kv[0]))[:k]


def test_fuzzy_vs_brute(spark, index_dir, corpus):
    """FuzzyQuery: Levenshtein-≤2 expansion, closest-first cut at
    max_expansions, per-term weight (1 − d/|src|)·idf accumulated across
    source tokens, scored as a weighted disjunction."""
    from pdf_to_opensearch_spark.boolquery import fuzzy_search

    _, oracle = corpus
    queries = [(1, "sprak"), (2, "documnt postng"), (3, "zqzqzqzq")]
    max_edits, max_exp, k = 2, 50, K
    got = fuzzy_search(spark, index_dir, queries, k=k,
                       max_edits=max_edits,
                       max_expansions=max_exp).toPandas()
    for qid, qtext in queries:
        exp_rank = _fuzzy_brute(oracle, qtext, max_edits, max_exp, k)
        sub = got[got.query_id == qid].sort_values("rank")
        assert list(sub.doc_id) == [d for d, _ in exp_rank], f"qid {qid}"
        np.testing.assert_allclose(sub.score.to_numpy(),
                                   [s for _, s in exp_rank], rtol=1e-9)


FILTERS = {
    "fuzzy_filter": "lang = 'en'",
    "fuzzy_filter_matches_nothing": "doc_id < 0",
    "fuzzy_filter_empties_a_range": "range_id <> 1",
}
SIDE_CASES = ("bool", "boosting", "fuzzy", "prefix", "wildcard", "regexp",
              "more_like_this", *FILTERS)


def _expanded_brute(oracle, pattern: str, k: int) -> list:
    """The scoring_boolean rewrite's oracle: the first 50 vocabulary terms
    (term order) that fully match the Python regex ``pattern``, scored as
    one unweighted match query."""
    import re

    exp = sorted(t for t in oracle.index if re.fullmatch(pattern, t))[:50]
    return oracle.search(" ".join(exp), k) if exp else []


@pytest.mark.parametrize("case", SIDE_CASES)
def test_execute_sides_agree_and_match_brute(spark, index_dir, corpus,
                                             force_side, case):
    """Both sides of query.execute's sized decision (and of the dictionary
    expansion's, which the same constant pins) give the same doc ids with
    bit-identical scores for bool, boosting, fuzzy, prefix, wildcard,
    regexp, more_like_this and filtered fuzzy calls, and both match the
    brute-force oracles."""
    from pdf_to_opensearch_spark.boolquery import (
        boosting_search,
        fuzzy_search,
        more_like_this,
        regexp_search,
        wildcard_search,
    )

    pdf, oracle = corpus
    doc_filter = FILTERS.get(case)
    allowed = None
    if doc_filter is not None:
        docs = spark.read.parquet(f"{index_dir}/docs")
        allowed = {int(r.doc_id) for r in
                   docs.filter(doc_filter).select("doc_id").collect()}
        assert docs.filter("range_id = 1").count() > 0
    if case == "bool":
        queries = [(i + 1, q) for i, q in enumerate(BOOL_CASES)]
        run = lambda: boolean_search(spark, index_dir, queries, k=K)  # noqa
    elif case == "boosting":
        queries = [(1, {"positive": "spark posting merge",
                        "negative": "duplicate"}),
                   (2, {"positive": "index document", "negative": "spark"})]
        run = lambda: boosting_search(spark, index_dir, queries, k=K,  # noqa
                                      negative_boost=0.4)
    elif case == "fuzzy" or doc_filter is not None:
        queries = [(1, "sprak"), (2, "documnt postng")]
        run = lambda: fuzzy_search(spark, index_dir, queries, k=K,  # noqa
                                   doc_filter=doc_filter)
    elif case == "wildcard":
        queries = [(1, "po*"), (2, "s?ark"), (3, "d*t")]
        run = lambda: wildcard_search(spark, index_dir, queries, k=K)  # noqa
    elif case == "regexp":
        queries = [(1, "pos.*|mer.e"), (2, "s[a-z]+"), (3, "ost")]
        run = lambda: regexp_search(spark, index_dir, queries, k=K)  # noqa
    elif case == "more_like_this":
        queries = [(1, 5), (2, 17)]
        run = lambda: more_like_this(spark, index_dir, queries, k=K,  # noqa
                                     max_query_terms=10, min_term_freq=2,
                                     min_doc_freq=2)
    else:
        queries = [(1, "po"), (2, "sp"), (3, "do")]
        run = lambda: prefix_search(spark, index_dir, queries, k=K)  # noqa
    marker = "MapInPandas" if allowed is None else "FlatMapCoGroupsInPandas"
    got = {}
    for side in ("driver", "distributed"):
        force_side(side)
        df = run()
        tree = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted").split("\n\n")[0]
        assert (marker in tree) == (side == "distributed"), tree
        assert ("InPandas" in tree) == (side == "distributed"), tree
        got[side] = (df.toPandas()
                     .sort_values(["query_id", "rank"], ignore_index=True))
    drv, dist = got["driver"], got["distributed"]
    assert (len(drv) > 0) == (allowed is None or bool(allowed))
    assert list(drv.query_id) == list(dist.query_id)
    assert list(drv.doc_id) == list(dist.doc_id)
    np.testing.assert_array_equal(drv.score.to_numpy(), dist.score.to_numpy())
    for qid, q in queries:
        if case == "bool":
            allowed = _bool_allowed(oracle, q.get("must", ""),
                                    q.get("must_not", ""))
            scoring = (q.get("must", "") + " " + q.get("should", "")).strip()
            want = ([] if q.get("must") and any(
                t not in oracle.index for t in tokenize_text(q["must"]))
                else oracle.search(scoring, k=K, allowed=allowed))
        elif case == "boosting":
            neg = set()
            for t in tokenize_text(q["negative"]):
                neg |= set(oracle.index.get(t, {}))
            demoted = sorted((-(s * 0.4 if d in neg else s), d)
                             for d, s in oracle.search(q["positive"],
                                                       k=oracle.N))
            want = [(d, -ns) for ns, d in demoted[:K]]
        elif case == "fuzzy":
            want = _fuzzy_brute(oracle, q, 2, 50, K)
        elif allowed is not None:
            want = [(d, s) for d, s in _fuzzy_brute(oracle, q, 2, 50,
                                                    oracle.N)
                    if d in allowed][:K]
        elif case == "wildcard":
            want = _expanded_brute(
                oracle, q.replace("*", ".*").replace("?", "."), K)
        elif case == "regexp":
            want = _expanded_brute(oracle, q, K)
        elif case == "more_like_this":
            want = _mlt_brute(pdf, oracle, q, 10, 2, 2, K)
        else:
            exp = sorted(t for t in oracle.index if t.startswith(q))[:50]
            want = oracle.search(" ".join(exp), K)
        sub = drv[drv.query_id == qid]
        assert list(sub.doc_id) == [d for d, _ in want], (case, qid)
        np.testing.assert_allclose(sub.score.to_numpy(),
                                   [s for _, s in want], rtol=1e-9)


def test_wildcard_prefix_equivalence(spark, index_dir, corpus):
    """The pattern ``po*`` IS the prefix query ``po`` — identical rewrite,
    identical scores."""
    from pdf_to_opensearch_spark.boolquery import wildcard_search

    got = (wildcard_search(spark, index_dir, [(1, "po*")], k=K)
           .toPandas().sort_values("rank", ignore_index=True))
    want = (prefix_search(spark, index_dir, [(1, "po")], k=K)
            .toPandas().sort_values("rank", ignore_index=True))
    assert list(got.doc_id) == list(want.doc_id)
    np.testing.assert_allclose(got.score.to_numpy(), want.score.to_numpy(),
                               rtol=1e-12)


def test_wildcard_single_char_hole(spark, index_dir, corpus):
    """``?`` matches exactly one character; expansion == regex over the
    vocabulary, scored as the unweighted expanded match query."""
    import re

    from pdf_to_opensearch_spark.boolquery import wildcard_search

    _, oracle = corpus
    pat = "s?ark"
    rx = re.compile("^s.ark$")
    exp_terms = sorted(t for t in oracle.index if rx.match(t))[:50]
    assert exp_terms, "vocab must hold an s?ark term (spark)"
    got = (wildcard_search(spark, index_dir, [(1, pat)], k=K)
           .toPandas().sort_values("rank", ignore_index=True))
    want = (search(spark, index_dir, [(1, " ".join(exp_terms))], k=K,
                   prune=True)
            .toPandas().sort_values("rank", ignore_index=True))
    assert list(got.doc_id) == list(want.doc_id)
    np.testing.assert_allclose(got.score.to_numpy(), want.score.to_numpy(),
                               rtol=1e-12)


def test_mlt_selection_and_seed_exclusion(spark, index_dir, corpus):
    """more_like_this == match query over the top tf·idf seed terms
    (min_tf/min_df gates), with the seed doc dropped from the hits."""
    from pdf_to_opensearch_spark.boolquery import more_like_this

    pdf, oracle = corpus
    seed, max_terms, min_tf, min_df = 5, 10, 2, 2
    got = (more_like_this(spark, index_dir, [(1, seed)], k=K,
                          max_query_terms=max_terms, min_term_freq=min_tf,
                          min_doc_freq=min_df)
           .toPandas().sort_values("rank", ignore_index=True))
    assert seed not in set(got.doc_id)
    want = _mlt_brute(pdf, oracle, seed, max_terms, min_tf, min_df, K)
    assert list(got.doc_id) == [d for d, _ in want]
    np.testing.assert_allclose(got.score.to_numpy(),
                               [s for _, s in want], rtol=1e-9)


def _mlt_brute(pdf, oracle, seed: int, max_terms: int, min_tf: int,
               min_df: int, k: int) -> list[tuple[int, float]]:
    """more_like_this's oracle: the seed doc's top tf·idf terms (min_tf /
    min_df gates, round(tf·idf, 6) desc, term asc) as one match query,
    the seed doc dropped from its hits."""
    from pdf_to_opensearch_spark.oracle import idf as idf_fn

    tf = {}
    for t in tokenize_text(pdf["text"].iloc[seed]):
        tf[t] = tf.get(t, 0) + 1
    scored = []
    for t, c in tf.items():
        df = len(oracle.index.get(t, {}))
        if c < min_tf or df < min_df:
            continue
        w = float(idf_fn(oracle.N, np.array([df]))[0])
        scored.append((round(c * w, 6), t))
    scored.sort(key=lambda x: (-x[0], x[1]))
    sel = [t for _s, t in scored[:max_terms]]
    assert sel, "seed doc must yield MLT terms"
    return [(d, s) for d, s in oracle.search(" ".join(sel), k=k + 1)
            if d != seed][:k]


def test_histogram_vs_brute(spark, index_dir, corpus):
    """histogram agg: floor-interval buckets of length(text) over the
    ANY-term hit set, key-ordered, min_doc_count=1."""
    from pdf_to_opensearch_spark.boolquery import search_histogram

    pdf, oracle = corpus
    query, interval = "spark document", 40
    got = search_histogram(spark, index_dir, [(1, query)],
                           value_expr="length(text)",
                           interval=interval).toPandas()
    match_idx = set()
    for t in tokenize_text(query):
        match_idx |= set(oracle.index.get(t, {}))
    counts: dict[int, int] = {}
    for i in match_idx:
        b = (len(pdf["text"].iloc[i]) // interval) * interval
        counts[b] = counts.get(b, 0) + 1
    exp = sorted(counts.items())
    assert list(zip(got.bucket, got.doc_count)) == exp
    assert (got.bucket.is_monotonic_increasing)


def test_histogram_bad_interval(spark, index_dir):
    from pdf_to_opensearch_spark.boolquery import search_histogram

    with pytest.raises(ValueError):
        search_histogram(spark, index_dir, [(1, "spark")], interval=0)


def test_significant_terms_vs_brute(spark, index_dir, corpus):
    """JLH-scored significant_terms: engine matches a pure-python
    reimplementation over the brute index (hit set -> fg counts vs
    corpus df), term-for-term and score-for-score."""
    from pdf_to_opensearch_spark.boolquery import significant_terms

    _, oracle = corpus
    query, n, min_dc = "spark document", 10, 3
    got = (significant_terms(spark, index_dir, [(1, query)], n=n,
                             min_doc_count=min_dc)
           .toPandas().sort_values("rank", ignore_index=True))
    hits = set()
    for t in tokenize_text(query):
        hits |= set(oracle.index.get(t, {}))
    fg_total = float(len(hits))
    scores = []
    for term, postings in oracle.index.items():
        fg = sum(1 for i in postings if i in hits)
        df = len(postings)
        if fg < min_dc:
            continue
        fg_rate, bg_rate = fg / fg_total, df / oracle.N
        if fg_rate <= bg_rate:
            continue
        scores.append((round((fg_rate - bg_rate) * (fg_rate / bg_rate), 6),
                       term, fg, df))
    scores.sort(key=lambda x: (-x[0], x[1]))
    want = scores[:n]
    assert list(got.term) == [t for _s, t, _f, _d in want]
    assert list(got.fg) == [f for _s, _t, f, _d in want]
    assert list(got.df) == [d for _s, _t, _f, d in want]
    np.testing.assert_allclose(got.score.to_numpy(),
                               [s for s, *_ in want], rtol=1e-12)


def test_significant_terms_empty_query(spark, index_dir):
    from pdf_to_opensearch_spark.boolquery import significant_terms

    got = significant_terms(spark, index_dir, [(1, "...!!")]).toPandas()
    assert len(got) == 0


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_term_suggest_vs_brute(spark, index_dir, corpus):
    """Did-you-mean parity: engine suggestions == brute-force
    DirectSpellChecker ranking (1 − d/min(len), score desc, df desc,
    term asc) over the oracle's own vocabulary."""
    from pdf_to_opensearch_spark.boolquery import term_suggest

    _, oracle = corpus
    text = "sprak postin zzz merge"
    size, max_edits = 5, 2
    got = (term_suggest(spark, index_dir, text, size=size,
                        max_edits=max_edits).toPandas()
           .sort_values(["src", "rank"], ignore_index=True))
    vocab = {t: len(p) for t, p in oracle.index.items()}
    want_rows = []
    for src in sorted({"sprak", "postin", "zzz", "merge"}):
        if src in vocab:
            continue  # suggest_mode=missing
        cands = []
        for term, df in vocab.items():
            d = _py_lev(term, src)
            if 1 <= d <= max_edits:
                score = round(1.0 - d / min(len(src), len(term)), 4)
                cands.append((-score, -df, term, d, df))
        cands.sort()
        for rk, (ns, _nd, term, d, df) in enumerate(cands[:size], 1):
            want_rows.append((src, term, d, -ns, df, rk))
    assert [tuple(r) for r in got[["src", "suggestion", "dist", "score",
                                   "df", "rank"]].itertuples(index=False)] \
        == want_rows


def test_term_suggest_always_mode_excludes_self(spark, index_dir):
    """mode='always' suggests for in-dictionary tokens too, but the token
    itself (dist 0) is never a candidate."""
    from pdf_to_opensearch_spark.boolquery import term_suggest

    got = term_suggest(spark, index_dir, "merge", size=5,
                       mode="always").toPandas()
    assert (got["dist"] >= 1).all()
    assert "merge" not in set(got["suggestion"])


def _match_set(oracle, query):
    idx = set()
    for t in tokenize_text(query):
        idx |= set(oracle.index.get(t, {}))
    return idx


def test_stats_and_percentiles_vs_brute(spark, index_dir, corpus):
    """stats + percentiles agg scope/estimator parity: hit set from the
    brute index, values from the docs table, numpy linear interpolation
    (the same estimator as Spark's exact percentile)."""
    from pdf_to_opensearch_spark.boolquery import (search_percentiles,
                                                   search_stats)

    _, oracle = corpus
    query = "spark document"
    lens = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "length(text) AS v").toPandas()
            .set_index("doc_id")["v"])
    vals = lens.loc[sorted(_match_set(oracle, query))].to_numpy(float)

    st = search_stats(spark, index_dir, [(1, query)]).toPandas()
    assert int(st.doc_count[0]) == vals.size
    assert st.vmin[0] == vals.min() and st.vmax[0] == vals.max()
    assert st.vsum[0] == round(vals.sum(), 4)
    assert st.vavg[0] == round(vals.mean(), 4)

    ps = [25.0, 50.0, 75.0, 95.0]
    pc = (search_percentiles(spark, index_dir, [(1, query)], percents=ps)
          .toPandas().sort_values("percent", ignore_index=True))
    want = np.percentile(vals, ps, method="linear")
    np.testing.assert_allclose(pc.value.to_numpy(), np.round(want, 4),
                               atol=1e-9)


def test_cardinality_exact_and_approx(spark, index_dir, corpus):
    """Exact cardinality equals the brute distinct count; the HLL++
    approx path lands within its declared relative error."""
    from pdf_to_opensearch_spark.boolquery import search_cardinality

    pdf, oracle = corpus
    query = "spark document"
    urls = pdf["url"].to_numpy()
    want = len({urls[i] for i in _match_set(oracle, query)})
    exact = search_cardinality(spark, index_dir, [(1, query)],
                               col="url").toPandas()
    assert int(exact.cardinality[0]) == want
    approx = search_cardinality(spark, index_dir, [(1, query)], col="url",
                                approx=True, rsd=0.05).toPandas()
    assert abs(int(approx.cardinality[0]) - want) <= max(3, 0.15 * want)


def test_top_hits_vs_brute(spark, index_dir, corpus):
    """top_hits sub-agg: per-lang best-3 by (rounded score desc, doc_id)
    over ALL matching docs equals the brute-force grouping."""
    from pdf_to_opensearch_spark.boolquery import search_top_hits

    pdf, oracle = corpus
    query = "spark posting merge"
    got = (search_top_hits(spark, index_dir, [(1, query)],
                           facet_col="lang", per_bucket=3)
           .toPandas()
           .sort_values(["facet_value", "rank"], ignore_index=True))
    scored = oracle.search(query, k=len(pdf))
    langs = pdf["lang"].to_numpy()
    buckets: dict[str, list] = {}
    for d, s in scored:
        buckets.setdefault(langs[d], []).append((-round(s, 4), d))
    want_rows = []
    for lang in sorted(buckets):
        for rk, (ns, d) in enumerate(sorted(buckets[lang])[:3], 1):
            want_rows.append((lang, rk, d, -ns))
    assert [tuple(r) for r in got[["facet_value", "rank", "doc_id",
                                   "score"]].itertuples(index=False)] \
        == want_rows


def test_date_histogram_rejects_bad_interval(spark, index_dir):
    from pdf_to_opensearch_spark.boolquery import search_date_histogram

    with pytest.raises(ValueError):
        search_date_histogram(spark, index_dir, [(1, "spark")],
                              calendar_interval="fortnight")


def test_regexp_equals_expanded_search(spark, index_dir, corpus):
    """RegexpQuery == the hand-expanded term disjunction (same rewrite
    contract as wildcard/prefix), and anchoring is full-term."""
    from pdf_to_opensearch_spark.boolquery import regexp_search

    _, oracle = corpus
    pat = "pos.*|mer.e"
    import re
    exp_terms = sorted(t for t in oracle.index
                       if re.fullmatch(pat, t))
    assert exp_terms, "fixture vocabulary must match the pattern"
    got = (regexp_search(spark, index_dir, [(1, pat)], k=K)
           .toPandas().sort_values("rank", ignore_index=True))
    want = (search(spark, index_dir, [(1, " ".join(exp_terms))], k=K,
                   prune=False)
            .toPandas().sort_values("rank", ignore_index=True))
    assert list(got.doc_id) == list(want.doc_id)
    np.testing.assert_allclose(got.score, want.score, rtol=1e-12)
    # full-term anchoring: 'ost' is a substring of 'posting' but a full
    # match of no term, so an unanchored engine would return hits here
    assert "ost" not in oracle.index and "posting" in oracle.index
    none = regexp_search(spark, index_dir, [(1, "ost")], k=K).toPandas()
    assert len(none) == 0


def test_boosting_demotes_not_excludes(spark, index_dir, corpus):
    """Boosting-query semantics vs brute force: positive hits containing
    a negative term keep competing at negative_boost × score; with
    boost 1.0 the result equals the plain match query."""
    from pdf_to_opensearch_spark.boolquery import boosting_search

    _, oracle = corpus
    spec = {"positive": "spark posting merge", "negative": "duplicate"}
    nb = 0.4
    got = (boosting_search(spark, index_dir, [(1, spec)], k=K,
                           negative_boost=nb)
           .toPandas().sort_values("rank", ignore_index=True))
    neg_docs = set()
    for t in tokenize_text(spec["negative"]):
        neg_docs |= set(oracle.index.get(t, {}))
    scored = oracle.search(spec["positive"], k=oracle.N)
    demoted = sorted(((-(s * nb if d in neg_docs else s), d)
                      for d, s in scored))
    want = [(d, -ns) for ns, d in demoted[:K]]
    assert list(got.doc_id) == [d for d, _ in want]
    np.testing.assert_allclose(got.score,
                               [s for _, s in want], rtol=1e-9)
    # negative_boost=1.0 is a no-op
    plain = search(spark, index_dir, [(1, spec["positive"])], k=K,
                   prune=False).toPandas()
    noop = boosting_search(spark, index_dir, [(1, spec)], k=K,
                           negative_boost=1.0).toPandas()
    assert list(plain.doc_id) == list(noop.doc_id)


def test_rescore_window_semantics(spark, index_dir, corpus):
    """rescore: only the top-window docs compete, combined score is
    qw·rounded(match) + rqw·rounded(phrase), and a doc outside the
    window never enters even with a strong phrase match."""
    from pdf_to_opensearch_spark.boolquery import rescore

    _, oracle = corpus
    spec = {"query": "spark posting merge", "rescore": "spark posting"}
    W, kk, qw, rqw = 15, 10, 1.0, 0.5
    got = (rescore(spark, index_dir, [(1, spec)], k=kk, window_size=W,
                   query_weight=qw, rescore_weight=rqw)
           .toPandas().sort_values("rank", ignore_index=True))
    # brute: rounded match scores -> window -> + rounded phrase.
    # HALF_UP quantization — Spark's F.round, not Python's banker's
    # round: rqw=0.5 times a 4-dp value lands exactly on the .00005
    # boundary, so the rounding rule is load-bearing here
    from decimal import ROUND_HALF_UP, Decimal

    def _r4(v: float) -> float:
        return float(Decimal(repr(float(v)))
                     .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))

    m = oracle.search(spec["query"], k=oracle.N)
    m_r = sorted(((-_r4(s), d) for d, s in m))
    window = [(d, -ns) for ns, d in m_r[:W]]
    ph = dict(oracle.phrase_search(spec["rescore"], k=oracle.N))
    comb = sorted(
        ((-_r4(qw * s + rqw * _r4(ph.get(d, 0.0))), d)
         for d, s in window))
    want = [(d, -ns) for ns, d in comb[:kk]]
    assert list(got.doc_id) == [d for d, _ in want]
    np.testing.assert_allclose(got.score, [s for _, s in want], atol=1e-9)
    assert set(got.doc_id) <= {d for d, _ in window}


def test_query_string_parser():
    from pdf_to_opensearch_spark.boolquery import parse_query_string

    m, n, s, w, p = parse_query_string('+spark -slow "table hash" win* bare')
    assert m == ["spark"] and n == ["slow"] and s == ["bare"]
    assert w == ["win%"] and p == ["table hash"]
    # '-wild*' is NOT a wildcard clause (only should-position expands);
    # it analyzes to a must_not term
    m2, n2, _s2, w2, _p2 = parse_query_string("-wild*")
    assert w2 == [] and "wild" in n2


def test_query_string_vs_brute(spark, index_dir, corpus):
    """query_string composition: term leg (must scores+constrains,
    must_not excludes, wildcard expands) + phrase leg summed; phrase-only
    docs qualify iff the query has no must terms and no must_not hit."""
    from pdf_to_opensearch_spark.boolquery import (parse_query_string,
                                                   query_string_search)

    _, oracle = corpus
    raw = '+spark -stream "posting merge" doc*'
    k = 15
    got = (query_string_search(spark, index_dir, [(1, raw)], k=k)
           .toPandas().sort_values("rank", ignore_index=True))
    must, mnot, should, wilds, phrases = parse_query_string(raw)
    vocab = sorted(oracle.index)
    exp_terms = []
    for w in wilds:
        pref = w.rstrip("%")
        exp_terms += sorted(t for t in vocab if t.startswith(pref))[:50]
    scoring = " ".join(must + should + exp_terms)
    must_docs = None
    for t in must:
        have = set(oracle.index.get(t, {}))
        must_docs = have if must_docs is None else must_docs & have
    not_docs = set()
    for t in mnot:
        not_docs |= set(oracle.index.get(t, {}))
    base = dict(oracle.search(scoring, k=oracle.N))
    ph = dict(oracle.phrase_search(phrases[0], k=oracle.N))
    want_scores = {}
    for d, s in base.items():
        if must_docs is not None and d not in must_docs:
            continue
        if d in not_docs:
            continue
        want_scores[d] = s + ph.get(d, 0.0)
    # phrase-only docs excluded: the query HAS a must term
    ranked = sorted(((-s, d) for d, s in want_scores.items()))[:k]
    assert list(got.doc_id) == [d for _s, d in ranked]
    np.testing.assert_allclose(got.score,
                               [-s for s, _d in ranked], rtol=1e-9)
    # must-free variant: phrase-only docs now enter
    raw2 = '"posting merge" -stream'
    got2 = query_string_search(spark, index_dir, [(1, raw2)],
                               k=oracle.N).toPandas()
    want2 = {d for d in ph if d not in not_docs}
    assert set(got2.doc_id) == want2


def test_collapse_one_hit_per_group(spark, index_dir, corpus):
    """collapse: ranked page has at most one hit per group value, and
    each group representative is that group's best (rounded score,
    doc_id) hit; page order equals the global order of representatives."""
    from pdf_to_opensearch_spark.boolquery import search_collapse

    pdf, oracle = corpus
    query = "spark posting merge"
    got = (search_collapse(spark, index_dir, [(1, query)],
                           collapse_col="lang", k=K)
           .toPandas().sort_values("rank", ignore_index=True))
    assert got.facet_value.is_unique
    langs = pdf["lang"].to_numpy()
    best: dict[str, tuple] = {}
    for d, s in oracle.search(query, k=oracle.N):
        key = langs[d]
        cand = (-round(s, 4), d)
        if key not in best or cand < best[key]:
            best[key] = cand
    reps = sorted(best.values())[:K]
    assert list(got.doc_id) == [d for _s, d in reps]
    np.testing.assert_allclose(got.score, [-s for s, _d in reps],
                               atol=1e-9)


# ------------------------------------------- round-5 agg/query widening


def test_range_agg_overlap_and_zero_buckets(spark, index_dir, corpus):
    """range agg: every DECLARED bucket is emitted (zero counts
    included), a doc counts in EVERY overlapping range it satisfies."""
    from pdf_to_opensearch_spark.boolquery import search_range_agg

    _, oracle = corpus
    query = "spark document"
    ranges = [(None, 100.0), (50.0, 200.0), (150.0, None),
              (1_000_000.0, None)]  # last bucket: always empty
    got = (search_range_agg(spark, index_dir, [(1, query)],
                            value_expr="length(text)", ranges=ranges,
                            value_cols=["text"])
           .toPandas().sort_values("range_idx", ignore_index=True))
    assert len(got) == len(ranges)  # zero buckets present
    lens = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "length(text) AS v").toPandas()
            .set_index("doc_id")["v"])
    vals = lens.loc[sorted(_match_set(oracle, query))].to_numpy(float)
    for i, (lo, hi) in enumerate(ranges):
        m = np.ones(vals.size, dtype=bool)
        if lo is not None:
            m &= vals >= lo
        if hi is not None:
            m &= vals < hi
        assert int(got.doc_count[i]) == int(m.sum()), (i, lo, hi)
    assert int(got.doc_count[3]) == 0


def test_filters_agg_named_zero_bucket(spark, index_dir, corpus):
    """filters agg: named buckets, zero-count buckets emitted."""
    from pdf_to_opensearch_spark.boolquery import search_filters_agg

    pdf, oracle = corpus
    query = "spark document"
    filters = {"en": "lang = 'en'", "none": "length(text) < 0"}
    got = (search_filters_agg(spark, index_dir, [(1, query)],
                              filters=filters, doc_cols=["text", "lang"])
           .toPandas().set_index("bucket")["doc_count"])
    langs = pdf["lang"].to_numpy()
    want_en = sum(1 for d in _match_set(oracle, query)
                  if langs[d] == "en")
    assert int(got["en"]) == want_en
    assert int(got["none"]) == 0


def test_composite_agg_cursor_pagination(spark, index_dir, corpus):
    """composite agg: key-ordered buckets; page 2 resumes strictly after
    page 1's last key and the concatenation equals the unpaged walk."""
    from pdf_to_opensearch_spark.boolquery import search_composite_agg

    sources = [("lang", "lang"), ("lbin", "cast(length(text) >= 150 as string)")]
    q = [(1, "spark document")]
    full = (search_composite_agg(spark, index_dir, q, sources=sources,
                                 size=1_000_000)
            .toPandas().sort_values("rank", ignore_index=True))
    assert list(full[["key_0", "key_1"]].itertuples(index=False)) == \
        sorted(full[["key_0", "key_1"]].itertuples(index=False))
    page1 = (search_composite_agg(spark, index_dir, q, sources=sources,
                                  size=3)
             .toPandas().sort_values("rank", ignore_index=True))
    after = (page1.key_0.iloc[-1], page1.key_1.iloc[-1])
    page2 = (search_composite_agg(spark, index_dir, q, sources=sources,
                                  size=3, after=after)
             .toPandas().sort_values("rank", ignore_index=True))
    walked = list(page1[["key_0", "key_1", "doc_count"]]
                  .itertuples(index=False)) + \
        list(page2[["key_0", "key_1", "doc_count"]].itertuples(index=False))
    assert walked == list(full[["key_0", "key_1", "doc_count"]]
                          .head(len(walked)).itertuples(index=False))


def test_adjacency_matrix_vs_brute(spark, index_dir, corpus):
    """adjacency_matrix: diagonal + pair intersection counts over the hit
    set, empty intersections omitted."""
    from pdf_to_opensearch_spark.boolquery import search_adjacency_matrix

    pdf, oracle = corpus
    query = "spark document"
    filters = {"a": "lang = 'en'", "b": "length(text) >= 150",
               "z": "length(text) < 0"}
    got = (search_adjacency_matrix(spark, index_dir, [(1, query)],
                                   filters=filters,
                                   doc_cols=["text", "lang"])
           .toPandas().set_index("bucket")["doc_count"])
    langs = pdf["lang"].to_numpy()
    texts = (spark.read.parquet(f"{index_dir}/docs")
             .selectExpr("doc_id", "length(text) AS v").toPandas()
             .set_index("doc_id")["v"])
    hits = sorted(_match_set(oracle, query))
    a = {d for d in hits if langs[d] == "en"}
    b = {d for d in hits if texts.loc[d] >= 150}
    assert int(got["a"]) == len(a)
    assert int(got["b"]) == len(b)
    assert int(got["a&b"]) == len(a & b)
    # empty filter: no diagonal row, no intersections
    assert not any(k for k in got.index if "z" in k)


def test_matrix_stats_vs_numpy(spark, index_dir, corpus):
    """matrix_stats: sample moments match numpy (ddof=1) at 4 dp."""
    from pdf_to_opensearch_spark.boolquery import matrix_stats_agg

    _, oracle = corpus
    query = "spark document"
    got = matrix_stats_agg(spark, index_dir, [(1, query)],
                           expr_a="length(text)",
                           expr_b="cast(doc_id % 7 as double)",
                           doc_cols=["text"]).toPandas()
    lens = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "length(text) AS v").toPandas()
            .set_index("doc_id")["v"])
    hits = sorted(_match_set(oracle, query))
    va = lens.loc[hits].to_numpy(float)
    vb = np.array([d % 7 for d in hits], dtype=float)
    assert int(got.doc_count[0]) == len(hits)
    assert got.mean_a[0] == round(va.mean(), 4)
    assert got.var_a[0] == round(va.var(ddof=1), 4)
    assert got.covariance[0] == round(float(np.cov(va, vb, ddof=1)[0, 1]), 4)
    assert got.correlation[0] == round(float(np.corrcoef(va, vb)[0, 1]), 4)


def test_sorted_search_field_order(spark, index_dir, corpus):
    """sort-by-field search: pure filter context, page ordered by the
    field (string compare) with doc_id ascending tiebreak."""
    from pdf_to_opensearch_spark.boolquery import search_sorted

    _, oracle = corpus
    query = "spark document"
    got = (search_sorted(spark, index_dir, [(1, query)],
                         sort_expr="url", ascending=False, k=5,
                         doc_cols=["url"])
           .toPandas().sort_values("rank", ignore_index=True))
    urls = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "url").toPandas()
            .set_index("doc_id")["url"])
    hits = sorted(_match_set(oracle, query))
    want = sorted(((urls.loc[d], d) for d in hits),
                  key=lambda t: (t[0], -t[1]), reverse=True)[:5]
    assert list(got.doc_id) == [d for _u, d in want]
    assert list(got.sort_value) == [u for u, _d in want]


def test_constant_score_semantics(spark, index_dir):
    """constant_score: every hit scores exactly boost, page in doc_id
    order, filter honored."""
    from pdf_to_opensearch_spark.boolquery import constant_score_search

    got = (constant_score_search(spark, index_dir,
                                 filter_expr="lang = 'en' AND "
                                             "length(text) >= 150",
                                 boost=2.5, k=7)
           .toPandas().sort_values("rank", ignore_index=True))
    docs = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "lang", "length(text) AS v").toPandas())
    want = sorted(docs[(docs.lang == "en") & (docs.v >= 150)].doc_id)[:7]
    assert list(got.doc_id) == want
    assert (got.score == 2.5).all()


def test_function_score_vs_brute(spark, index_dir, corpus):
    """function_score field_value_factor: page ranks on
    round(round(bm25,4) * ln(1+len), 4) with doc_id tiebreak."""
    import math

    from pdf_to_opensearch_spark.boolquery import function_score_search

    _, oracle = corpus
    query = "spark posting merge"
    got = (function_score_search(spark, index_dir, [(1, query)],
                                 factor_expr="ln(1 + length(text))",
                                 factor_cols=["text"], k=K)
           .toPandas().sort_values("rank", ignore_index=True))
    lens = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "length(text) AS v").toPandas()
            .set_index("doc_id")["v"])
    want = sorted(
        ((-round(round(s, 4) * math.log1p(lens.loc[d]), 4), d)
         for d, s in oracle.search(query, k=oracle.N)))[:K]
    assert list(got.doc_id) == [d for _s, d in want]
    np.testing.assert_allclose(got.score, [-s for s, _d in want],
                               atol=1e-9)


def test_extended_stats_vs_numpy(spark, index_dir, corpus):
    """extended_stats: population variance/stddev + sum_of_squares match
    numpy at 4 dp."""
    from pdf_to_opensearch_spark.boolquery import search_extended_stats

    _, oracle = corpus
    query = "spark document"
    got = search_extended_stats(spark, index_dir, [(1, query)]).toPandas()
    lens = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "length(text) AS v").toPandas()
            .set_index("doc_id")["v"])
    vals = lens.loc[sorted(_match_set(oracle, query))].to_numpy(float)
    assert int(got.doc_count[0]) == vals.size
    assert got.sum_of_squares[0] == round(float((vals * vals).sum()), 4)
    assert got.variance[0] == round(float(vals.var(ddof=0)), 4)
    assert got.std_deviation[0] == round(float(vals.std(ddof=0)), 4)


def test_weighted_avg_vs_numpy(spark, index_dir, corpus):
    from pdf_to_opensearch_spark.boolquery import search_weighted_avg

    _, oracle = corpus
    query = "spark document"
    got = search_weighted_avg(spark, index_dir, [(1, query)],
                              value_expr="length(text)",
                              weight_expr="cast(1 + doc_id % 3 as double)"
                              ).toPandas()
    lens = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "length(text) AS v").toPandas()
            .set_index("doc_id")["v"])
    hits = sorted(_match_set(oracle, query))
    v = lens.loc[hits].to_numpy(float)
    w = np.array([1 + d % 3 for d in hits], dtype=float)
    assert got.weighted_avg[0] == round(float((v * w).sum() / w.sum()), 4)


def test_missing_agg_null_model(spark, index_dir, corpus):
    """missing: counts hit docs whose field expression is NULL."""
    from pdf_to_opensearch_spark.boolquery import search_missing

    pdf, oracle = corpus
    query = "spark document"
    got = search_missing(spark, index_dir, [(1, query)],
                         col_expr="nullif(lang, 'en')").toPandas()
    langs = pdf["lang"].to_numpy()
    want = sum(1 for d in _match_set(oracle, query) if langs[d] == "en")
    assert int(got.missing_count[0]) == want


def test_global_agg_scope_break(spark, index_dir, corpus):
    """global agg: identical corpus-wide row per query, independent of
    the match query."""
    from pdf_to_opensearch_spark.boolquery import search_global_agg

    got = search_global_agg(spark, index_dir,
                            [(1, "spark"), (2, "zzzznot")]).toPandas()
    docs = spark.read.parquet(f"{index_dir}/docs").toPandas()
    assert len(got) == 2
    assert (got.doc_count == len(docs)).all()
    want = round(float(docs.text.str.len().mean()), 4)
    assert (got.vavg == want).all()


def test_pipeline_aggs_window_math(spark, index_dir, corpus):
    """pipeline aggs: derivative/cumsum/moving_avg are exact window
    functions of the date_histogram bucket counts."""
    from pdf_to_opensearch_spark.boolquery import (search_date_histogram,
                                                   search_pipeline_aggs)

    query = "spark document"
    # fixture docs carry no warc_ts; derive a deterministic one from text
    # length to exercise the bucket math
    got = search_pipeline_aggs(
        spark, index_dir, [(1, query)],
        ts_col="timestampadd(DAY, length(text) % 31, "
               "timestamp'2025-01-01 00:00:00')",
        calendar_interval="week", window=2).toPandas()
    base = search_date_histogram(
        spark, index_dir, [(1, query)],
        ts_col="timestampadd(DAY, length(text) % 31, "
               "timestamp'2025-01-01 00:00:00')",
        calendar_interval="week").toPandas()
    counts = base.sort_values("bucket_start").doc_count.to_numpy()
    got = got.sort_values("bucket_start", ignore_index=True)
    assert list(got.doc_count) == list(counts)
    assert np.isnan(got.derivative[0])
    assert list(got.derivative[1:]) == list(np.diff(counts).astype(float))
    assert list(got.cumulative_sum) == list(np.cumsum(counts))
    want_mavg = [round(float(np.mean(counts[max(0, i - 1):i + 1])), 4)
                 for i in range(len(counts))]
    assert list(got.moving_avg) == want_mavg


def test_decay_score_parameterization(spark, index_dir, corpus):
    """gauss decay: multiplier is exactly `decay` at distance `scale`,
    1.0 at the origin; page ranks on the rounded product."""
    import math

    from pdf_to_opensearch_spark.boolquery import decay_score_search

    _, oracle = corpus
    query = "spark posting merge"
    origin = "2025-01-15 00:00:00"
    scale_s = 7 * 86400.0
    # fixture docs carry no timestamp: derive one per doc from doc_id so
    # distances are known exactly
    ts_expr = ("timestampadd(DAY, cast(doc_id % 31 as int), "
               "timestamp'2025-01-01 00:00:00')")
    got = (decay_score_search(spark, index_dir, [(1, query)],
                              field=ts_expr.replace("doc_id", "doc_id"),
                              origin=origin, scale_s=scale_s, decay=0.5,
                              k=oracle.N)
           .toPandas().set_index("doc_id")["score"])
    sigma2 = -(scale_s ** 2) / (2.0 * math.log(0.5))
    t0 = (pd_ts(origin) - pd_ts("2025-01-01 00:00:00")).total_seconds()
    for d, s in oracle.search(query, k=oracle.N):
        dist = abs((d % 31) * 86400.0 - t0)
        mult = math.exp(-(dist * dist) / (2 * sigma2))
        # Spark round = HALF_UP over the double's shortest repr (the
        # fixture lands exact .00005 products at dist == scale, where
        # Python's banker's round diverges)
        assert got.loc[d] == _r4(_r4(s) * mult), d


def _r4(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                           rounding=ROUND_HALF_UP))


def pd_ts(s):
    import pandas as pd

    return pd.Timestamp(s)


def test_script_score_replaces_score(spark, index_dir, corpus):
    import math

    from pdf_to_opensearch_spark.boolquery import script_score_search

    _, oracle = corpus
    query = "spark posting merge"
    got = (script_score_search(spark, index_dir, [(1, query)],
                               script_expr="sqrt(_score) "
                                           "+ ln(1 + length(text)) / 10",
                               script_cols=["text"], k=K)
           .toPandas().sort_values("rank", ignore_index=True))
    lens = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "length(text) AS v").toPandas()
            .set_index("doc_id")["v"])
    want = sorted(
        ((-round(math.sqrt(round(s, 4))
                 + math.log1p(lens.loc[d]) / 10, 4), d)
         for d, s in oracle.search(query, k=oracle.N)))[:K]
    assert list(got.doc_id) == [d for _s, d in want]
    np.testing.assert_allclose(got.score, [-s for s, _d in want],
                               atol=1e-9)


def test_random_score_deterministic_and_seeded(spark, index_dir, corpus):
    from pdf_to_opensearch_spark.boolquery import (RANDOM_SCORE_MULT,
                                                   random_score_search)

    _, oracle = corpus
    query = "spark document"
    a = random_score_search(spark, index_dir, [(1, query)], seed=7,
                            k=K).toPandas()
    b = random_score_search(spark, index_dir, [(1, query)], seed=7,
                            k=K).toPandas()
    assert list(a.doc_id) == list(b.doc_id)  # reproducible
    c = random_score_search(spark, index_dir, [(1, query)], seed=8,
                            k=K).toPandas()
    assert list(a.doc_id) != list(c.doc_id)  # seed-sensitive
    hits = _match_set(oracle, query)
    want = sorted(
        ((-round(((d + 7) * RANDOM_SCORE_MULT % 2**32) / 2**32, 6), d)
         for d in hits))[:K]
    assert list(a.doc_id) == [d for _s, d in want]


def test_span_first_position_gate(spark, index_dir, corpus):
    """span_first: tf counts only occurrences in the first `end`
    positions; docs whose matches all sit beyond `end` drop out."""
    from pdf_to_opensearch_spark.analyzer import tokenize_text as tok
    from pdf_to_opensearch_spark.boolquery import span_first_search
    from pdf_to_opensearch_spark.oracle import idf as idf_fn

    pdf, oracle = corpus
    term, end = "spark", 6
    got = (span_first_search(spark, index_dir, [(1, term)], end=end,
                             k=oracle.N)
           .toPandas().set_index("doc_id")["score"])
    texts = (spark.read.parquet(f"{index_dir}/docs")
             .selectExpr("doc_id", "text").toPandas()
             .set_index("doc_id")["text"])
    toks = {d: tok(t) for d, t in texts.items()}
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / len(dls)
    df = sum(1 for t in toks.values() if term in t)
    idf = float(idf_fn(len(toks), np.array([df]))[0])
    want = {}
    for d, t in toks.items():
        tf = sum(1 for p, w in enumerate(t[:end]) if w == term)
        if tf:
            want[d] = round(idf * tf * 2.2
                            / (tf + 1.2 * (1 - 0.75 + 0.75
                                           * dls[d] / avgdl)), 4)
    assert dict(got) == want
    # and the gate is real: some doc matches the term but not the page
    all_docs = {d for d, t in toks.items() if term in t}
    assert all_docs - set(want), "fixture must have late-only matches"


def test_match_phrase_prefix_vs_brute(spark, index_dir, corpus):
    """match_phrase_prefix: anchors where the fixed terms chain and ANY
    prefix expansion occupies the final slot, counted once per anchor."""
    from pdf_to_opensearch_spark.analyzer import tokenize_text as tok
    from pdf_to_opensearch_spark.boolquery import match_phrase_prefix_search
    from pdf_to_opensearch_spark.oracle import idf as idf_fn

    pdf, oracle = corpus
    query, pref = "posting me", "me"  # "posting merge" lives in the corpus
    got = (match_phrase_prefix_search(spark, index_dir, [(1, query)],
                                      k=oracle.N, max_expansions=10)
           .toPandas().set_index("doc_id")["score"])
    texts = (spark.read.parquet(f"{index_dir}/docs")
             .selectExpr("doc_id", "text").toPandas()
             .set_index("doc_id")["text"])
    toks = {d: tok(t) for d, t in texts.items()}
    vocab = sorted({w for t in toks.values() for w in t})
    exps = [w for w in vocab if w.startswith(pref)][:10]
    dfs = {}
    for t in toks.values():
        for w in set(t):
            dfs[w] = dfs.get(w, 0) + 1
    N = len(toks)
    idf = float(idf_fn(N, np.array([dfs["posting"]]))[0]) + float(
        idf_fn(N, np.array([min(N, sum(dfs[e] for e in exps))]))[0])
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / len(dls)
    want = {}
    for d, t in toks.items():
        tf = sum(1 for i in range(len(t) - 1)
                 if t[i] == "posting" and t[i + 1] in exps)
        if tf:
            want[d] = round(idf * tf * 2.2
                            / (tf + 1.2 * (1 - 0.75 + 0.75
                                           * dls[d] / avgdl)), 4)
    assert dict(got) == want
    assert want, "fixture phrase-prefix must match"


def test_filter_context_queries(spark, index_dir):
    """exists / ids / terms: constant score, doc_id page order, exact
    membership."""
    from pdf_to_opensearch_spark.boolquery import (exists_search,
                                                   ids_search,
                                                   terms_search)

    docs = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "lang").toPandas())
    ex = exists_search(spark, index_dir, "nullif(lang, 'en')",
                       k=7).toPandas()
    want = sorted(docs[docs.lang != "en"].doc_id)[:7]
    assert list(ex.doc_id) == want and (ex.score == 1.0).all()

    ids = [5, 17, 99999, 3]
    got = ids_search(spark, index_dir, ids, k=10).toPandas()
    present = sorted(i for i in ids if i in set(docs.doc_id))
    assert list(got.doc_id) == present

    tm = terms_search(spark, index_dir, "lang", ["de", "fr"],
                      k=10000).toPandas()
    assert set(tm.doc_id) == set(docs[docs.lang.isin(["de", "fr"])].doc_id)


def test_sampler_and_diversified(spark, index_dir, corpus):
    """sampler: sub-agg counts sum to min(shard_size, |hits|) and match
    the brute top-sample; diversified: ≤ max_docs_per_value per dedup
    value inside the sample."""
    from pdf_to_opensearch_spark.boolquery import search_sampler

    pdf, oracle = corpus
    query = "spark posting merge"
    shard = 20
    got = (search_sampler(spark, index_dir, [(1, query)],
                          facet_col="lang", shard_size=shard)
           .toPandas())
    scored = sorted(((-round(s, 4), d)
                     for d, s in oracle.search(query, k=oracle.N)))
    sample = [d for _s, d in scored[:shard]]
    langs = pdf["lang"].to_numpy()
    want: dict[str, int] = {}
    for d in sample:
        want[langs[d]] = want.get(langs[d], 0) + 1
    assert dict(zip(got.facet_value, got.doc_count)) == want
    assert got.doc_count.sum() == min(shard, len(scored))

    div = (search_sampler(spark, index_dir, [(1, query)],
                          facet_col="lang", shard_size=shard,
                          max_docs_per_value=1, dedup_col="lang")
           .toPandas())
    # with dedup on the facet itself and cap 1, every bucket has 1 doc
    assert (div.doc_count == 1).all()
    seen: dict[str, int] = {}
    picked = []
    for _s, d in scored:
        if seen.get(langs[d], 0) < 1:
            seen[langs[d]] = 1
            picked.append(d)
    assert set(div.facet_value) == {langs[d] for d in picked[:shard]}


def test_count_api_matches_hit_set(spark, index_dir, corpus):
    from pdf_to_opensearch_spark.boolquery import search_count

    _, oracle = corpus
    qs = [(1, "spark document"), (2, "zzznoterm"), (3, "posting")]
    got = (search_count(spark, index_dir, qs).toPandas()
           .set_index("query_id")["total_hits"])
    assert int(got.loc[1]) == len(_match_set(oracle, "spark document"))
    assert 2 not in got.index  # zero-hit query emits no row
    assert int(got.loc[3]) == len(_match_set(oracle, "posting"))


def test_completion_suggest_weight_order(spark, index_dir, corpus):
    from pdf_to_opensearch_spark.analyzer import tokenize_text as tok
    from pdf_to_opensearch_spark.boolquery import completion_suggest

    pdf, _ = corpus
    texts = (spark.read.parquet(f"{index_dir}/docs")
             .selectExpr("text").toPandas()["text"])
    dfs: dict[str, int] = {}
    for t in texts:
        for w in set(tok(t)):
            dfs[w] = dfs.get(w, 0) + 1
    got = completion_suggest(spark, index_dir, [(1, "s")],
                             size=4).toPandas()
    want = sorted(((w, c) for w, c in dfs.items() if w.startswith("s")),
                  key=lambda x: (-x[1], x[0]))[:4]
    assert list(zip(got.suggestion, got.weight)) == want
    assert list(got["rank"]) == list(range(1, len(want) + 1))


def test_completion_suggest_batch_ties_and_punct(spark, index_dir,
                                                 force_side):
    """completion_suggest is one prefix expansion ordered (df desc, term
    asc): on both sides of the expansion's decision a 4-prefix batch
    returns, in (query_id, rank) order, each prefix's brute-force top
    ``size`` (with a df tie across the cut), the same rows as one call
    per prefix, and no more Spark jobs than a single prefix; a
    punctuation-only prefix and one without completions add no row."""
    from pdf_to_opensearch_spark.analyzer import tokenize_text as tok
    from pdf_to_opensearch_spark.boolquery import completion_suggest

    texts = (spark.read.parquet(f"{index_dir}/docs")
             .selectExpr("text").toPandas()["text"])
    dfs: dict[str, int] = {}
    for t in texts:
        for w in set(tok(t)):
            dfs[w] = dfs.get(w, 0) + 1
    batch = [(1, "s"), (2, "w0"), (3, "딸"), (4, "po")]
    ranked = {p: sorted(((w, c) for w, c in dfs.items() if w.startswith(p)),
                        key=lambda x: (-x[1], x[0])) for _q, p in batch}
    size = next(n for n in range(2, 30)
                if any(len(r) > n and r[n - 1][1] == r[n][1]
                       for r in ranked.values()))
    want = [(qid, i + 1, w, c) for qid, p in batch
            for i, (w, c) in enumerate(ranked[p][:size])]
    tracker = spark.sparkContext.statusTracker()

    def run(tag, prefixes):
        spark.sparkContext.setJobGroup(tag, "completion")
        try:
            rows = [tuple(r) for r in completion_suggest(
                spark, index_dir, prefixes, size=size).collect()]
            return rows, len(tracker.getJobIdsForGroup(tag))
        finally:
            spark.sparkContext.setJobGroup(None, None)

    for side in ("driver", "distributed"):
        force_side(side)
        got, jobs4 = run(f"completion4_{side}", batch + [(5, "!!! ..."),
                                                         (6, "zzqq")])
        assert got == want, side
        _one, jobs1 = run(f"completion1_{side}", batch[:1])
        assert jobs4 <= jobs1, (side, jobs1, jobs4)
        for qid, p in batch:
            single, _jobs = run(f"completion_{side}_{qid}", [(qid, p)])
            assert single == [r for r in want if r[0] == qid], (side, p)


# ------------------------------------------------------------- percolator

def test_percolate_and_semantics(spark, index_dir, corpus):
    """percolate: stored match(operator=and) queries fire iff EVERY
    analyzed term occurs; a dictionary-absent term kills its query."""
    from pdf_to_opensearch_spark.boolquery import percolate

    _, oracle = corpus
    stored = [(1, "spark index"), (2, "document query"),
              (3, "spark nonexistentterm12345")]
    got = percolate(spark, index_dir, stored).toPandas()
    by_q = {int(qid): set(g["doc_id"].astype(int))
            for qid, g in got.groupby("query_id")}
    for qid, text in stored:
        want = _bool_allowed(oracle, text, "")
        assert by_q.get(qid, set()) == want, f"query {qid}"
    assert by_q.get(3, set()) == set()  # dead term: matches nothing


def test_percolate_doc_filter(spark, index_dir, corpus):
    """percolate + filter context: the allowed-ids cogroup narrows the
    match set without touching clause semantics."""
    from pdf_to_opensearch_spark.boolquery import percolate

    _, oracle = corpus
    got = percolate(spark, index_dir, [(1, "spark index")],
                    doc_filter="doc_id % 2 = 0").toPandas()
    want = {d for d in _bool_allowed(oracle, "spark index", "")
            if d % 2 == 0}
    assert set(got["doc_id"].astype(int)) == want
    assert want, "fixture must keep some even-doc matches"


def test_span_near_unordered_window(spark, index_dir, corpus):
    """span_near in_order=false: tf counts anchor occurrences of the
    first clause term with every other term within ±(slop + n − 1);
    order does not matter (the query reverses the corpus phrase)."""
    from pdf_to_opensearch_spark.boolquery import span_near_search
    from pdf_to_opensearch_spark.oracle import idf as idf_fn

    query, slop = "merge posting", 2  # "posting merge" lives in the corpus
    terms = tokenize_text(query)
    win = slop + len(terms) - 1
    got = (span_near_search(spark, index_dir, [(1, query)], slop=slop,
                            k=1 << 20)
           .toPandas().set_index("doc_id")["score"])
    texts = (spark.read.parquet(f"{index_dir}/docs")
             .selectExpr("doc_id", "text").toPandas()
             .set_index("doc_id")["text"])
    toks = {d: tokenize_text(t) for d, t in texts.items()}
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / len(dls)
    idf = sum(
        float(idf_fn(len(toks),
                     np.array([sum(1 for t in toks.values()
                                   if w in t)]))[0])
        for w in terms)
    want = {}
    backwards_only = 0
    for d, t in toks.items():
        pos = {w: [i for i, x in enumerate(t) if x == w]
               for w in set(terms)}
        anchors = [p for p in pos.get(terms[0], [])
                   if all(any(abs(q - p) <= win for q in pos.get(w, []))
                          for w in terms[1:])]
        tf = len(anchors)
        if tf:
            want[d] = round(idf * tf * 2.2
                            / (tf + 1.2 * (1 - 0.75 + 0.75
                                           * dls[d] / avgdl)), 4)
            # at least one match must rely on the UNORDERED window
            # (second term strictly before the anchor)
            if anchors and all(
                    not any(p < q <= p + win for q in pos[terms[1]])
                    for p in anchors):
                backwards_only += 1
    assert dict(got) == want
    assert want, "fixture must produce span_near hits"
    assert backwards_only, "fixture must exercise the unordered case"


@pytest.fixture(scope="module")
def rich_index_dir(spark, tmp_path_factory):
    """Index whose docs table carries source + a multi-year warc_ts
    (the agg surfaces read facet columns from the stored docs table)."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("richindex"))
    pages = make_pages(spark, n_docs=250, seed=7, partitions=4)
    docs = (extract_docs(pages)
            .withColumn("source",
                        F.concat(F.lit("s"), (F.crc32("url") % 4)
                                 .cast("string")))
            .withColumn("warc_ts", F.expr(
                "timestamp'2025-01-01 00:00:00' + make_interval("
                "0, 0, 0, CAST(crc32(url) % 400 AS INT), 0, 0, 0)")))
    build_index(spark, docs, root, num_ranges=4, n_buckets=8,
                id_partitions=4)
    return root


def _hit_docs(spark, index_dir, query):
    """Brute ANY-term hit set + the stored docs table as pandas."""
    docs = (spark.read.parquet(f"{index_dir}/docs").toPandas()
            .set_index("doc_id").sort_index())
    terms = set(tokenize_text(query))
    hits = [d for d, text in docs["text"].items()
            if terms & set(tokenize_text(text))]
    return docs, hits


def test_rare_terms_long_tail(spark, rich_index_dir):
    """rare_terms: only buckets with doc_count ≤ max_doc_count survive,
    rarest first."""
    from pdf_to_opensearch_spark.boolquery import search_rare_terms

    query = "spark document"
    docs, hits = _hit_docs(spark, rich_index_dir, query)
    counts: dict[str, int] = {}
    for d in hits:
        v = str(docs.loc[d, "source"])
        counts[v] = counts.get(v, 0) + 1
    thr = min(counts.values())
    got = search_rare_terms(spark, rich_index_dir, [(1, query)],
                            facet_col="source",
                            max_doc_count=thr).toPandas()
    want = sorted(((c, v) for v, c in counts.items() if c <= thr))
    assert [(r.doc_count, r.facet_value)
            for r in got.itertuples()] == want
    assert len(want) < len(counts), "threshold must exclude buckets"


def test_multi_terms_tuple_buckets(spark, rich_index_dir):
    """multi_terms: buckets keyed by the (lang, source) tuple."""
    from pdf_to_opensearch_spark.boolquery import search_multi_terms

    query = "spark document"
    docs, hits = _hit_docs(spark, rich_index_dir, query)
    counts: dict[tuple, int] = {}
    for d in hits:
        k = (str(docs.loc[d, "lang"]), str(docs.loc[d, "source"]))
        counts[k] = counts.get(k, 0) + 1
    n = 5
    want = sorted(counts.items(),
                  key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:n]
    got = (search_multi_terms(spark, rich_index_dir, [(1, query)],
                              cols=("lang", "source"), n=n)
           .toPandas().sort_values("rank", ignore_index=True))
    assert [((r.key1, r.key2), r.doc_count)
            for r in got.itertuples()] == want


def test_auto_date_histogram_ladder(spark, rich_index_dir):
    """auto_date_histogram: finest calendar interval with ≤ target
    non-empty buckets; buckets re-aggregate exactly."""
    import pandas as pd

    from pdf_to_opensearch_spark.boolquery import (
        _AUTO_DH_LADDER,
        search_auto_date_histogram,
    )

    query, target = "spark document", 10
    docs, hits = _hit_docs(spark, rich_index_dir, query)
    ts = pd.to_datetime(docs.loc[hits, "warc_ts"])
    trunc = {
        "day": ts.dt.floor("D"),
        "week": ts.dt.to_period("W-SUN").dt.start_time,  # ISO Monday
        "month": ts.dt.to_period("M").dt.start_time,
        "quarter": ts.dt.to_period("Q").dt.start_time,
        "year": ts.dt.to_period("Y").dt.start_time,
    }
    lvl = "year"
    for cand in _AUTO_DH_LADDER:
        if trunc[cand].nunique() <= target:
            lvl = cand
            break
    want = trunc[lvl].value_counts().sort_index()
    got = (search_auto_date_histogram(spark, rich_index_dir, [(1, query)],
                                      target_buckets=target)
           .toPandas().sort_values("bucket_start", ignore_index=True))
    assert set(got["interval"]) == {lvl}
    assert list(pd.to_datetime(got["bucket_start"])) == list(want.index)
    assert list(got["doc_count"]) == list(want.values)
    assert lvl != "day", "fixture must exercise the coarsening ladder"


def test_scroll_export_slices_and_pages(spark, index_dir, corpus):
    """Sliced scroll: slice = doc_id % n, per-slice rounded-score pages;
    the union of all slices is exactly the full hit set."""
    from pdf_to_opensearch_spark.boolquery import scroll_export
    from pdf_to_opensearch_spark.query import search

    query, n_slices, page_size = "spark document", 3, 5
    got = scroll_export(spark, index_dir, [(1, query)],
                        n_slices=n_slices,
                        page_size=page_size).toPandas()
    full = search(spark, index_dir, [(1, query)], k=1 << 20).toPandas()
    assert set(got.doc_id) == set(full.doc_id)  # exports EVERY hit
    assert set(got.slice_id) == set(got.doc_id % n_slices)
    scores = full.set_index("doc_id")["score"].round(4)
    for sl, grp in got.groupby("slice_id"):
        grp = grp.sort_values(["page", "seq"], ignore_index=True)
        want = sorted(grp.doc_id, key=lambda d: (-scores[d], d))
        assert list(grp.doc_id) == want  # per-slice score order
        assert list(grp.seq) == [i % page_size for i in range(len(grp))]
        assert list(grp.page) == [i // page_size for i in range(len(grp))]
    assert got.page.max() > 0, "fixture must span multiple pages"


def test_reindex_alias_swap(spark, index_dir, tmp_path):
    """_reindex + _aliases: the filtered rebuild reassigns doc_ids in
    url order; the alias swap is atomic and remove validates the
    current target."""
    import pytest as _pytest

    from pdf_to_opensearch_spark.maintenance import (
        reindex,
        resolve_alias,
        update_aliases,
    )
    from pdf_to_opensearch_spark.query import search

    dst = str(tmp_path / "reidx")
    reindex(spark, index_dir, dst, where="lang = 'en'",
            transform={"lang": "upper(lang)"},
            num_ranges=2, n_buckets=4, id_partitions=2)
    old = (spark.read.parquet(f"{index_dir}/docs")
           .filter("lang = 'en'").orderBy("url")
           .select("url").toPandas())
    new = (spark.read.parquet(f"{dst}/docs")
           .orderBy("doc_id").select("url", "lang").toPandas())
    assert list(new.url) == list(old.url)  # url order == new doc_id order
    assert set(new.lang) == {"EN"}  # transform applied
    reg = str(tmp_path / "aliases.json")
    update_aliases(reg, [{"add": {"alias": "live", "index": index_dir}}])
    assert resolve_alias(reg, "live") == index_dir
    # blue/green swap in ONE atomic action list
    update_aliases(reg, [
        {"remove": {"alias": "live", "index": index_dir}},
        {"add": {"alias": "live", "index": dst}},
    ])
    assert resolve_alias(reg, "live") == dst
    assert resolve_alias(reg, dst) == dst  # concrete names resolve as-is
    with _pytest.raises(ValueError):
        update_aliases(reg, [
            {"remove": {"alias": "live", "index": index_dir}}])
    # the swapped alias actually serves
    hits = search(spark, resolve_alias(reg, "live"), [(1, "spark")],
                  k=5).toPandas()
    assert len(hits) > 0


def test_rank_feature_additive_saturation(spark, index_dir, corpus):
    """rank_feature: BM25 + boost·f/(f+pivot) — additive and bounded by
    boost (unlike function_score's multiply)."""
    from pdf_to_opensearch_spark.boolquery import rank_feature_search
    from pdf_to_opensearch_spark.query import search

    query, pivot, boost = "spark document", 200.0, 3.0
    base = (search(spark, index_dir, [(1, query)], k=1 << 20)
            .toPandas().set_index("doc_id")["score"].round(4))
    texts = (spark.read.parquet(f"{index_dir}/docs")
             .selectExpr("doc_id", "length(text) AS f").toPandas()
             .set_index("doc_id")["f"])
    want = {}
    for d, s in base.items():
        f = float(texts[d])
        want[d] = round(s + boost * f / (f + pivot), 4)
    got = (rank_feature_search(spark, index_dir, [(1, query)],
                               feature_expr="length(text)",
                               pivot=pivot, boost=boost, k=1 << 20)
           .toPandas().set_index("doc_id")["score"])
    assert dict(got) == want
    # the feature contribution is bounded by boost (saturation < 1)
    assert (got - base[got.index]).max() <= boost + 1e-9


def test_phrase_suggest_bigram_rescoring(spark, index_dir, corpus):
    """phrase suggester: per-position candidates, Laplace bigram path
    scores — brute-recomputed from the raw token streams."""
    import itertools
    import math

    from pdf_to_opensearch_spark.boolquery import (
        build_bigram_table,
        phrase_suggest,
    )

    build_bigram_table(spark, index_dir)
    text, me, mc, size = "postng merge", 2, 3, 3
    got = phrase_suggest(spark, index_dir, text, size=size,
                         max_edits=me, max_candidates=mc).toPandas()
    texts = (spark.read.parquet(f"{index_dir}/docs")
             .selectExpr("doc_id", "text").toPandas())
    streams = [tokenize_text(t) for t in texts["text"]]
    cf: dict[str, int] = {}
    df: dict[str, int] = {}
    bg: dict[tuple, int] = {}
    for st in streams:
        for w in st:
            cf[w] = cf.get(w, 0) + 1
        for w in set(st):
            df[w] = df.get(w, 0) + 1
        for a, b in zip(st, st[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    v_size, t_tokens = len(cf), sum(cf.values())

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    cands = []
    for tok in tokenize_text(text):
        pool = []
        for term in cf:
            d = lev(term, tok)
            if d <= me:
                sim = round(1.0 - d / min(len(tok), len(term)), 4)
                pool.append((-sim, -df[term], term))
        pool.sort()
        cands.append([t for _s, _d, t in pool[:mc]])
    want = []
    for combo in itertools.product(*cands):
        s = math.log((cf[combo[0]] + 1) / (t_tokens + v_size))
        for a, b in zip(combo, combo[1:]):
            s += math.log((bg.get((a, b), 0) + 1) / (cf[a] + v_size))
        want.append((" ".join(combo), round(s, 4)))
    want.sort(key=lambda ps: (-ps[1], ps[0]))
    assert [(r.suggestion, r.score) for r in got.itertuples()] == \
        want[:size]
    # the top correction is the in-corpus phrase, not the raw input
    assert got.suggestion.iloc[0].split()[0] != "postng"


def test_span_not_window_exclusion(spark, index_dir, corpus):
    """span_not: an include occurrence counts only with no exclude term
    within ±dist — tf recomputed brute-force from the corpus tokens."""
    import math

    from pdf_to_opensearch_spark.boolquery import span_not_search
    from pdf_to_opensearch_spark.oracle import idf as idf_fn

    pdf, oracle = corpus
    inc, ex, dist = "spark", "index", 2
    want = {}
    df_inc = len(oracle.index.get(inc, {}))
    w = math.log(1.0 + (oracle.N - df_inc + 0.5) / (df_inc + 0.5))
    for i, toks in enumerate(oracle.doc_tokens):
        tf = 0
        for p, t in enumerate(toks):
            if t != inc:
                continue
            lo, hi = max(0, p - dist), min(len(toks), p + dist + 1)
            if ex not in toks[lo:hi]:
                tf += 1
        if tf:
            dl = oracle.dl[i]
            norm = (tf * (oracle.k1 + 1)
                    / (tf + oracle.k1 * (1 - oracle.b
                                         + oracle.b * dl / oracle.avgdl)))
            want[int(oracle.doc_ids[i])] = round(w * norm, 4)
    got = (span_not_search(spark, index_dir, [(1, f"{inc} {ex}")],
                           dist=dist, k=1 << 20)
           .toPandas().set_index("doc_id")["score"])
    assert dict(got) == want
    # an absent exclude term excludes nothing: plain TermQuery scores
    from pdf_to_opensearch_spark.query import search

    plain = (search(spark, index_dir, [(1, inc)], k=1 << 20)
             .toPandas().set_index("doc_id")["score"].round(4))
    noex = (span_not_search(spark, index_dir,
                            [(1, f"{inc} zzzabsentterm")],
                            dist=dist, k=1 << 20)
            .toPandas().set_index("doc_id")["score"])
    assert dict(noex) == dict(plain)


def test_synonym_group_tf_sum_df_max(spark, index_dir, corpus):
    """SynonymQuery semantics: the group scores as ONE term with
    tf = Σ member tfs and df = max member df."""
    import math

    from pdf_to_opensearch_spark.boolquery import synonym_search

    pdf, oracle = corpus
    t, syn = "index", "posting"
    members = [t, syn]
    df_g = max(len(oracle.index.get(m, {})) for m in members)
    w = math.log(1.0 + (oracle.N - df_g + 0.5) / (df_g + 0.5))
    want = {}
    for i in range(oracle.N):
        tf = sum(oracle.index.get(m, {}).get(i, 0) for m in members)
        if tf:
            dl = oracle.dl[i]
            norm = (tf * (oracle.k1 + 1)
                    / (tf + oracle.k1 * (1 - oracle.b
                                         + oracle.b * dl / oracle.avgdl)))
            want[int(oracle.doc_ids[i])] = round(w * norm, 4)
    got = (synonym_search(spark, index_dir, [(1, t)],
                          synonyms={t: [syn]}, k=1 << 20)
           .toPandas().set_index("doc_id")["score"])
    assert dict(got) == want


def test_pinned_order_and_exclusion(spark, index_dir, corpus):
    """pinned: listed ids take ranks 1..m in list order; organic hits
    follow with the pinned ids removed."""
    from pdf_to_opensearch_spark.boolquery import pinned_search
    from pdf_to_opensearch_spark.query import search

    query, pins = "spark index", [42, 7]
    got = (pinned_search(spark, index_dir, [(1, query)],
                         pinned={1: pins}, k=K)
           .orderBy("rank").toPandas())
    assert got["doc_id"].tolist()[:2] == pins
    organic = [d for (d, _s) in
               [(r["doc_id"], r["score"]) for _, r in
                search(spark, index_dir, [(1, query)], k=K + 2)
                .orderBy("rank").toPandas().iterrows()]
               if d not in pins]
    assert got["doc_id"].tolist()[2:] == organic[:K - 2]


def test_termvectors_tf_df_ttf(spark, index_dir, corpus):
    """_termvectors: tf from the doc's own analyzer stream, df/ttf from
    the corpus."""
    from pdf_to_opensearch_spark.boolquery import termvectors

    pdf, oracle = corpus
    ids = [3, 11]
    got = termvectors(spark, index_dir, ids).toPandas()
    for i in ids:
        toks = oracle.doc_tokens[i]
        sub = got[got["doc_id"] == i].set_index("term")
        assert set(sub.index) == set(toks)
        for term in set(toks):
            assert sub.loc[term, "tf"] == toks.count(term)
            assert sub.loc[term, "df"] == len(oracle.index[term])
            assert sub.loc[term, "ttf"] == sum(
                oracle.index[term].values())


def test_boxplot_mad_exact(spark, index_dir, corpus):
    """boxplot quartiles = numpy linear interpolation; mad = exact
    median absolute deviation — over the brute ANY-term hit set."""
    import numpy as np

    from pdf_to_opensearch_spark.boolquery import search_boxplot, search_mad

    query = "spark document"
    docs = (spark.read.parquet(f"{index_dir}/docs")
            .selectExpr("doc_id", "text", "length(text) AS v").toPandas())
    terms = set(tokenize_text(query))
    hit = docs[[bool(terms & set(tokenize_text(t)))
                for t in docs["text"]]]
    v = hit["v"].to_numpy(dtype=float)
    box = (search_boxplot(spark, index_dir, [(1, query)],
                          value_expr="length(text)")
           .toPandas().iloc[0])
    assert box["vmin"] == v.min() and box["vmax"] == v.max()
    for q, col in [(0.25, "q1"), (0.5, "q2"), (0.75, "q3")]:
        assert box[col] == round(float(np.quantile(v, q)), 4)
    med = np.quantile(v, 0.5)
    want_mad = round(float(np.quantile(np.abs(v - med), 0.5)), 4)
    mad = (search_mad(spark, index_dir, [(1, query)],
                      value_expr="length(text)").toPandas().iloc[0])
    assert mad["mad"] == want_mad


def test_resize_preserves_doc_ids(spark, index_dir, tmp_path, corpus):
    """_split/_shrink: rebuilding at a different range/partition count
    preserves every doc_id (dense url rank is partition-count-invariant)
    and therefore every search result."""
    from pdf_to_opensearch_spark.maintenance import reindex
    from pdf_to_opensearch_spark.query import search

    dst = str(tmp_path / "split8")
    reindex(spark, index_dir, dst, num_ranges=8, n_buckets=8,
            id_partitions=8)
    src_map = (spark.read.parquet(f"{index_dir}/docs")
               .select("url", "doc_id").toPandas()
               .set_index("url")["doc_id"])
    dst_map = (spark.read.parquet(f"{dst}/docs")
               .select("url", "doc_id").toPandas()
               .set_index("url")["doc_id"])
    assert dict(src_map) == dict(dst_map)
    q = [(1, "spark index"), (2, "document query")]
    a = search(spark, index_dir, q, k=K).toPandas()
    b = search(spark, dst, q, k=K).toPandas()
    assert a.to_dict("records") == b.to_dict("records")


def test_named_bool_matched_names(spark, index_dir, corpus):
    """matched_queries: score = Σ per-clause BM25 (each rounded),
    matched = sorted names of the clauses that hit."""
    from pdf_to_opensearch_spark.boolquery import named_bool_search

    pdf, oracle = corpus
    clauses = {"a": "spark", "b": "index posting"}
    got = (named_bool_search(spark, index_dir, [(1, clauses)], k=1 << 20)
           .toPandas().set_index("doc_id"))
    sa = dict(oracle.search("spark", k=1 << 20))
    sb = dict(oracle.search("index posting", k=1 << 20))
    for d, row in got.iterrows():
        names = []
        s = 0.0
        if d in sa:
            names.append("a")
            s += round(sa[d], 4)
        if d in sb:
            names.append("b")
            s += round(sb[d], 4)
        assert row["matched"] == ",".join(names)
        assert row["score"] == round(s, 4)


def test_sibling_bucket_aggs_summary(spark, rich_index_dir):
    """sibling pipelines: max/min/avg/sum over the weekly histogram's
    doc_counts, max_key = earliest bucket holding the max."""
    from pdf_to_opensearch_spark.boolquery import (
        search_date_histogram,
        search_sibling_bucket_aggs,
    )

    q = [(1, "spark document")]
    buckets = (search_date_histogram(spark, rich_index_dir, q,
                                     calendar_interval="week")
               .toPandas().sort_values("bucket_start"))
    got = (search_sibling_bucket_aggs(spark, rich_index_dir, q,
                                      calendar_interval="week")
           .toPandas().iloc[0])
    counts = buckets["doc_count"]
    assert got["max_count"] == counts.max()
    assert got["min_count"] == counts.min()
    assert got["sum_count"] == counts.sum()
    assert got["avg_count"] == round(float(counts.mean()), 4)
    assert got["n_buckets"] == len(buckets)
    winners = buckets[buckets["doc_count"] == counts.max()]
    assert got["max_key"] == winners["bucket_start"].min()


def test_bucket_pipeline2_stages(spark, rich_index_dir):
    """serial_diff lag-2 over the FULL histogram, ratio = share of total,
    selector cut then sort-desc page."""
    from pdf_to_opensearch_spark.boolquery import (
        search_bucket_pipeline2,
        search_date_histogram,
    )

    q = [(1, "spark document")]
    base = (search_date_histogram(spark, rich_index_dir, q,
                                  calendar_interval="week")
            .toPandas().sort_values("bucket_start", ignore_index=True))
    total = base["doc_count"].sum()
    thresh = int(base["doc_count"].median())
    got = (search_bucket_pipeline2(spark, rich_index_dir, q,
                                   lag=2, min_count=thresh, top=3)
           .toPandas())
    assert len(got) <= 3 and (got["doc_count"] >= thresh).all()
    assert got["rank"].tolist() == sorted(got["rank"].tolist())
    for _, row in got.iterrows():
        i = base.index[base["bucket_start"] == row["bucket_start"]][0]
        assert row["ratio"] == round(row["doc_count"] / total, 4)
        if i >= 2:  # serial_diff computed on the PRE-selector frame
            assert row["serial_diff"] == (base.loc[i, "doc_count"]
                                          - base.loc[i - 2, "doc_count"])
        else:
            assert row["serial_diff"] is None or pd_isna(row["serial_diff"])


def pd_isna(v):
    import pandas as _pd

    return _pd.isna(v)


def test_mget_point_fetch(spark, index_dir, corpus):
    """_mget: stored fields for an id list; absent ids yield no row."""
    from pdf_to_opensearch_spark.boolquery import mget

    got = mget(spark, index_dir, [2, 5, 10**9],
               cols=("url", "dl")).toPandas()
    assert got["doc_id"].tolist() == [2, 5]
    docs = (spark.read.parquet(f"{index_dir}/docs")
            .select("doc_id", "url", "dl").toPandas()
            .set_index("doc_id"))
    for d in (2, 5):
        row = got[got["doc_id"] == d].iloc[0]
        assert row["url"] == docs.loc[d, "url"]
        assert row["dl"] == docs.loc[d, "dl"]


def test_validate_query_api():
    """_validate/query: parse-only validity + clause explanation."""
    from pdf_to_opensearch_spark.boolquery import validate_query

    ok = validate_query('+spark -legacy "posting list" ind*')
    assert ok["valid"] is True
    assert "+spark" in ok["explanation"]
    assert '"posting list"' in ok["explanation"]
    assert "ind*" in ok["explanation"]
    assert validate_query("")["valid"] is False
    assert validate_query("***")["valid"] is False
    assert validate_query("- +")["valid"] is False


def test_rollover_generation_swap(spark, index_dir, tmp_path):
    """_rollover: past max_docs the alias advances to the next
    generation name atomically; under it, nothing moves."""
    from pdf_to_opensearch_spark.maintenance import (
        resolve_alias,
        rollover,
        update_aliases,
    )

    reg = str(tmp_path / "aliases.json")
    update_aliases(reg, [{"add": {"alias": "write", "index": index_dir}}])
    res = rollover(spark, reg, "write", max_docs=10**9)
    assert res["rolled"] is False
    assert resolve_alias(reg, "write") == index_dir
    res = rollover(spark, reg, "write", max_docs=1)
    assert res["rolled"] is True
    assert res["new_index"] == index_dir + "-000002"
    assert resolve_alias(reg, "write") == index_dir + "-000002"
    # a second rollover advances the generation counter
    update_aliases(reg, [
        {"remove": {"alias": "write", "index": index_dir + "-000002"}},
        {"add": {"alias": "write", "index": index_dir}}])
    res2 = rollover(spark, reg, "write", max_docs=1)
    assert res2["new_index"].endswith("-000002")


def test_intervals_ordered_chain(spark, index_dir, corpus):
    """intervals(ordered=true): greedy minimal chain, slack ≤ max_gaps —
    brute-verified; order matters (reversed-occurrence docs that
    span_near admits are rejected)."""
    import math

    from pdf_to_opensearch_spark.boolquery import intervals_search

    pdf, oracle = corpus
    t1, t2, gaps = "spark", "index", 3
    want = {}
    df1 = len(oracle.index.get(t1, {}))
    df2 = len(oracle.index.get(t2, {}))
    w = (math.log(1.0 + (oracle.N - df1 + 0.5) / (df1 + 0.5))
         + math.log(1.0 + (oracle.N - df2 + 0.5) / (df2 + 0.5)))
    for i, toks in enumerate(oracle.doc_tokens):
        tf = 0
        for p, t in enumerate(toks):
            if t != t1:
                continue
            nxt = next((j for j in range(p + 1, len(toks))
                        if toks[j] == t2), None)
            if nxt is not None and nxt - p - 1 <= gaps:
                tf += 1
        if tf:
            dl = oracle.dl[i]
            norm = (tf * (oracle.k1 + 1)
                    / (tf + oracle.k1 * (1 - oracle.b
                                         + oracle.b * dl / oracle.avgdl)))
            want[int(oracle.doc_ids[i])] = round(w * norm, 4)
    got = (intervals_search(spark, index_dir, [(1, f"{t1} {t2}")],
                            max_gaps=gaps, k=1 << 20)
           .toPandas().set_index("doc_id")["score"])
    assert dict(got) == want


# Every caller of the two hit-set producers (_match_docs,
# _full_bm25_scores), with the arguments the rich fixture index needs.
HIT_SET_CALLS = {
    "search_facets": {},
    "search_histogram": {},
    "significant_terms": {},
    "search_stats": {},
    "search_percentiles": {},
    "search_cardinality": {},
    "search_date_histogram": {},
    "search_top_hits": {},
    "query_string_search": {},
    "search_collapse": {},
    "search_range_agg": {},
    "search_filters_agg": {"filters": {"en": "lang = 'en'"},
                           "doc_cols": ["lang"]},
    "search_composite_agg": {"sources": [("lang", "lang"),
                                         ("src", "source")]},
    "search_adjacency_matrix": {"filters": {"en": "lang = 'en'",
                                            "long": "length(text) > 100"},
                                "doc_cols": ["lang", "text"]},
    "matrix_stats_agg": {},
    "search_sorted": {},
    "function_score_search": {},
    "search_extended_stats": {},
    "search_weighted_avg": {},
    "search_missing": {"col_expr": "source"},
    "search_pipeline_aggs": {},
    "decay_score_search": {},
    "script_score_search": {},
    "random_score_search": {},
    "search_sampler": {"max_docs_per_value": 2},
    "search_count": {},
    "search_rare_terms": {},
    "search_multi_terms": {},
    "search_auto_date_histogram": {},
    "scroll_export": {},
    "rank_feature_search": {},
    "search_percentile_ranks": {},
    "search_boxplot": {},
    "search_mad": {},
    "search_string_stats": {},
    "search_top_metrics": {},
    "search_date_range": {},
    "search_t_test": {},
    "distance_feature_search": {"origin": "2025-02-15 00:00:00"},
    "pinned_search": {"pinned": {1: [3]}},
    "named_bool_search": {},
    "search_sibling_bucket_aggs": {},
    "search_bucket_pipeline2": {},
}


def _hit_set_call(spark, index_dir, name, text):
    from pdf_to_opensearch_spark import boolquery as bq

    q = {"a": text} if name == "named_bool_search" else text
    return getattr(bq, name)(spark, index_dir, [(1, q)],
                             **HIT_SET_CALLS[name])


@pytest.mark.parametrize("name", sorted(HIT_SET_CALLS))
def test_hit_set_surfaces_empty_and_matching_share_schema(
        spark, rich_index_dir, name):
    """A query with no analyzable term (punctuation only) runs the same
    plan as a matching one over the empty hit-set frame, so both return
    the same column names and types; the empty one still executes."""
    def cols(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    empty = _hit_set_call(spark, rich_index_dir, name, "...!!")
    matching = _hit_set_call(spark, rich_index_dir, name, "spark document")
    assert cols(empty) == cols(matching)
    empty.collect()


@pytest.mark.parametrize("name", ["search_count", "search_stats",
                                  "function_score_search"])
def test_empty_hit_set_reads_no_parquet(spark, rich_index_dir, name):
    """Catalyst folds the empty hit set's join / aggregation / window to
    an empty LocalRelation: the optimized plan of an aggregation, a
    docs-join user and a scored surface holds no parquet relation."""
    empty = _hit_set_call(spark, rich_index_dir, name, "...!!")
    plan = empty._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" not in plan.lower(), plan
    assert "LocalRelation" in plan, plan
    assert empty.count() == 0


def test_range_and_filters_agg_take_an_empty_query_list(spark, index_dir):
    """An empty query list returns an empty frame with the surface's
    columns (the declared-bucket grid is typed, not inferred)."""
    from pdf_to_opensearch_spark.boolquery import (
        search_filters_agg,
        search_range_agg,
    )

    filters = {"en": "lang = 'en'"}
    for run in (lambda q: search_range_agg(spark, index_dir, q),
                lambda q: search_filters_agg(spark, index_dir, q, filters,
                                             ["lang"])):
        got, ref = run([]), run([(1, "spark")])
        assert got.columns == ref.columns
        assert got.count() == 0
        assert ref.count() > 0
