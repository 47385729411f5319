"""Physical-plan hygiene (SURVEY.md §4): pushdown, pruning, no stray
shuffles — the properties that keep the engine viable at 100 TB."""

import pytest

from pdf_to_opensearch_spark.extract import extract_docs
from pdf_to_opensearch_spark.indexer import build_index
from pdf_to_opensearch_spark.synth import make_pages


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planidx"))
    pages = make_pages(spark, n_docs=120, seed=5, partitions=4)
    build_index(spark, extract_docs(pages), root, num_ranges=3, n_buckets=8,
                id_partitions=4)
    return root


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_postings_scan_pushes_bucket_and_term_filters(spark, index_dir):
    """Postings files are written sorted by (bucket, term), so BOTH query
    filters must reach the parquet scan as pushed predicates — row-group
    min/max stats then prune exactly like directory partitioning did,
    without the dynamic-partition writer's many-small-files cost."""
    from pyspark.sql import functions as F

    from pdf_to_opensearch_spark.indexer import bucket_of

    term = "spark"
    b = bucket_of(term, 8)
    df = (spark.read.parquet(f"{index_dir}/postings")
          .filter(F.col("bucket") == b)
          .filter(F.col("term") == term)
          .select("term", "range_id", "n"))
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "term" in pushed
    assert "bucket" in pushed


def test_html_pruned_after_extraction(spark):
    """The heavy binary column must not survive past extraction
    (ReadSchema check — at 100 TB html dominates I/O)."""
    pages = make_pages(spark, n_docs=50, seed=1, partitions=2)
    docs = extract_docs(pages).select("url", "lang")  # no text either
    plan = _plan(docs)
    read_schema = plan.split("ReadSchema")[-1] if "ReadSchema" in plan else plan
    # when only url/lang are consumed, html/text should be pruned from scan
    # (createDataFrame-backed local relations don't show ReadSchema; assert
    # on the projected output instead)
    assert "html" not in docs.columns


def test_docs_scan_prunes_text_for_stats(spark, index_dir):
    from pyspark.sql import functions as F

    df = (spark.read.parquet(f"{index_dir}/docs")
          .groupBy("lang").agg(F.avg("dl").alias("avg_dl")))
    plan = _plan(df)
    assert "ReadSchema" in plan
    rs = plan.split("ReadSchema")[1][:300]
    assert "text" not in rs, f"text column not pruned: {rs}"
    assert "html" not in rs


def test_search_has_single_aggregation_exchange(spark, index_dir,
                                                force_side):
    """The query path should shuffle once for the per-range kernel and once
    for the tiny global top-k window — no full-corpus wide exchange
    (distributed side of query.execute's sized decision)."""
    from pdf_to_opensearch_spark.query import search

    force_side("distributed")
    res = search(spark, index_dir, [(1, "spark index")], k=5)
    plan = _plan(res)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 4, f"too many exchanges in query plan:\n{plan}"


def test_dictionary_agg_is_partial_aggregated(spark, index_dir):
    """dictionary build must map-side combine (HashAggregate partial →
    final), which is what makes it immune to Zipfian term skew."""
    from pyspark.sql import functions as F

    df = (spark.read.parquet(f"{index_dir}/postings")
          .groupBy("term").agg(F.sum("n").alias("df")))
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_minhash_candidates_have_no_window_exchange(spark):
    """The LSH bucket guard must be a partial-aggregated groupBy count +
    broadcast anti-join, NOT a count(*) window — a window would shuffle
    and SORT every banded row on (band, bucket)."""
    from pdf_to_opensearch_spark.ops.dedup import minhash_candidate_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon token{i} zeta eta theta")
         for i in range(30)],
        "doc_id long, text string")
    cands = minhash_candidate_pairs(docs, num_hashes=8, bands=4,
                                    materialize=False)
    plan = _plan(cands)
    assert "Window" not in plan, f"window survived in candidate plan:\n{plan}"
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    spark.catalog.clearCache()


def test_simhash_near_pairs_reads_cached_signatures(spark):
    """The 4 chunk equi-joins read BOTH sides of the signature table; a
    persist must sit between the simhash pipeline and the joins, or the
    tokenize→explode→groupBy→applyInPandas DAG re-runs up to 8× (Spark has
    no cross-branch CSE). Assert every join branch scans the in-memory
    relation instead of re-deriving the pipeline."""
    from pdf_to_opensearch_spark.ops.dedup import simhash_near_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon token{i} zeta eta theta")
         for i in range(20)],
        "doc_id long, text string")
    pairs = simhash_near_pairs(docs, max_hamming=3, materialize=False)
    plan = _plan(pairs)
    # 4 chunk joins × 2 sides = 8 scans of the cached signature table
    assert plan.count("InMemoryTableScan") >= 8, \
        f"chunk joins not reading cached signatures:\n{plan}"
    spark.catalog.clearCache()


def test_ann_lsh_has_no_bucket_rejoin_shuffle(spark):
    """lsh_topk / ivf_topk must emit the bucket/cell INLINE from the
    mapInPandas kernel (carry_vec) — not compute a side table and join it
    back on id, which shuffles the full embeddings table per query batch.
    Allowed joins: the broadcast of the tiny query-bucket side only."""
    from pdf_to_opensearch_spark.ops.similarity import ivf_topk, lsh_topk

    import numpy as np
    rng = np.random.default_rng(0)
    rows = [(int(i), rng.standard_normal(8).astype("float32").tolist())
            for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for df in (lsh_topk(emb, [1, 2], k=3, n_planes=4, dim=8),
               ivf_topk(emb, [1, 2], k=3, n_cells=4, dim=8)):
        plan = _plan(df)
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan


def test_multi_match_single_shuffle_no_cross_field_join(spark, index_dir):
    """multi_match unions all fields' term-pruned postings scans and
    groups them ONCE by range_id into the scoring kernel: the plan must
    contain exactly one exchange below the kernel (the range group) and
    no join between per-field match sets; the global top-k window adds
    its own exchange above. Field postings scans carry pushed term
    filters like the single-field engine."""
    from pdf_to_opensearch_spark.fields import build_field_index
    from pdf_to_opensearch_spark.multimatch import multi_match
    from pdf_to_opensearch_spark.indexer import IndexPaths
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = (spark.read.parquet(IndexPaths(index_dir).docs))
    if "text_prev" not in docs.columns:
        # plan fixture index has no extra field; build one from lag(text)
        import shutil
        # rebuild a tiny index that carries the field column
        from pdf_to_opensearch_spark.extract import extract_docs as ed
        root = index_dir + "_mm"
        pages = make_pages(spark, n_docs=80, seed=6, partitions=2)
        d = ed(pages).withColumn(
            "text_prev",
            F.coalesce(F.lag("text").over(Window.orderBy("url")),
                       F.lit("")))
        build_index(spark, d, root, num_ranges=3, n_buckets=8,
                    id_partitions=2)
        build_field_index(spark, root, "text_prev")
    else:
        root = index_dir
    res = multi_match(spark, root, [(1, "spark index")],
                      {"text": 1.0, "text_prev": 0.5}, k=5)
    plan = _plan(res)
    # no SortMergeJoin/BroadcastHashJoin anywhere: fields combine inside
    # the kernel, never via a relational join of match sets
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    # exactly two exchanges: postings->range group + global top-k window
    # (count tree nodes only — the formatted details section repeats
    # every node name once more)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 2, tree
    assert "PushedFilters" in plan


def test_fuzzy_expansion_is_one_scan(spark, index_dir):
    """The fuzzy dictionary expansion joins the broadcast token list
    against ONE dictionary scan — len(tokens) scans would read a
    100-TB-scale term dictionary once per token."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    dictionary = spark.read.parquet(f"{index_dir}/dictionary")
    src_df = spark.createDataFrame([("spark",), ("posting",)],
                                   "src string")
    wexp = Window.partitionBy("src").orderBy("dist", "term")
    exp = (dictionary.join(F.broadcast(src_df))
           .withColumn("dist", F.levenshtein(F.col("term"), F.col("src")))
           .filter(F.col("dist") <= 2)
           .withColumn("rn", F.row_number().over(wexp))
           .filter(F.col("rn") <= 50))
    plan = _plan(exp)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_term_suggest_single_dictionary_expansion_scan(spark, index_dir):
    """term_suggest expands every source token against ONE broadcast-join
    dictionary scan (plus at most one more scan for the missing-mode
    anti-join) — never a per-token scan loop, and nothing joins back to
    postings or docs."""
    from pdf_to_opensearch_spark.boolquery import term_suggest

    res = term_suggest(spark, index_dir, "sprak postin merge", size=5)
    plan = _plan(res)
    tree = plan.split("\n\n")[0]
    # candidate scan + missing-mode anti-join scan, both on dictionary
    assert tree.count("Scan parquet") <= 2, tree
    assert "SortMergeJoin" not in plan


def test_stats_agg_prunes_docs_scan_columns(spark, index_dir, force_side):
    """search_stats must read only (doc_id, text) from the docs table —
    url/lang/embedding never leave the parquet reader (ReadSchema), and
    the hit-set aggregation is partial (map-side combined) before its
    single exchange (distributed side of query.execute)."""
    from pdf_to_opensearch_spark.boolquery import search_stats

    force_side("distributed")
    res = search_stats(spark, index_dir, [(1, "spark index")],
                       value_expr="length(text)")
    plan = _plan(res)
    schemas = [seg.split("\n")[0] for seg in plan.split("ReadSchema: ")[1:]]
    docs_schemas = [s for s in schemas if "text" in s]
    assert docs_schemas, plan
    for s in docs_schemas:
        assert "url" not in s and "lang" not in s, s
    assert "partial_count" in plan or "HashAggregate" in plan


def test_top_hits_no_extra_shuffle_beyond_group_join_window(spark,
                                                            index_dir,
                                                            force_side):
    """search_top_hits: postings scan grouped once into the kernel, one
    join against the column-pruned facet scan, one ranked window — no
    stray exchanges (facet side may broadcast; distributed side of
    query.execute)."""
    from pdf_to_opensearch_spark.boolquery import search_top_hits

    force_side("distributed")
    res = search_top_hits(spark, index_dir, [(1, "spark index")],
                          facet_col="lang", per_bucket=2)
    plan = _plan(res)
    tree = plan.split("\n\n")[0]
    # range group + (join exchanges if SMJ) + window partition exchange:
    # allow at most 4, and the docs scan must be pruned to id+facet
    assert tree.count("Exchange") <= 4, tree
    schemas = [seg.split("\n")[0] for seg in plan.split("ReadSchema: ")[1:]]
    facet_schemas = [s for s in schemas if "lang" in s]
    assert facet_schemas and all("text" not in s for s in facet_schemas)


def test_percolate_has_no_window_or_global_sort(spark, index_dir,
                                                force_side):
    """percolate emits the match set straight from the per-range kernel:
    no Window (the set is not a page), no global Sort, no Exchange at all
    — the unfiltered postings scan runs inside the kernel's pyio tasks
    (bucket/term pruning happens in pyarrow there), so no postings
    parquet scan appears in the Spark plan (distributed side of
    query.execute)."""
    from pdf_to_opensearch_spark.boolquery import percolate

    force_side("distributed")
    res = percolate(spark, index_dir, [(1, "spark index"), (2, "document")])
    plan = _plan(res)
    tree = plan.split("\n\n")[0]
    assert "Window" not in plan, plan
    assert tree.count("Exchange") == 0, tree
    assert "Scan parquet" not in tree, tree


def _exchanges_below_topk_window(plan: str) -> list[str]:
    """Partitioning of every Exchange in the subtree of the plan's
    deepest Window (the per-range candidates' top-k window), top down."""
    import re

    tree, details = plan.split("\n\n", 1)
    lines = tree.splitlines()
    win = max(i for i, ln in enumerate(lines)
              if re.search(r"[- ]Window \(\d+\)$", ln))
    depth = len(lines[win]) - len(lines[win].lstrip(" +-:"))
    out = []
    for ln in lines[win + 1:]:
        if len(ln) - len(ln.lstrip(" +-:")) <= depth:
            break
        m = re.search(r"[- ]Exchange \((\d+)\)$", ln)
        if m:
            args = details.split(f"({m.group(1)}) Exchange")[1]
            out.append(args.split("Arguments: ")[1].split("\n")[0])
    return out


def _ranked_surfaces(spark, index_dir) -> dict:
    """Every unfiltered single-index ranked surface, one small call each."""
    from pdf_to_opensearch_spark import boolquery as bq
    from pdf_to_opensearch_spark.query import Searcher, search

    return {
        "search": lambda: search(spark, index_dir, [(1, "spark index")],
                                 k=5),
        "phrase_search": lambda: Searcher(spark, index_dir).phrase_search(
            [(1, "spark index")], k=5),
        "boolean_search": lambda: bq.boolean_search(
            spark, index_dir, [(1, {"must": "spark", "should": "index",
                                    "must_not": "zzz"})], k=5),
        "prefix_search": lambda: bq.prefix_search(
            spark, index_dir, [(1, "spa")], k=5),
        "fuzzy_search": lambda: bq.fuzzy_search(
            spark, index_dir, [(1, "sprak")], k=5),
        "wildcard_search": lambda: bq.wildcard_search(
            spark, index_dir, [(1, "sp*k")], k=5),
        "more_like_this": lambda: bq.more_like_this(
            spark, index_dir, [(1, 0)], k=5, min_term_freq=1),
        "boosting_search": lambda: bq.boosting_search(
            spark, index_dir, [(1, {"positive": "spark index",
                                    "negative": "posting"})], k=5),
        "span_near_search": lambda: bq.span_near_search(
            spark, index_dir, [(1, "spark index")], k=5),
        "intervals_search": lambda: bq.intervals_search(
            spark, index_dir, [(1, "spark index")], k=5),
    }


def test_ranked_surfaces_have_no_exchange_below_topk_window(spark,
                                                            index_dir,
                                                            force_side):
    """Every unfiltered single-index ranked surface goes through
    query.execute's pyio branch (the distributed side of its sized
    decision): the only Exchange under the top-k Window is the window's
    own query_id partitioning — no range_id grouping, no JVM postings
    scan below it."""
    force_side("distributed")
    for name, run in _ranked_surfaces(spark, index_dir).items():
        plan = _plan(run())
        tree = plan.split("\n\n")[0]
        assert "Scan parquet" not in tree, (name, tree)
        below = _exchanges_below_topk_window(plan)
        assert len(below) == 1, (name, below, tree)
        assert below[0].startswith("hashpartitioning(query_id"), \
            (name, below)


def test_ranked_surfaces_below_the_bound_read_no_postings_in_spark(
        spark, index_dir):
    """The driver side of query.execute's sized decision (the small
    fixture index is below the bound): every surface ranked by execute
    reads its postings on the driver, so its plan holds no postings scan
    and no Python task — one local relation, or for more_like_this (which
    re-ranks in Spark after dropping the seed) a Window above one. The
    surfaces that round scores in Spark before ranking (span_near,
    intervals) call execute unranked, so they keep the distributed pyio
    scan."""
    spark_ranked = {"more_like_this"}
    execute_unranked = {"span_near_search", "intervals_search"}
    for name, run in _ranked_surfaces(spark, index_dir).items():
        tree = _plan(run()).split("\n\n")[0]
        assert "Scan parquet" not in tree, (name, tree)
        if name in execute_unranked:
            assert "MapInPandas" in tree, (name, tree)
            continue
        assert "MapInPandas" not in tree and "Python" not in tree, \
            (name, tree)
        assert "LocalTableScan" in tree, (name, tree)
        if name not in spark_ranked:
            assert tree.splitlines()[1:] == ["LocalTableScan (1)"], \
                (name, tree)
