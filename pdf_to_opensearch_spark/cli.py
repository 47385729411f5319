"""Command-line entry points (the ``spark-submit --py-files`` surface).

Cluster usage:

    python -m pdf_to_opensearch_spark.deploy   # writes the --py-files zip
    spark-submit --py-files /tmp/pdf_to_opensearch_spark_<pid>.zip \\
        -m pdf_to_opensearch_spark.cli build \\
        --pages s3://bucket/pages --index s3://bucket/index --ranges 4096

Local usage (this sandbox):

    python -m pdf_to_opensearch_spark.cli build --pages <parquet> --index <dir>
    python -m pdf_to_opensearch_spark.cli search --index <dir> -q "spark join"
    python -m pdf_to_opensearch_spark.cli phrase --index <dir> -q "exact phrase"

``build`` is resumable: pass ``--resume`` to skip manifest-committed ranges
after a crash (identical final index — tested).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None, keep_session: bool = False) -> int:
    """``keep_session=True`` leaves the SparkSession running — for tests
    that drive several commands through one shared session."""
    p = argparse.ArgumentParser(prog="pdf_to_opensearch_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--pages", required=True,
                   help="parquet of pages/docs with url,text,lang "
                        "(+optional html to extract)")
    b.add_argument("--index", required=True)
    b.add_argument("--ranges", type=int, default=32)
    b.add_argument("--buckets", type=int, default=16)
    b.add_argument("--resume", action="store_true")

    s = sub.add_parser("search", help="BM25 top-k")
    s.add_argument("--index", required=True)
    s.add_argument("-q", "--query", action="append", required=True)
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--filter", default=None,
                   help="SQL predicate over docs columns (bool/filter)")
    s.add_argument("--field", default=None,
                   help="score this analyzed field's posting space "
                        "(built with build-field) instead of the root")
    s.add_argument("--msm", default=None,
                   help="minimum_should_match: int or 'N%%' of distinct "
                        "query terms a doc must match")

    so = sub.add_parser("sort", help="search sorted on a doc field "
                                     "instead of _score (filter context)")
    so.add_argument("--index", required=True)
    so.add_argument("-q", "--query", action="append", required=True)
    so.add_argument("-k", type=int, default=10)
    so.add_argument("--sort-expr", default="warc_ts")
    so.add_argument("--asc", action="store_true")
    so.add_argument("--doc-cols", default="warc_ts")

    cs = sub.add_parser("constscore", help="constant_score over a filter "
                                           "predicate (no scoring kernel)")
    cs.add_argument("--index", required=True)
    cs.add_argument("--filter", required=True,
                    help="SQL predicate over docs columns")
    cs.add_argument("--boost", type=float, default=1.2)
    cs.add_argument("-k", type=int, default=10)

    fs = sub.add_parser("funcscore", help="function_score: "
                                          "field_value_factor / gauss "
                                          "decay / script / random")
    fs.add_argument("--index", required=True)
    fs.add_argument("-q", "--query", action="append", required=True)
    fs.add_argument("--mode", default="fvf",
                    choices=["fvf", "decay", "script", "random"])
    fs.add_argument("--factor-expr", default="ln(1 + length(text))",
                    help="fvf factor / script expression")
    fs.add_argument("--factor-cols", default="text")
    fs.add_argument("--decay-field", default="warc_ts")
    fs.add_argument("--origin", default="2025-02-15 00:00:00")
    fs.add_argument("--scale-s", type=float, default=14 * 86400.0)
    fs.add_argument("--decay", type=float, default=0.5)
    fs.add_argument("--seed", type=int, default=42)
    fs.add_argument("-k", type=int, default=10)

    ph = sub.add_parser("phrase", help="match_phrase top-k")
    ph.add_argument("--index", required=True)
    ph.add_argument("-q", "--query", action="append", required=True)
    ph.add_argument("-k", type=int, default=10)
    ph.add_argument("--filter", default=None,
                    help="SQL predicate over docs columns (bool/filter)")
    ph.add_argument("--field", default=None,
                    help="phrase-match this analyzed field's posting "
                         "space (built with build-field) instead of the "
                         "root")
    ph.add_argument("--slop", type=int, default=0,
                    help="match_phrase slop (ordered-window contract)")
    ph.add_argument("--prefix", action="store_true",
                    help="match_phrase_prefix: last term matches as a "
                         "dictionary prefix expansion")
    ph.add_argument("--max-expansions", type=int, default=50)

    sp = sub.add_parser("spanfirst", help="span_first: term matches only "
                                          "within the first N positions")
    sp.add_argument("--index", required=True)
    sp.add_argument("-q", "--query", action="append", required=True)
    sp.add_argument("--end", type=int, default=5)
    sp.add_argument("-k", type=int, default=10)

    sn = sub.add_parser("spannear", help="span_near in_order=false: all "
                                         "terms within an unordered "
                                         "proximity window")
    sn.add_argument("--index", required=True)
    sn.add_argument("-q", "--query", action="append", required=True)
    sn.add_argument("--slop", type=int, default=2)
    sn.add_argument("-k", type=int, default=10)

    rf = sub.add_parser("rankfeature", help="rank_feature should-clause: "
                                            "BM25 + boost*f/(f+pivot)")
    rf.add_argument("--index", required=True)
    rf.add_argument("-q", "--query", action="append", required=True)
    rf.add_argument("--feature", default="length(text)",
                    help="SQL expression over docs columns")
    rf.add_argument("--feature-cols", default="text",
                    help="comma-separated docs columns the expr needs")
    rf.add_argument("--pivot", type=float, default=500.0)
    rf.add_argument("--boost", type=float, default=1.0)
    rf.add_argument("-k", type=int, default=10)

    so = sub.add_parser("spannot", help="span_not: include-term hits "
                                        "with no exclude term within "
                                        "+/-dist (query = 'include "
                                        "exclude...')")
    so.add_argument("--index", required=True)
    so.add_argument("-q", "--query", action="append", required=True)
    so.add_argument("--dist", type=int, default=2)
    so.add_argument("-k", type=int, default=10)

    tv = sub.add_parser("termvectors", help="_termvectors: per-doc "
                                            "term tf + corpus df/ttf")
    tv.add_argument("--index", required=True)
    tv.add_argument("--ids", required=True,
                    help="comma-separated doc_ids")

    pq = sub.add_parser("pinned", help="pinned query: listed ids take "
                                       "the top ranks, organic BM25 "
                                       "follows")
    pq.add_argument("--index", required=True)
    pq.add_argument("-q", "--query", required=True)
    pq.add_argument("--ids", required=True,
                    help="comma-separated doc_ids to pin, in order")
    pq.add_argument("-k", type=int, default=10)

    sy = sub.add_parser("synonyms", help="query-time synonym expansion "
                                         "(SynonymQuery: tf sum, df "
                                         "max per group)")
    sy.add_argument("--index", required=True)
    sy.add_argument("-q", "--query", action="append", required=True)
    sy.add_argument("--map", required=True,
                    help="JSON object token -> [synonyms...]")
    sy.add_argument("-k", type=int, default=10)

    dfq = sub.add_parser("distancefeature", help="distance_feature "
                                                 "(date): BM25 + boost*"
                                                 "pivot/(pivot+|ts-"
                                                 "origin|)")
    dfq.add_argument("--index", required=True)
    dfq.add_argument("-q", "--query", action="append", required=True)
    dfq.add_argument("--origin", required=True)
    dfq.add_argument("--ts-col", default="warc_ts")
    dfq.add_argument("--pivot-seconds", type=float, default=7 * 86400.0)
    dfq.add_argument("--boost", type=float, default=1.0)
    dfq.add_argument("-k", type=int, default=10)

    rz = sub.add_parser("resize", help="_split/_shrink: re-shard an "
                                       "index (doc_ids preserved)")
    rz.add_argument("--index", required=True)
    rz.add_argument("--out", required=True)
    rz.add_argument("--num-ranges", type=int, required=True)
    rz.add_argument("--id-partitions", type=int, default=None)
    rz.add_argument("--n-buckets", type=int, default=8)

    sc = sub.add_parser("scroll", help="sliced scroll: export the full "
                                       "hit set as independent paged "
                                       "slices")
    sc.add_argument("--index", required=True)
    sc.add_argument("-q", "--query", action="append", required=True)
    sc.add_argument("--slices", type=int, default=4)
    sc.add_argument("--page-size", type=int, default=100)
    sc.add_argument("--limit", type=int, default=100,
                    help="display cap")

    ri = sub.add_parser("reindex", help="_reindex: rebuild a new index "
                                        "from an existing one's docs")
    ri.add_argument("--index", required=True)
    ri.add_argument("--out", required=True)
    ri.add_argument("--where", default=None,
                    help="SQL predicate over the source docs")
    ri.add_argument("--set", action="append", default=[],
                    help="col=SQL_EXPR transform (repeatable)")
    ri.add_argument("--num-ranges", type=int, default=16)
    ri.add_argument("--buckets", type=int, default=64)

    al = sub.add_parser("alias", help="_aliases: atomic alias registry "
                                      "(add / remove / swap / resolve)")
    al.add_argument("--registry", required=True,
                    help="path of the alias registry JSON")
    al.add_argument("action", choices=["add", "remove", "swap",
                                       "resolve", "list"])
    al.add_argument("--alias", default=None)
    al.add_argument("--target", default=None, help="index root")
    al.add_argument("--old", default=None,
                    help="swap: expected current target")

    fc = sub.add_parser("filterq", help="filter-context queries: exists / "
                                        "ids / terms (constant score, "
                                        "doc_id page order)")
    fc.add_argument("--index", required=True)
    fc.add_argument("--type", required=True,
                    choices=["exists", "ids", "terms"])
    fc.add_argument("--expr", default=None,
                    help="exists: field expression")
    fc.add_argument("--ids", default=None,
                    help="ids: comma-separated doc ids")
    fc.add_argument("--col", default="source",
                    help="terms: keyword column")
    fc.add_argument("--values", default=None,
                    help="terms: comma-separated values")
    fc.add_argument("-k", type=int, default=10)

    pc = sub.add_parser("percolate", help="reverse search: fire stored "
                                          "match(operator=and) queries, "
                                          "emit every (query, doc) match")
    pc.add_argument("--index", required=True)
    pc.add_argument("queries", nargs="+",
                    help="stored query texts (ids assigned in order)")
    pc.add_argument("--filter", default=None,
                    help="SQL predicate over docs columns (filter context)")
    pc.add_argument("--limit", type=int, default=100,
                    help="display cap for the match list")

    fz = sub.add_parser("fuzzy", help="FuzzyQuery top-k (Levenshtein "
                                      "dictionary expansion)")
    fz.add_argument("--index", required=True)
    fz.add_argument("-q", "--query", action="append", required=True)
    fz.add_argument("-k", type=int, default=10)
    fz.add_argument("--max-edits", type=int, default=2)
    fz.add_argument("--max-expansions", type=int, default=50)

    wc = sub.add_parser("wildcard", help="WildcardQuery top-k (*/? "
                                         "patterns, scoring_boolean)")
    wc.add_argument("--index", required=True)
    wc.add_argument("-q", "--query", action="append", required=True)
    wc.add_argument("-k", type=int, default=10)

    rx = sub.add_parser("regexp", help="RegexpQuery top-k (full-term "
                                       "anchored, scoring_boolean)")
    rx.add_argument("--index", required=True)
    rx.add_argument("-q", "--query", action="append", required=True)
    rx.add_argument("-k", type=int, default=10)
    rx.add_argument("--max-expansions", type=int, default=50)

    bo = sub.add_parser("boosting", help="boosting query: positive hits "
                                         "demoted by negative matches")
    bo.add_argument("--index", required=True)
    bo.add_argument("--positive", action="append", required=True)
    bo.add_argument("--negative", action="append", required=True)
    bo.add_argument("-k", type=int, default=10)
    bo.add_argument("--negative-boost", type=float, default=0.5)

    ag = sub.add_parser("aggs", help="aggregations over the full match "
                                     "hit set")
    ag.add_argument("--index", required=True)
    ag.add_argument("-q", "--query", action="append", required=True)
    ag.add_argument("--type", required=True,
                    choices=["stats", "percentiles", "cardinality",
                             "date_histogram", "top_hits", "range",
                             "filters", "composite", "adjacency_matrix",
                             "matrix_stats", "extended_stats",
                             "weighted_avg", "missing", "global",
                             "pipeline", "sampler",
                             "diversified_sampler", "rare_terms",
                             "multi_terms", "auto_date_histogram"])
    ag.add_argument("--max-doc-count", type=int, default=1,
                    help="rare_terms: bucket-count ceiling")
    ag.add_argument("--target-buckets", type=int, default=10,
                    help="auto_date_histogram: bucket budget")
    ag.add_argument("--shard-size", type=int, default=100)
    ag.add_argument("--max-per-value", type=int, default=2)
    ag.add_argument("--dedup-col", default="source")
    ag.add_argument("--value-expr", default="length(text)")
    ag.add_argument("--value-expr-b", default="length(text)",
                    help="matrix_stats: second field expression")
    ag.add_argument("--col", default="lang",
                    help="facet/cardinality column or timestamp column")
    ag.add_argument("--interval", default="day",
                    help="date_histogram calendar interval")
    ag.add_argument("--per-bucket", type=int, default=3)
    ag.add_argument("--approx", action="store_true",
                    help="cardinality: HLL++ instead of exact")
    ag.add_argument("--ranges", default=":250,200:400,350:",
                    help="range agg bounds, comma-separated lo:hi "
                         "(empty side = open)")
    ag.add_argument("--filter-def", action="append", default=[],
                    help="filters/adjacency_matrix: name=SQL_PREDICATE "
                         "(repeatable)")
    ag.add_argument("--sources", default="lang,source",
                    help="composite: two source columns, comma-separated")
    ag.add_argument("--after", default=None,
                    help="composite: after_key cursor, comma-separated")
    ag.add_argument("--size", type=int, default=10,
                    help="composite: page size")
    ag.add_argument("--doc-cols", default="text,lang",
                    help="doc columns the predicates/exprs need")
    wc.add_argument("--max-expansions", type=int, default=50)

    ml = sub.add_parser("mlt", help="more_like_this top-k seeded by an "
                                    "indexed doc_id")
    ml.add_argument("--index", required=True)
    ml.add_argument("--seed", action="append", type=int, required=True)
    ml.add_argument("-k", type=int, default=10)
    ml.add_argument("--max-query-terms", type=int, default=25)

    mm = sub.add_parser("multimatch", help="multi_match over root + "
                                           "field posting spaces")
    mm.add_argument("--index", required=True)
    mm.add_argument("-q", "--query", action="append", required=True)
    mm.add_argument("--fields", required=True,
                    help="comma list of field:boost, e.g. "
                         "text:1.0,text_prev:0.5")
    mm.add_argument("--mode", default="most_fields",
                    choices=["most_fields", "best_fields"])
    mm.add_argument("-k", type=int, default=10)

    hg = sub.add_parser("histogram", help="numeric histogram aggregation "
                                          "over the match hit set")
    hg.add_argument("--index", required=True)
    hg.add_argument("-q", "--query", action="append", required=True)
    hg.add_argument("--expr", default="length(text)")
    hg.add_argument("--interval", type=int, default=500)

    fa = sub.add_parser("facets", help="terms aggregation over the match "
                                       "hit set")
    fa.add_argument("--index", required=True)
    fa.add_argument("-q", "--query", action="append", required=True)
    fa.add_argument("--col", default="lang")
    fa.add_argument("-n", type=int, default=10)

    sg = sub.add_parser("sigterms", help="significant_terms aggregation "
                                         "(JLH) over the match hit set")
    sg.add_argument("--index", required=True)
    sg.add_argument("-q", "--query", action="append", required=True)
    sg.add_argument("-n", type=int, default=10)
    sg.add_argument("--min-doc-count", type=int, default=3)

    ex = sub.add_parser("explain", help="per-term BM25 contribution "
                                        "breakdown of the top-k hits")
    ex.add_argument("--index", required=True)
    ex.add_argument("-q", "--query", action="append", required=True)
    ex.add_argument("-k", type=int, default=5)

    qsp = sub.add_parser("qs", help='query_string mini-language: '
                                    '+must -not "phrase" wild* bare')
    qsp.add_argument("--index", required=True)
    qsp.add_argument("-q", "--query", action="append", required=True)
    qsp.add_argument("-k", type=int, default=10)
    qsp.add_argument("--max-expansions", type=int, default=50)

    su = sub.add_parser("suggest", help="term suggester (did-you-mean) "
                                        "over the term dictionary")
    su.add_argument("--index", required=True)
    su.add_argument("-q", "--query", required=True)
    su.add_argument("--size", type=int, default=5)
    su.add_argument("--max-edits", type=int, default=2)
    su.add_argument("--mode", choices=["missing", "always"],
                    default="missing")
    su.add_argument("--type", choices=["term", "phrase"], default="term",
                    help="phrase: bigram-LM whole-phrase correction "
                         "(build-bigrams first)")
    su.add_argument("--max-candidates", type=int, default=3,
                    help="phrase: per-position candidate pool")

    bb = sub.add_parser("build-bigrams", help="build the bigram model "
                                              "the phrase suggester "
                                              "rescored with")
    bb.add_argument("--index", required=True)

    bf = sub.add_parser("build-field", help="build the posting space for "
                                            "one analyzed field of the "
                                            "indexed unit (per-field "
                                            "df/avgdl, Lucene-style)")
    bf.add_argument("--index", required=True)
    bf.add_argument("--field", required=True,
                    help="string column of the docs table")

    hy = sub.add_parser("hybrid", help="BM25 ∪ kNN top-k (RRF fusion; the "
                                       "docs table must carry an embedding "
                                       "column)")
    hy.add_argument("--index", required=True)
    hy.add_argument("-q", "--query", required=True, help="lexical query text")
    hy.add_argument("--vec", required=True,
                    help="query vector as a JSON float list")
    hy.add_argument("-k", type=int, default=10)
    hy.add_argument("--depth", type=int, default=20)

    dd = sub.add_parser("dedup", help="near-duplicate pairs over a docs "
                                      "parquet (doc_id, text)")
    dd.add_argument("--docs", required=True)
    dd.add_argument("--method", choices=["exact", "minhash", "simhash"],
                    default="minhash")
    dd.add_argument("--threshold", type=float, default=0.7)
    dd.add_argument("--out", default=None,
                    help="write pairs parquet here instead of printing")

    an = sub.add_parser("ann", help="top-k nearest neighbours over an "
                                    "embeddings parquet (vec_id, embedding)")
    an.add_argument("--embeddings", required=True)
    an.add_argument("--query-ids", required=True,
                    help="comma-separated vec_ids to use as queries")
    an.add_argument("--mode", choices=["exact", "lsh", "ivf"],
                    default="exact")
    an.add_argument("-k", type=int, default=10)
    an.add_argument("--dim", type=int, default=64)

    ap = sub.add_parser("append", help="append a doc batch to an existing "
                                       "index (exactly-once by batch id)")
    ap.add_argument("--index", required=True)
    ap.add_argument("--docs", required=True)
    ap.add_argument("--batch-id", type=int, default=None)

    fm = sub.add_parser("merge", help="force-merge: compact append-created "
                                      "micro-ranges (doc_ids preserved)")
    fm.add_argument("--index", required=True)
    fm.add_argument("--out", required=True)
    fm.add_argument("--docs-per-range", type=int, default=None)

    de = sub.add_parser("delete", help="snapshot the index minus the given "
                                       "urls (affected ranges rebuilt)")
    de.add_argument("--index", required=True)
    de.add_argument("--out", required=True)
    de.add_argument("--urls", nargs="+", required=True)

    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark("cli", cores=args.cores) if args.cores else get_spark("cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "build":
            from pyspark.sql import functions as F

            from .extract import extract_docs
            from .indexer import build_index, resume_info

            df = spark.read.parquet(args.pages)
            if "html" in df.columns and "text" not in df.columns:
                df = extract_docs(df)
            df = df.select("url", "text",
                           *(["lang"] if "lang" in df.columns else
                             [F.lit("und").alias("lang")]))
            done = resume_info(spark, args.index) if args.resume else set()
            t0 = time.monotonic()
            build_index(spark, df, args.index, num_ranges=args.ranges,
                        n_buckets=args.buckets, id_partitions=args.ranges,
                        completed_ranges=done)
            n = spark.read.parquet(f"{args.index}/docs").count()
            print(json.dumps({"built": args.index, "docs": n,
                              "resumed_ranges": sorted(done),
                              "seconds": round(time.monotonic() - t0, 2)}))
        elif args.cmd == "search":
            # --field + --filter resolves the predicate against the ROOT
            # docs table (field docs carry no metadata columns; the
            # previous behavior raised on metadata predicates and
            # silently matched field text for predicates on `text`)
            from .fields import search_field

            msm = args.msm
            if msm is not None and not msm.endswith("%"):
                msm = int(msm)
            qs = list(enumerate(args.query, 1))
            res = search_field(spark, args.index, args.field, qs, k=args.k,
                               doc_filter=args.filter,
                               minimum_should_match=msm)
            for row in res.collect():
                print(json.dumps({"query_id": row["query_id"],
                                  "rank": row["rank"],
                                  "doc_id": row["doc_id"],
                                  "score": round(row["score"], 6)}))
        elif args.cmd == "phrase":
            qs = list(enumerate(args.query, 1))
            if args.prefix:
                from .boolquery import match_phrase_prefix_search

                res = match_phrase_prefix_search(
                    spark, args.index, qs, k=args.k,
                    max_expansions=args.max_expansions)
            else:
                from .fields import search_field

                res = search_field(spark, args.index, args.field, qs,
                                   k=args.k, mode="phrase",
                                   doc_filter=args.filter, slop=args.slop)
            for row in res.collect():
                print(json.dumps({"query_id": row["query_id"],
                                  "rank": row["rank"],
                                  "doc_id": row["doc_id"],
                                  "score": round(row["score"], 6)}))
        elif args.cmd == "spanfirst":
            from .boolquery import span_first_search

            res = span_first_search(spark, args.index,
                                    list(enumerate(args.query, 1)),
                                    end=args.end, k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "spannear":
            from .boolquery import span_near_search

            res = span_near_search(spark, args.index,
                                   list(enumerate(args.query, 1)),
                                   slop=args.slop, k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "rankfeature":
            from .boolquery import rank_feature_search

            res = rank_feature_search(
                spark, args.index, list(enumerate(args.query, 1)),
                feature_expr=args.feature,
                feature_cols=tuple(args.feature_cols.split(",")),
                pivot=args.pivot, boost=args.boost, k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "spannot":
            from .boolquery import span_not_search

            res = span_not_search(spark, args.index,
                                  list(enumerate(args.query, 1)),
                                  dist=args.dist, k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "termvectors":
            from .boolquery import termvectors

            ids = [int(x) for x in args.ids.split(",")]
            for row in termvectors(spark, args.index, ids).collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "pinned":
            from .boolquery import pinned_search

            ids = [int(x) for x in args.ids.split(",")]
            res = pinned_search(spark, args.index, [(1, args.query)],
                                pinned={1: ids}, k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "synonyms":
            from .boolquery import synonym_search

            res = synonym_search(spark, args.index,
                                 list(enumerate(args.query, 1)),
                                 synonyms=json.loads(args.map), k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "distancefeature":
            from .boolquery import distance_feature_search

            res = distance_feature_search(
                spark, args.index, list(enumerate(args.query, 1)),
                origin=args.origin, ts_col=args.ts_col,
                pivot_seconds=args.pivot_seconds, boost=args.boost,
                k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "resize":
            from .maintenance import reindex

            reindex(spark, args.index, args.out,
                    num_ranges=args.num_ranges,
                    n_buckets=args.n_buckets,
                    id_partitions=(args.id_partitions
                                   or args.num_ranges))
            print(json.dumps({"resized": args.out,
                              "num_ranges": args.num_ranges}))
        elif args.cmd == "scroll":
            from .boolquery import scroll_export

            res = scroll_export(spark, args.index,
                                list(enumerate(args.query, 1)),
                                n_slices=args.slices,
                                page_size=args.page_size)
            for row in res.limit(args.limit).collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "reindex":
            from .maintenance import reindex

            transform = dict(kv.split("=", 1) for kv in args.set) or None
            reindex(spark, args.index, args.out, where=args.where,
                    transform=transform, num_ranges=args.num_ranges,
                    n_buckets=args.buckets)
            print(json.dumps({"reindexed": args.out}))
        elif args.cmd == "alias":
            from .maintenance import (
                read_aliases,
                resolve_alias,
                update_aliases,
            )

            if args.action == "list":
                print(json.dumps(read_aliases(args.registry)))
            elif args.action == "resolve":
                print(json.dumps(
                    {args.alias: resolve_alias(args.registry,
                                               args.alias)}))
            elif args.action == "swap":
                out = update_aliases(args.registry, [
                    {"remove": {"alias": args.alias, "index": args.old}},
                    {"add": {"alias": args.alias, "index": args.target}},
                ])
                print(json.dumps(out))
            else:
                body = {"alias": args.alias}
                if args.target:
                    body["index"] = args.target
                print(json.dumps(update_aliases(
                    args.registry, [{args.action: body}])))
        elif args.cmd == "filterq":
            from . import boolquery as bq

            if args.type == "exists":
                if not args.expr:
                    raise SystemExit("--expr required for exists")
                res = bq.exists_search(spark, args.index, args.expr,
                                       k=args.k)
            elif args.type == "ids":
                if not args.ids:
                    raise SystemExit("--ids required for ids")
                res = bq.ids_search(spark, args.index,
                                    [int(i) for i in args.ids.split(",")],
                                    k=args.k)
            else:
                if not args.values:
                    raise SystemExit("--values required for terms")
                res = bq.terms_search(spark, args.index, args.col,
                                      args.values.split(","), k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "percolate":
            from . import boolquery as bq

            stored = list(enumerate(args.queries, start=1))
            res = bq.percolate(spark, args.index, stored,
                               doc_filter=args.filter)
            for row in (res.orderBy("query_id", "doc_id")
                        .limit(args.limit).collect()):
                print(json.dumps(row.asDict()))
        elif args.cmd in ("fuzzy", "wildcard", "regexp", "boosting", "mlt"):
            from . import boolquery

            if args.cmd == "fuzzy":
                res = boolquery.fuzzy_search(
                    spark, args.index, list(enumerate(args.query, 1)),
                    k=args.k, max_edits=args.max_edits,
                    max_expansions=args.max_expansions)
            elif args.cmd == "wildcard":
                res = boolquery.wildcard_search(
                    spark, args.index, list(enumerate(args.query, 1)),
                    k=args.k, max_expansions=args.max_expansions)
            elif args.cmd == "regexp":
                res = boolquery.regexp_search(
                    spark, args.index, list(enumerate(args.query, 1)),
                    k=args.k, max_expansions=args.max_expansions)
            elif args.cmd == "boosting":
                if len(args.positive) != len(args.negative):
                    raise SystemExit(
                        "--positive and --negative counts must match")
                qs = [(i, {"positive": p, "negative": n})
                      for i, (p, n) in enumerate(
                          zip(args.positive, args.negative), 1)]
                res = boolquery.boosting_search(
                    spark, args.index, qs, k=args.k,
                    negative_boost=args.negative_boost)
            else:
                res = boolquery.more_like_this(
                    spark, args.index, list(enumerate(args.seed, 1)),
                    k=args.k, max_query_terms=args.max_query_terms)
            for row in res.collect():
                print(json.dumps({"query_id": row["query_id"],
                                  "rank": row["rank"],
                                  "doc_id": row["doc_id"],
                                  "score": round(row["score"], 6)}))
        elif args.cmd == "multimatch":
            from .multimatch import multi_match

            fields = {}
            for part in args.fields.split(","):
                name, _, boost = part.partition(":")
                fields[name.strip()] = float(boost) if boost else 1.0
            res = multi_match(spark, args.index,
                              list(enumerate(args.query, 1)), fields,
                              k=args.k, mode=args.mode)
            for row in res.collect():
                print(json.dumps({"query_id": row["query_id"],
                                  "rank": row["rank"],
                                  "doc_id": row["doc_id"],
                                  "score": round(row["score"], 6)}))
        elif args.cmd == "histogram":
            from .boolquery import search_histogram

            res = search_histogram(spark, args.index,
                                   list(enumerate(args.query, 1)),
                                   value_expr=args.expr,
                                   interval=args.interval)
            for row in res.limit(1000).collect():
                print(json.dumps({"query_id": row["query_id"],
                                  "bucket": row["bucket"],
                                  "doc_count": row["doc_count"]}))
        elif args.cmd == "facets":
            from .boolquery import search_facets

            res = search_facets(spark, args.index,
                                list(enumerate(args.query, 1)),
                                facet_col=args.col, n=args.n)
            for row in res.collect():
                print(json.dumps({"query_id": row["query_id"],
                                  "facet_value": row["facet_value"],
                                  "doc_count": row["doc_count"],
                                  "rank": row["rank"]}))
        elif args.cmd == "sigterms":
            from .boolquery import significant_terms

            res = significant_terms(spark, args.index,
                                    list(enumerate(args.query, 1)),
                                    n=args.n,
                                    min_doc_count=args.min_doc_count)
            for row in res.collect():
                print(json.dumps({"query_id": row["query_id"],
                                  "term": row["term"], "fg": row["fg"],
                                  "df": row["df"],
                                  "score": row["score"],
                                  "rank": row["rank"]}))
        elif args.cmd == "explain":
            from .query import explain_scores

            res = explain_scores(spark, args.index,
                                 list(enumerate(args.query, 1)), k=args.k)
            for row in res.collect():
                print(json.dumps({"query_id": row["query_id"],
                                  "doc_id": row["doc_id"],
                                  "term": row["term"], "tf": row["tf"],
                                  "contribution":
                                      round(row["contribution"], 6)}))
        elif args.cmd == "qs":
            from .boolquery import query_string_search

            res = query_string_search(spark, args.index,
                                      list(enumerate(args.query, 1)),
                                      k=args.k,
                                      max_expansions=args.max_expansions)
            for row in res.collect():
                print(json.dumps({"query_id": row["query_id"],
                                  "rank": row["rank"],
                                  "doc_id": row["doc_id"],
                                  "score": round(row["score"], 6)}))
        elif args.cmd == "aggs":
            from . import boolquery

            qs = list(enumerate(args.query, 1))
            if args.type == "stats":
                res = boolquery.search_stats(spark, args.index, qs,
                                             value_expr=args.value_expr)
            elif args.type == "percentiles":
                res = boolquery.search_percentiles(
                    spark, args.index, qs, value_expr=args.value_expr)
            elif args.type == "cardinality":
                res = boolquery.search_cardinality(
                    spark, args.index, qs, col=args.col,
                    approx=args.approx)
            elif args.type == "date_histogram":
                res = boolquery.search_date_histogram(
                    spark, args.index, qs, ts_col=args.col,
                    calendar_interval=args.interval)
            elif args.type == "range":
                bounds = [(float(lo) if lo else None,
                           float(hi) if hi else None)
                          for lo, hi in (part.split(":")
                                         for part in args.ranges.split(","))]
                res = boolquery.search_range_agg(
                    spark, args.index, qs, value_expr=args.value_expr,
                    ranges=bounds, value_cols=args.doc_cols.split(","))
            elif args.type in ("filters", "adjacency_matrix"):
                fdefs = dict(d.split("=", 1) for d in args.filter_def)
                if not fdefs:
                    raise SystemExit("--filter-def name=PREDICATE required")
                fn = (boolquery.search_filters_agg
                      if args.type == "filters"
                      else boolquery.search_adjacency_matrix)
                res = fn(spark, args.index, qs, filters=fdefs,
                         doc_cols=args.doc_cols.split(","))
            elif args.type == "composite":
                c0, c1 = args.sources.split(",")
                after = tuple(args.after.split(",")) if args.after else None
                res = boolquery.search_composite_agg(
                    spark, args.index, qs, sources=[(c0, c0), (c1, c1)],
                    size=args.size, after=after)
            elif args.type == "matrix_stats":
                res = boolquery.matrix_stats_agg(
                    spark, args.index, qs, expr_a=args.value_expr,
                    expr_b=args.value_expr_b,
                    doc_cols=args.doc_cols.split(","))
            elif args.type == "extended_stats":
                res = boolquery.search_extended_stats(
                    spark, args.index, qs, value_expr=args.value_expr)
            elif args.type == "weighted_avg":
                res = boolquery.search_weighted_avg(
                    spark, args.index, qs, value_expr=args.value_expr,
                    weight_expr=args.value_expr_b)
            elif args.type == "missing":
                res = boolquery.search_missing(spark, args.index, qs,
                                               col_expr=args.col)
            elif args.type == "global":
                res = boolquery.search_global_agg(
                    spark, args.index, qs, value_expr=args.value_expr)
            elif args.type == "pipeline":
                res = boolquery.search_pipeline_aggs(
                    spark, args.index, qs, ts_col=args.col,
                    calendar_interval=args.interval,
                    window=args.per_bucket)
            elif args.type == "rare_terms":
                res = boolquery.search_rare_terms(
                    spark, args.index, qs, facet_col=args.col,
                    max_doc_count=args.max_doc_count)
            elif args.type == "multi_terms":
                c0, c1 = args.sources.split(",")
                res = boolquery.search_multi_terms(
                    spark, args.index, qs, cols=(c0, c1),
                    n=args.size)
            elif args.type == "auto_date_histogram":
                res = boolquery.search_auto_date_histogram(
                    spark, args.index, qs, ts_col=args.col,
                    target_buckets=args.target_buckets)
            elif args.type in ("sampler", "diversified_sampler"):
                res = boolquery.search_sampler(
                    spark, args.index, qs, facet_col=args.col,
                    shard_size=args.shard_size,
                    max_docs_per_value=(args.max_per_value
                                        if args.type ==
                                        "diversified_sampler" else None),
                    dedup_col=args.dedup_col)
            else:
                res = boolquery.search_top_hits(
                    spark, args.index, qs, facet_col=args.col,
                    per_bucket=args.per_bucket)
            for row in res.collect():
                print(json.dumps({k: (str(v) if not isinstance(
                    v, (int, float, str, type(None))) else v)
                    for k, v in row.asDict().items()}))
        elif args.cmd == "sort":
            from .boolquery import search_sorted

            res = search_sorted(spark, args.index,
                                list(enumerate(args.query, 1)),
                                sort_expr=args.sort_expr,
                                ascending=args.asc, k=args.k,
                                doc_cols=args.doc_cols.split(","))
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "constscore":
            from .boolquery import constant_score_search

            res = constant_score_search(spark, args.index,
                                        filter_expr=args.filter,
                                        boost=args.boost, k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "funcscore":
            from . import boolquery as bq

            qs = list(enumerate(args.query, 1))
            if args.mode == "decay":
                res = bq.decay_score_search(
                    spark, args.index, qs, field=args.decay_field,
                    origin=args.origin, scale_s=args.scale_s,
                    decay=args.decay, k=args.k)
            elif args.mode == "script":
                res = bq.script_score_search(
                    spark, args.index, qs, script_expr=args.factor_expr,
                    script_cols=args.factor_cols.split(","), k=args.k)
            elif args.mode == "random":
                res = bq.random_score_search(spark, args.index, qs,
                                             seed=args.seed, k=args.k)
            else:
                res = bq.function_score_search(
                    spark, args.index, qs, factor_expr=args.factor_expr,
                    factor_cols=args.factor_cols.split(","), k=args.k)
            for row in res.collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "suggest":
            if args.type == "phrase":
                from .boolquery import phrase_suggest

                res = phrase_suggest(spark, args.index, args.query,
                                     size=args.size,
                                     max_edits=args.max_edits,
                                     max_candidates=args.max_candidates)
                for row in res.collect():
                    print(json.dumps(row.asDict()))
            else:
                from .boolquery import term_suggest

                res = term_suggest(spark, args.index, args.query,
                                   size=args.size,
                                   max_edits=args.max_edits,
                                   mode=args.mode)
                for row in res.collect():
                    print(json.dumps({"src": row["src"],
                                      "suggestion": row["suggestion"],
                                      "dist": row["dist"],
                                      "score": row["score"],
                                      "df": row["df"],
                                      "rank": row["rank"]}))
        elif args.cmd == "build-bigrams":
            from .boolquery import build_bigram_table

            print(json.dumps(
                {"bigrams": build_bigram_table(spark, args.index)}))
        elif args.cmd == "build-field":
            from .fields import build_field_index

            t0 = time.monotonic()
            froot = build_field_index(spark, args.index, args.field)
            print(json.dumps({"built": froot, "field": args.field,
                              "seconds": round(time.monotonic() - t0, 2)}))
        elif args.cmd == "hybrid":
            from .hybrid import search_hybrid

            vec = [float(x) for x in json.loads(args.vec)]
            res = search_hybrid(spark, args.index,
                                [(1, args.query, vec)], k=args.k,
                                depth=args.depth)
            for row in res.collect():
                print(json.dumps({"rank": row["rank"],
                                  "doc_id": row["doc_id"],
                                  "rrf": round(row["rrf"], 6)}))
        elif args.cmd == "dedup":
            from .ops.dedup import (
                exact_dedup,
                minhash_near_duplicates,
                simhash_near_pairs,
            )

            docs = spark.read.parquet(args.docs)
            if args.method == "exact":
                res = exact_dedup(docs)
            elif args.method == "minhash":
                res = minhash_near_duplicates(docs,
                                              threshold=args.threshold)
            else:
                res = simhash_near_pairs(docs)
            if args.out:
                res.write.mode("overwrite").parquet(args.out)
                print(json.dumps({"method": args.method,
                                  "pairs": spark.read.parquet(
                                      args.out).count(),
                                  "out": args.out}))
            else:
                for row in res.limit(100).collect():
                    print(json.dumps(row.asDict()))
        elif args.cmd == "ann":
            from .ops.similarity import cosine_topk, ivf_topk, lsh_topk

            emb = spark.read.parquet(args.embeddings)
            qids = [int(x) for x in args.query_ids.split(",")]
            fn = {"exact": cosine_topk, "lsh": lsh_topk,
                  "ivf": ivf_topk}[args.mode]
            kw = {} if args.mode == "exact" else {"dim": args.dim}
            for row in fn(emb, qids, k=args.k, **kw).collect():
                print(json.dumps(row.asDict()))
        elif args.cmd == "append":
            from .streaming import append_batch

            docs = spark.read.parquet(args.docs).select("url", "text",
                                                        "lang")
            n = append_batch(spark, docs, args.index,
                             batch_id=args.batch_id)
            print(json.dumps({"appended": n, "index": args.index}))
        elif args.cmd == "delete":
            from .maintenance import delete_from_index

            delete_from_index(spark, args.index, args.out, args.urls)
            n = spark.read.parquet(f"{args.out}/docs").count()
            print(json.dumps({"snapshot": args.out, "docs": n}))
        elif args.cmd == "merge":
            from pyspark.sql import functions as FF

            from .maintenance import force_merge

            force_merge(spark, args.index, args.out,
                        docs_per_range=args.docs_per_range)
            d = spark.read.parquet(f"{args.out}/docs")
            g = d.agg(FF.count("*").alias("n"),
                      FF.countDistinct("range_id").alias("r")).collect()[0]
            print(json.dumps({"merged": args.out, "docs": int(g["n"]),
                              "ranges": int(g["r"])}))
        return 0
    finally:
        if not keep_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
