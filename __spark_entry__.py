"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full engine (extract→index→BM25 search) on the
sf0.001 documents corpus. ``queries()``/``oracle_sql()`` — one entry per
implemented operator family from SURVEY.md §2 plus the training-data
pipeline ops, each checked against DuckDB at sf0.01.

Float discipline: every score column is rounded (4-6 dp) and ranking is
performed on the ROUNDED value with doc-id tie-breaks on BOTH sides, so the
order-insensitive value-hash cannot be broken by summation-order noise.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- fixtures

BM25_QUERIES: dict[int, str] = {
    1: "spark join filter",
    2: "vector stream window batch",
    3: "customer the slow",
}
BM25_K = 10
ANN_QUERY_IDS = [0, 1, 2, 3, 4]
ANN_K = 10


def _ensure_pkg(spark: SparkSession) -> None:
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)
    from pdf_to_opensearch_spark.deploy import ensure_py_files

    ensure_py_files(spark)


def _tokens(text_col):
    """JVM-side analyzer equivalent for ASCII corpora (whole-stage codegen)."""
    return F.filter(F.split(F.lower(text_col), "[^0-9a-z]+"),
                    lambda t: t != "")


def _ntokens(text_col):
    """size(_tokens(c)) as one codegen regexp_count — token-COUNT
    consumers skip the array materialization and the per-element
    interpreted lambda of the higher-order filter (bit-identical: both
    count maximal [0-9a-z]+ runs of the lowercased text)."""
    return F.regexp_count(F.lower(text_col), F.lit("[0-9a-z]+"))


_TOKS_SQL = ("list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'), "
             "t -> t <> '')")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Build the inverted index over sf0.001 documents and run the BM25
    reference queries through the native engine."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.indexer import build_index
    from pdf_to_opensearch_spark.query import search

    sf_dir = "/root/testdata/sf0.001"
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.lpad(F.col("doc_id").cast("string"), 10, "0")
                 ).alias("url"),
        "text", "lang")
    out = os.path.join(tempfile.gettempdir(), "entry_index_sf0001")
    build_index(spark, docs, out, num_ranges=4, n_buckets=8, id_partitions=4)
    return search(spark, out, list(BM25_QUERIES.items()), k=BM25_K, prune=True)


# ------------------------------------------------------------- bm25 family


def _brute_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force BM25 as pure DataFrame ops (O5 expressed relationally)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # dl over ALL docs (zero-token docs included) — matches len(list) oracle
    dl = docs.select("doc_id", _ntokens(F.col("text")).alias("dl"))
    srow = dl.agg(F.count("*").alias("N"), F.avg("dl").alias("avgdl")).collect()[0]
    N, avgdl = float(srow["N"]), float(srow["avgdl"])
    qdf = spark.createDataFrame(
        sorted({(qid, t) for qid, q in BM25_QUERIES.items()
                for t in q.split()}),
        "query_id int, term string")
    dfreq = (tf.join(F.broadcast(qdf.select("term").distinct()), "term")
             .groupBy("term").agg(F.count("*").alias("df")))
    contrib = (tf.join(F.broadcast(qdf), "term")
               .join(F.broadcast(dfreq), "term")
               .join(dl, "doc_id")
               .withColumn("idf", F.log(
                   1.0 + (F.lit(N) - F.col("df") + 0.5) / (F.col("df") + 0.5)))
               .withColumn("c", F.col("idf") * F.col("tf") * 2.2 /
                           (F.col("tf") + 1.2 * (1.0 - 0.75 +
                                                 0.75 * F.col("dl") / F.lit(avgdl)))))
    scores = (contrib.groupBy("query_id", "doc_id")
              .agg(F.round(F.sum("c"), 4).alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (scores.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= BM25_K)
            .select("query_id", F.col("rank").cast("int").alias("rank"),
                    "doc_id", "score"))


def _bm25_oracle_sql(docs_where: str = "", cand_where: str = "",
                     docs_src: str | None = None, page: int = 1,
                     msm: dict[int, int] | None = None) -> str:
    """Brute-force BM25 oracle; ``docs_where`` restricts the corpus (the
    J8 delete-requery twin scores only surviving docs — N/avgdl/df all
    recompute over the filtered corpus, matching delete_from_index).
    ``cand_where`` restricts only the CANDIDATE docs while N/avgdl/df stay
    corpus-global — the bool/filter context of the reference search
    (opensearch_loader.py:873-884): a filter narrows the result set, it
    does not change the scoring statistics. ``docs_src`` replaces the
    corpus SELECT entirely (the per-field entry scores a DERIVED text
    column with that field's own N/avgdl/df — Lucene per-field norms).
    ``msm`` maps query_id → resolved minimum_should_match floor: a doc
    only scores if it matches ≥ m distinct query terms (resolved by the
    same :func:`~pdf_to_opensearch_spark.query.resolve_msm` the engine
    uses, so the two sides can never disagree on rounding)."""
    cand_clause = (
        f"WHERE tf.doc_id IN (SELECT doc_id FROM docs0 WHERE {cand_where})"
        if cand_where else "")
    msm_cte = msm_join = msm_having = ""
    if msm:
        mvals = ", ".join(f"({qid}, {m})" for qid, m in sorted(msm.items()))
        msm_cte = f"msmv(query_id, m) AS (VALUES {mvals}),"
        msm_join = "JOIN msmv ON msmv.query_id = q.query_id"
        msm_having = "HAVING count(DISTINCT tf.term) >= max(msmv.m)"
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, t in sorted({(qid, t) for qid, q in BM25_QUERIES.items()
                              for t in q.split()}))
    docs_body = docs_src or f"SELECT * FROM documents {docs_where}"
    return f"""
WITH docs0 AS (
  {docs_body}
),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(query_id, term) AS (VALUES {qvals}),
{msm_cte}
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  {msm_join}
  {cand_clause}
  GROUP BY 1, 2
  {msm_having}
)
SELECT query_id, (rank - {(page - 1) * BM25_K})::INTEGER AS rank,
       doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank > {(page - 1) * BM25_K} AND rank <= {page * BM25_K}
"""


_BUILT_INDEXES: set[str] = set()


def _ensure_engine_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the engine index over the sf documents corpus once per
    process (never trust a stale /tmp dir from an older engine layout).

    The indexed unit carries the embedding column (LEFT join — docs
    without a vector still serve BM25, mirroring the reference mapping's
    optional knn_vector field, opensearch_loader.py:226-230), so the SAME
    index serves the lexical entries AND hybrid_topk: no second build.
    It also carries ``text_prev`` (the previous doc's text in doc_id
    order — the chunk_text_previous analogue of the reference's
    three-field unit, opensearch_loader.py:210-237) for the per-field
    BM25 entry; the global lag window is fixture-only (at scale prev/next
    come from the per-url chunk sequence, chunking.py)."""
    from pdf_to_opensearch_spark.indexer import build_index

    out = os.path.join(tempfile.gettempdir(),
                       "entry_index_" + sf_dir.strip("/").replace("/", "_"))
    if out not in _BUILT_INDEXES:
        docs = _docs(spark, sf_dir)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        w_prev = Window.orderBy(docs.doc_id)
        # warc_ts: deterministic synthetic crawl timestamp (the
        # input_hint's (url, warc_ts, ...) shape) — derivable identically
        # in the DuckDB oracle, so date_histogram is hash-gateable
        warc_ts = F.expr(
            "timestamp'2025-01-01 00:00:00'"
            " + make_interval(0, 0, 0, CAST(doc_id % 90 AS INT),"
            "                 CAST(doc_id % 24 AS INT), 0, 0)")
        unit = (docs.join(emb, docs.doc_id == emb.vec_id, "left")
                .select(F.concat(F.lit("doc://"),
                                 F.lpad(docs.doc_id.cast("string"), 10, "0")
                                 ).alias("url"),
                        "text", "lang", "source",
                        warc_ts.alias("warc_ts"), "embedding",
                        F.coalesce(F.lag(docs.text).over(w_prev), F.lit(""))
                        .alias("text_prev")))
        # ranges = session cores (floor 8): doc_ids/scores are
        # layout-independent (global url rank), so results are identical
        # at any range count — but the tokenize/SPIMI stages parallelize
        # per range, and the previous fixed 8 left 3/4 of a 32-core box
        # idle during this build (the dominant cost of the first hybrid/
        # engine entry in a session)
        par = max(8, min(32, spark.sparkContext.defaultParallelism))
        build_index(spark, unit, out, num_ranges=par, n_buckets=8,
                    id_partitions=par)
        _BUILT_INDEXES.add(out)
    return out


def _engine_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real engine (SPIMI index + block-max BM25) on the documents
    corpus; re-ranked on rounded scores for oracle comparison."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.query import search

    out = _ensure_engine_index(spark, sf_dir)
    res = search(spark, out, list(BM25_QUERIES.items()), k=BM25_K, prune=True)
    # engine doc_id == documents.doc_id because url embeds the zero-padded id
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc())
    return (res.withColumn("score_r", F.round("score", 4))
            .withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.col("score_r").alias("score")))


# ---------------------------------------------------------- phrase queries

PHRASE_QUERIES: dict[int, str] = {
    1: "table hash",
    2: "merge group",
    3: "customer join",
}


def _phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase top-k through the positional index
    (opensearch_loader.py:386-408 / Lucene PhraseQuery semantics:
    tf = exact-phrase frequency, idf = Σ per-term idfs)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.query import phrase_search

    out = _ensure_engine_index(spark, sf_dir)
    res = phrase_search(spark, out, list(PHRASE_QUERIES.items()), k=BM25_K)
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc())
    return (res.withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.round("score", 4).alias("score")))


def _bm25_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 2 of the ranked BM25 list (the search_after surface in the
    deterministic rounded total order): ranks 11-20 renumbered 1-10.
    The kernel-level cursor path (query.search(after=...): range-local
    strictly-after filter, prune off) is pinned by pytest in the raw
    domain; this entry pins the page CONTENT against the oracle's full
    ranking."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.query import search

    out = _ensure_engine_index(spark, sf_dir)
    res = search(spark, out, list(BM25_QUERIES.items()),
                 k=2 * BM25_K + _RERANK_MARGIN, prune=True)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc())
    return (res.withColumn("score_r", F.round("score", 4))
            .withColumn("rk", F.row_number().over(w))
            .filter((F.col("rk") > BM25_K) & (F.col("rk") <= 2 * BM25_K))
            .select("query_id",
                    (F.col("rk") - BM25_K).cast("int").alias("rank"),
                    "doc_id", F.col("score_r").alias("score")))


EXPLAIN_K = 5


def _explain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explain=true parity: per-term BM25 contribution rows for the
    rounded top-EXPLAIN_K hits of each query (hits pinned to the same
    rounded total order as bm25_engine_topk so the oracle and engine
    explain identical pairs) — query.explain_scores."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.query import explain_scores, search

    out = _ensure_engine_index(spark, sf_dir)
    raw = search(spark, out, list(BM25_QUERIES.items()),
                 k=EXPLAIN_K + _RERANK_MARGIN, prune=True)
    hits = _rerank_rounded(raw, EXPLAIN_K).select("query_id", "doc_id")
    res = explain_scores(spark, out, list(BM25_QUERIES.items()),
                         hits=hits)
    return (res.withColumn("contribution", F.round("contribution", 4))
            .select("query_id", "doc_id", "term",
                    F.col("tf").cast("long").alias("tf"), "contribution"))


def _explain_oracle_sql() -> str:
    """explain oracle: the bm25 ranking CTE picks the rounded top-K
    (query, doc) pairs; each pair explodes into its per-term rows with
    contribution = idf * tfnorm rounded to 4 dp."""
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, t in sorted({(qid, t) for qid, q in BM25_QUERIES.items()
                              for t in q.split()}))
    return f"""
WITH docs0 AS (SELECT * FROM documents),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(query_id, term) AS (VALUES {qvals}),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
contrib AS (
  SELECT q.query_id, tf.doc_id, tf.term, tf.tf,
         ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * tf.tf * 2.2
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS c
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scores AS (
  SELECT query_id, doc_id, round(sum(c), 4) AS score
  FROM contrib GROUP BY 1, 2
),
hits AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank
    FROM scores
  ) WHERE rank <= {EXPLAIN_K}
)
SELECT c.query_id, c.doc_id, c.term, c.tf::BIGINT AS tf,
       round(c.c, 4) AS contribution
FROM contrib c JOIN hits USING (query_id, doc_id)
"""


SIG_MIN_DOC_COUNT = 5


def _significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """significant_terms aggregation (JLH score) next to a match query:
    terms overrepresented in the ANY-term hit set vs the corpus df —
    boolquery.significant_terms."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import significant_terms

    out = _ensure_engine_index(spark, sf_dir)
    return significant_terms(spark, out, list(BM25_QUERIES.items()),
                             n=10, min_doc_count=SIG_MIN_DOC_COUNT)


def _significant_terms_oracle_sql() -> str:
    """significant_terms oracle: hit set as in the facet oracle; fg =
    docs in the hit set containing the term (distinct per doc), bg = the
    corpus df; JLH = (fg_rate - bg_rate) * (fg_rate / bg_rate), gated on
    fg >= min_doc_count AND fg_rate > bg_rate, top-10 by (rounded score
    desc, term asc)."""
    return f"""
WITH docs0 AS (SELECT * FROM documents),
q(query_id, term) AS (VALUES {_qvals(BM25_QUERIES)}),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
matches AS (
  SELECT DISTINCT q.query_id, toks.doc_id
  FROM toks JOIN q USING (term)
),
sizes AS (SELECT query_id, count(*)::DOUBLE AS fg_total
          FROM matches GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n FROM docs0),
doc_terms AS (SELECT DISTINCT doc_id, term FROM toks),
fg AS (
  SELECT m.query_id, dt.term, count(*)::BIGINT AS fg
  FROM matches m JOIN doc_terms dt USING (doc_id)
  GROUP BY 1, 2
),
bg AS (SELECT term, count(*)::BIGINT AS df FROM doc_terms GROUP BY 1),
sig AS (
  SELECT fg.query_id, fg.term, fg.fg, bg.df,
         round( (fg.fg / z.fg_total - bg.df / s.n)
                * ((fg.fg / z.fg_total) / (bg.df / s.n)), 6) AS score
  FROM fg JOIN bg USING (term)
  JOIN sizes z USING (query_id) CROSS JOIN stats s
  WHERE fg.fg >= {SIG_MIN_DOC_COUNT}
    AND fg.fg / z.fg_total > bg.df / s.n
)
SELECT query_id, term, fg, df, score, rank FROM (
  SELECT query_id, term, fg, df, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, term)::INTEGER AS rank
  FROM sig
) WHERE rank <= 10
"""


PHRASE_SLOP = 2


def _phrase_slop_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase with slop (ordered-window contract, documented on
    query._phrase_kernel): terms in order within a p0+(n-1)+slop window,
    tf = matching anchors — same BM25 phrase scoring as phrase_topk but
    with the slop-widened match set; engine over-fetches for the rounded
    re-rank like every expansion entry."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.query import phrase_search

    out = _ensure_engine_index(spark, sf_dir)
    return _rerank_rounded(phrase_search(
        spark, out, list(PHRASE_QUERIES.items()),
        k=BM25_K + _RERANK_MARGIN, slop=PHRASE_SLOP), BM25_K)


def _slop_pf_expr(ts: list[str], slop: int) -> str:
    """DuckDB anchor-count expression for the ordered-window slop
    contract: count positions i with t[i]=t0 and an in-order assignment
    of the remaining terms at positions ≤ i + (n-1) + slop (nested
    list_filter EXISTS chain; out-of-bounds t[j] is NULL → false)."""
    n = len(ts)
    expr = None
    for m in range(n - 1, 0, -1):
        var = f"p{m}"
        prev = "i" if m == 1 else f"p{m - 1}"
        cond = f"t[{var}] = '{ts[m]}'"
        if expr is not None:
            cond += f" AND {expr}"
        expr = (f"len(list_filter(range({prev} + 1, i + {n - 1 + slop} + 1),"
                f" {var} -> {cond})) > 0")
    return (f"len(list_filter(range(1, len(t) + 1), "
            f"i -> t[i] = '{ts[0]}' AND {expr}))")


def _phrase_oracle_sql(cand_where: str = "",
                       docs_src: str | None = None,
                       slop: int = 0) -> str:
    """match_phrase oracle; ``cand_where`` restricts candidate docs only —
    phrase idf / avgdl stay corpus-global (filter-context semantics, same
    contract as the ``cand_where`` of :func:`_bm25_oracle_sql`).
    ``docs_src`` replaces the corpus SELECT (the per-field phrase entry
    matches against a DERIVED text column with that field's own stats —
    Lucene per-field norms, same contract as _bm25_oracle_sql)."""
    cand_clause = (
        f"AND pf.doc_id IN (SELECT doc_id FROM documents WHERE {cand_where})"
        if cand_where else "")
    corpus = f"({docs_src})" if docs_src else "documents"
    parts = []
    for qid, phrase in sorted(PHRASE_QUERIES.items()):
        ts = phrase.split()
        if slop == 0:
            cond = " AND ".join(f"t[i+{j}] = '{t}'" for j, t in enumerate(ts))
            pf_expr = (f"len(list_filter(range(1, len(t) - {len(ts) - 2}),"
                       f" i -> {cond}))")
        else:
            pf_expr = _slop_pf_expr(ts, slop)
        terms_arr = ", ".join(f"'{t}'" for t in ts)
        parts.append(f"""
  SELECT {qid} AS query_id, doc_id, len(t)::DOUBLE AS dl,
         {pf_expr}::DOUBLE AS pf,
         [{terms_arr}] AS qterms
  FROM toks""")
    body = "\n  UNION ALL\n".join(parts)
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM {corpus}
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toks
),
term_df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1
),
pf AS ({body}),
idfs AS (
  SELECT p.query_id,
         sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))) AS sum_idf
  FROM (SELECT DISTINCT query_id, unnest(qterms) AS term FROM pf) p
  JOIN term_df d USING (term) CROSS JOIN stats s
  GROUP BY 1
),
scores AS (
  SELECT pf.query_id, pf.doc_id,
         round(i.sum_idf * pf.pf * 2.2
               / (pf.pf + 1.2 * (1.0 - 0.75 + 0.75 * pf.dl / s.avgdl)),
               4) AS score
  FROM pf JOIN idfs i USING (query_id) CROSS JOIN stats s
  WHERE pf.pf >= 1 {cand_clause}
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


# ------------------------------------------------- filter-context queries

# the bool/filter context the reference attaches to EVERY query type
# (opensearch_loader.py:386-408 term filters; 873-884 wiring): candidates
# restricted by a metadata predicate, BM25/phrase stats stay corpus-global
FILTER_PRED = "lang IN ('en', 'de')"


def _bm25_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine BM25 with the metadata filter context (cogrouped
    allowed-ids kernel — no global id broadcast)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.query import search

    out = _ensure_engine_index(spark, sf_dir)
    res = search(spark, out, list(BM25_QUERIES.items()), k=BM25_K,
                 prune=True, doc_filter=FILTER_PRED)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc())
    return (res.withColumn("score_r", F.round("score", 4))
            .withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.col("score_r").alias("score")))


MSM_SPEC = "75%"  # floors to 2-of-3 / 3-of-4 over BM25_QUERIES


def _resolved_msm() -> dict[int, int]:
    """The engine's own resolution of MSM_SPEC per query — shared with
    the oracle VALUES table so rounding can never diverge."""
    from pdf_to_opensearch_spark.query import resolve_msm
    return {qid: resolve_msm(MSM_SPEC, len(set(q.split())))
            for qid, q in BM25_QUERIES.items()}


def _msm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match query under ``minimum_should_match`` (the OpenSearch match
    option, resolved per query by the Lucene positive-percentage floor):
    a doc competes only if it matches ≥ m distinct query terms. The
    tally falls out of the kernel's TAAT segment lengths — no extra
    pass, no extra shuffle (query.py _score_kernel msm_spec)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.query import search

    out = _ensure_engine_index(spark, sf_dir)
    res = search(spark, out, list(BM25_QUERIES.items()),
                 k=BM25_K + _RERANK_MARGIN, minimum_should_match=MSM_SPEC)
    return _rerank_rounded(res, BM25_K)


def _phrase_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase + the same filter context (query.py phrase cogroup
    path): 'this exact phrase, within lang∈{en,de}' — the routine
    delete-preview / scoped-retrieval pattern."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.query import phrase_search

    out = _ensure_engine_index(spark, sf_dir)
    res = phrase_search(spark, out, list(PHRASE_QUERIES.items()), k=BM25_K,
                        doc_filter=FILTER_PRED)
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc())
    return (res.withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.round("score", 4).alias("score")))


_FIELD_INDEXES: set[str] = set()


def _bm25_field_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``match`` on the NON-current analyzed field ``text_prev`` — the
    reference's indexed unit declares three independently scorable text
    fields (chunk_text_current/previous/next, opensearch_loader.py:
    210-237); Lucene keeps per-field postings + norms. The engine builds
    the field's own posting space (fields.build_field_index: same doc_ids
    and ranges, zero-shuffle) with per-field df/avgdl, and the oracle
    recomputes BM25 from scratch over the derived lag(text) column."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.fields import build_field_index, search_field

    out = _ensure_engine_index(spark, sf_dir)
    if out not in _FIELD_INDEXES:
        build_field_index(spark, out, "text_prev")
        _FIELD_INDEXES.add(out)
    res = search_field(spark, out, "text_prev",
                       list(BM25_QUERIES.items()), k=BM25_K, prune=True)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc())
    return (res.withColumn("score_r", F.round("score", 4))
            .withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.col("score_r").alias("score")))


def _phrase_field_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``match_phrase`` on the NON-current analyzed field ``text_prev`` —
    the reference's schema types every chunk_text_* field as analyzed
    text, so match_phrase applies to any of them
    (opensearch_loader.py:210-237, 386-408). Engine: the positional
    phrase kernel pointed at the field's posting space
    (fields.search_field mode='phrase'); oracle: the phrase SQL
    recomputed from scratch over the derived lag(text) column with the
    field's own N/avgdl/df."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.fields import build_field_index, search_field

    out = _ensure_engine_index(spark, sf_dir)
    if out not in _FIELD_INDEXES:
        build_field_index(spark, out, "text_prev")
        _FIELD_INDEXES.add(out)
    res = search_field(spark, out, "text_prev",
                       list(PHRASE_QUERIES.items()), k=BM25_K,
                       mode="phrase")
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc())
    return (res.withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.round("score", 4).alias("score")))


_FIELD_DOCS_SRC = """SELECT doc_id,
         coalesce(lag(text) OVER (ORDER BY doc_id), '') AS text
  FROM documents"""


# ---------------------------------------- bool / prefix / facet / highlight

# BooleanQuery clauses (opensearch_loader.py:430-441 builds bool bodies).
# Scoring terms (must + should) are UNIQUE within each query so the
# set-based oracle VALUES carries weight 1 per term, like BM25_QUERIES.
BOOL_QUERIES: dict[int, dict] = {
    1: {"must": "customer", "should": "join filter"},
    2: {"must": "vector stream", "should": "window", "must_not": "batch"},
    3: {"should": "spark join", "must_not": "customer"},
}

PREFIX_QUERIES: dict[int, str] = {1: "cust", 2: "str", 3: "win"}
PREFIX_MAX_EXP = 50


def _bool_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene BooleanQuery must/should/must_not through the engine kernel
    (boolquery.boolean_search): must terms score AND constrain, should
    terms score, must_not terms exclude — clause filtering is range-local
    because every doc lives in exactly one range."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import boolean_search

    out = _ensure_engine_index(spark, sf_dir)
    res = boolean_search(spark, out, list(BOOL_QUERIES.items()), k=BM25_K)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc())
    return (res.withColumn("score_r", F.round("score", 4))
            .withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.col("score_r").alias("score")))


def _prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixQuery under the scoring_boolean rewrite: expand against the
    term dictionary in term order (first PREFIX_MAX_EXP terms — Lucene's
    rewrite enumeration), score the expansion as a TermQuery disjunction
    with weight = idf."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import prefix_search

    out = _ensure_engine_index(spark, sf_dir)
    res = prefix_search(spark, out, list(PREFIX_QUERIES.items()),
                        k=BM25_K, max_expansions=PREFIX_MAX_EXP)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc())
    return (res.withColumn("score_r", F.round("score", 4))
            .withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.col("score_r").alias("score")))


def _facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenSearch ``terms`` aggregation next to a match query: lang
    bucket counts over ALL docs matching ANY query term (aggregation
    scope = the full hit set, not the top-k page)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_facets

    out = _ensure_engine_index(spark, sf_dir)
    return (search_facets(spark, out, list(BM25_QUERIES.items()),
                          facet_col="lang", n=10)
            .select("query_id", "facet_value", "doc_count",
                    F.col("rank").cast("int").alias("rank")))


HIST_INTERVAL = 50


def _histogram_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenSearch numeric ``histogram`` aggregation next to a match
    query: fixed-interval buckets of length(text) over the full ANY-term
    hit set, key-ordered (min_doc_count=1) — boolquery.search_histogram."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_histogram

    out = _ensure_engine_index(spark, sf_dir)
    return search_histogram(spark, out, list(BM25_QUERIES.items()),
                            value_expr="length(text)",
                            interval=HIST_INTERVAL)


def _histogram_oracle_sql() -> str:
    """histogram-aggregation oracle: distinct ANY-term matches joined to
    length(text), floor-bucketed at HIST_INTERVAL, counted per bucket."""
    return f"""
WITH docs0 AS (SELECT * FROM documents),
q(query_id, term) AS (VALUES {_qvals(BM25_QUERIES)}),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
matches AS (
  SELECT DISTINCT q.query_id, toks.doc_id
  FROM toks JOIN q USING (term)
)
SELECT m.query_id,
       (floor(length(d.text)::DOUBLE / {HIST_INTERVAL})
        * {HIST_INTERVAL})::BIGINT AS bucket,
       count(*)::BIGINT AS doc_count
FROM matches m JOIN docs0 d USING (doc_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ------------------------------------------------ metric aggregations
# stats / percentiles / cardinality / date_histogram / top_hits — the
# remaining OpenSearch aggregation types over the same ANY-term hit set.

def _matches_cte() -> str:
    """Shared oracle scaffold: distinct (query_id, doc_id) ANY-term
    matches for BM25_QUERIES — the aggregation scope every agg oracle
    starts from (mirrors boolquery._match_docs)."""
    return f"""
WITH docs0 AS (SELECT * FROM documents),
q(query_id, term) AS (VALUES {_qvals(BM25_QUERIES)}),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
matches AS (
  SELECT DISTINCT q.query_id, toks.doc_id
  FROM toks JOIN q USING (term)
)"""


def _stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``stats`` aggregation: count/min/max/sum/avg of length(text)
    over the full match hit set — boolquery.search_stats."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_stats

    out = _ensure_engine_index(spark, sf_dir)
    return search_stats(spark, out, list(BM25_QUERIES.items()),
                        value_expr="length(text)")


def _stats_agg_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT m.query_id, count(*)::BIGINT AS doc_count,
       min(length(d.text))::DOUBLE AS vmin,
       max(length(d.text))::DOUBLE AS vmax,
       round(sum(length(d.text))::DOUBLE, 4) AS vsum,
       round(avg(length(d.text)::DOUBLE), 4) AS vavg
FROM matches m JOIN docs0 d USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


PCT_LIST = [25.0, 50.0, 75.0, 95.0]


def _percentiles_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``percentiles`` aggregation (exact linear interpolation —
    Spark percentile ≡ DuckDB quantile_cont) of length(text) over the
    hit set — boolquery.search_percentiles."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_percentiles

    out = _ensure_engine_index(spark, sf_dir)
    return search_percentiles(spark, out, list(BM25_QUERIES.items()),
                              value_expr="length(text)", percents=PCT_LIST)


def _percentiles_oracle_sql() -> str:
    pcts = ", ".join(str(p) for p in PCT_LIST)
    fracs = ", ".join(str(p / 100.0) for p in PCT_LIST)
    return f"""{_matches_cte()},
vals AS (
  SELECT m.query_id, length(d.text)::DOUBLE AS v
  FROM matches m JOIN docs0 d USING (doc_id)
)
SELECT query_id, percent, round(val, 4) AS value FROM (
  SELECT query_id,
         unnest([{pcts}]::DOUBLE[]) AS percent,
         unnest(quantile_cont(v, [{fracs}])) AS val
  FROM vals GROUP BY query_id
) ORDER BY 1, 2
"""


def _cardinality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``cardinality`` aggregation over the hit set (exact twin;
    approx=True is the HLL++ scale path, tolerance-tested in pytest) —
    boolquery.search_cardinality."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_cardinality

    out = _ensure_engine_index(spark, sf_dir)
    return search_cardinality(spark, out, list(BM25_QUERIES.items()),
                              col="source")


def _cardinality_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT m.query_id, count(DISTINCT d.source)::BIGINT AS cardinality
FROM matches m JOIN docs0 d USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


DATE_HIST_INTERVAL = "week"
# the oracle twin of the engine unit's synthetic warc_ts (see
# _ensure_engine_index): 2025-01-01 + (doc_id%90) days + (doc_id%24) h
_WARC_TS_SQL = ("TIMESTAMP '2025-01-01 00:00:00'"
                " + ((doc_id % 90)::INT) * INTERVAL 1 DAY"
                " + ((doc_id % 24)::INT) * INTERVAL 1 HOUR")


def _date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``date_histogram`` aggregation (calendar_interval=week, ISO
    Monday truncation) over the crawl timestamp of the hit set —
    boolquery.search_date_histogram."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_date_histogram

    out = _ensure_engine_index(spark, sf_dir)
    return search_date_histogram(spark, out, list(BM25_QUERIES.items()),
                                 ts_col="warc_ts",
                                 calendar_interval=DATE_HIST_INTERVAL)


def _date_histogram_oracle_sql() -> str:
    return f"""{_matches_cte()},
ts AS (SELECT doc_id, {_WARC_TS_SQL} AS warc_ts FROM docs0)
SELECT m.query_id,
       date_trunc('{DATE_HIST_INTERVAL}', t.warc_ts) AS bucket_start,
       count(*)::BIGINT AS doc_count
FROM matches m JOIN ts t USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


RARE_MAX_DC = 1
MULTI_TERMS_N = 10
AUTO_DH_TARGET = 10


def _rare_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rare_terms aggregation: the long-tail buckets (doc_count ≤
    max_doc_count) of the crawl-timestamp facet over the hit set —
    boolquery.search_rare_terms."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_rare_terms

    out = _ensure_engine_index(spark, sf_dir)
    return search_rare_terms(spark, out, list(BM25_QUERIES.items()),
                             facet_col="warc_ts",
                             max_doc_count=RARE_MAX_DC)


def _rare_terms_oracle_sql() -> str:
    return f"""{_matches_cte()},
ts AS (SELECT doc_id, ({_WARC_TS_SQL})::VARCHAR AS facet_value FROM docs0)
SELECT m.query_id, t.facet_value, count(*)::BIGINT AS doc_count
FROM matches m JOIN ts t USING (doc_id)
GROUP BY 1, 2 HAVING count(*) <= {RARE_MAX_DC}
ORDER BY 1, 3, 2
"""


def _multi_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi_terms aggregation: buckets keyed by the (lang, source)
    value tuple, count desc — boolquery.search_multi_terms."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_multi_terms

    out = _ensure_engine_index(spark, sf_dir)
    return search_multi_terms(spark, out, list(BM25_QUERIES.items()),
                              cols=("lang", "source"), n=MULTI_TERMS_N)


def _multi_terms_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT query_id, key1, key2, doc_count, rank FROM (
  SELECT m.query_id, d.lang AS key1, d.source AS key2,
         count(*)::BIGINT AS doc_count,
         row_number() OVER (
             PARTITION BY m.query_id
             ORDER BY count(*) DESC, d.lang, d.source)::INTEGER AS rank
  FROM matches m JOIN docs0 d USING (doc_id)
  GROUP BY 1, 2, 3
) WHERE rank <= {MULTI_TERMS_N}
"""


def _auto_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto_date_histogram: per query the finest calendar interval from
    day<week<month<quarter<year with ≤ target non-empty buckets —
    boolquery.search_auto_date_histogram."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_auto_date_histogram

    out = _ensure_engine_index(spark, sf_dir)
    return search_auto_date_histogram(spark, out,
                                      list(BM25_QUERIES.items()),
                                      ts_col="warc_ts",
                                      target_buckets=AUTO_DH_TARGET)


def _auto_dh_oracle_sql() -> str:
    """auto_date_histogram oracle: day-level bucket frame, ladder pick
    via CASE on distinct re-truncated counts, re-group at the chosen
    level — the same two-stage statement the engine executes."""
    t = AUTO_DH_TARGET
    return f"""{_matches_cte()},
ts AS (SELECT doc_id, {_WARC_TS_SQL} AS warc_ts FROM docs0),
days AS (
  SELECT m.query_id, date_trunc('day', t.warc_ts) AS day_bucket,
         count(*)::BIGINT AS doc_count
  FROM matches m JOIN ts t USING (doc_id) GROUP BY 1, 2
),
lvl AS (
  SELECT query_id,
         CASE WHEN count(DISTINCT day_bucket) <= {t} THEN 'day'
              WHEN count(DISTINCT date_trunc('week', day_bucket)) <= {t}
                   THEN 'week'
              WHEN count(DISTINCT date_trunc('month', day_bucket)) <= {t}
                   THEN 'month'
              WHEN count(DISTINCT date_trunc('quarter', day_bucket)) <= {t}
                   THEN 'quarter'
              ELSE 'year' END AS interval
  FROM days GROUP BY 1
)
SELECT d.query_id, l.interval,
       CASE l.interval
            WHEN 'day' THEN d.day_bucket
            WHEN 'week' THEN date_trunc('week', d.day_bucket)
            WHEN 'month' THEN date_trunc('month', d.day_bucket)
            WHEN 'quarter' THEN date_trunc('quarter', d.day_bucket)
            ELSE date_trunc('year', d.day_bucket) END AS bucket_start,
       sum(d.doc_count)::BIGINT AS doc_count
FROM days d JOIN lvl l USING (query_id)
GROUP BY 1, 2, 3 ORDER BY 1, 3
"""


SCROLL_SLICES = 3
SCROLL_PAGE = 7


def _scroll_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliced scroll: the FULL hit set exported as n independent
    deterministically-paged slices (slice = doc_id % n, pages of
    rounded-score order) — boolquery.scroll_export."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import scroll_export

    out = _ensure_engine_index(spark, sf_dir)
    return scroll_export(spark, out, list(BM25_QUERIES.items()),
                         n_slices=SCROLL_SLICES, page_size=SCROLL_PAGE)


def _scroll_oracle_sql() -> str:
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, t in sorted({(qid, t) for qid, q in BM25_QUERIES.items()
                              for t in q.split()}))
    s, p = SCROLL_SLICES, SCROLL_PAGE
    return f"""
WITH docs0 AS (SELECT * FROM documents),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(query_id, term) AS (VALUES {qvals}),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, slice_id, ((rn - 1) // {p})::INTEGER AS page,
       ((rn - 1) % {p})::INTEGER AS seq, doc_id, score
FROM (
  SELECT query_id, (doc_id % {s})::INTEGER AS slice_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id, doc_id % {s}
                            ORDER BY score DESC, doc_id)::INTEGER AS rn
  FROM scores
)
"""


def _collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenSearch ``collapse``: ranked page keeping only the best hit
    per source (dedup-by-field at serve time) —
    boolquery.search_collapse over the `source` column."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_collapse

    out = _ensure_engine_index(spark, sf_dir)
    return search_collapse(spark, out, list(BM25_QUERIES.items()),
                           collapse_col="source", k=BM25_K)


def _collapse_oracle_sql() -> str:
    """Collapse oracle: full rounded BM25 scores joined to the group
    column, rank-1 per (query, group), then the global ranked page."""
    return f"""{_matches_cte()},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
best AS (
  SELECT query_id, doc_id, facet_value, score FROM (
    SELECT sc.query_id, sc.doc_id, d.source::VARCHAR AS facet_value,
           sc.score,
           row_number() OVER (PARTITION BY sc.query_id, d.source
                              ORDER BY sc.score DESC, sc.doc_id) AS rg
    FROM scores sc JOIN docs0 d USING (doc_id)
  ) WHERE rg = 1
)
SELECT query_id, rank, doc_id, facet_value, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, facet_value, score
  FROM best
) WHERE rank <= {BM25_K}
"""


TOPHITS_PER_BUCKET = 3


def _top_hits_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``terms`` + ``top_hits`` sub-aggregation: best 3 BM25 hits inside
    every lang bucket (full hit set scored through the standard kernel,
    rounded-then-ranked) — boolquery.search_top_hits."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_top_hits

    out = _ensure_engine_index(spark, sf_dir)
    return search_top_hits(spark, out, list(BM25_QUERIES.items()),
                           facet_col="lang",
                           per_bucket=TOPHITS_PER_BUCKET)


def _top_hits_oracle_sql() -> str:
    """Brute-force BM25 over ALL matching docs (no top-k cut), joined to
    lang, ranked per (query, bucket) by (rounded score desc, doc_id)."""
    return f"""{_matches_cte()},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, facet_value, rank, doc_id, score FROM (
  SELECT sc.query_id, d.lang::VARCHAR AS facet_value, sc.doc_id, sc.score,
         row_number() OVER (PARTITION BY sc.query_id, d.lang
                            ORDER BY sc.score DESC, sc.doc_id)::INTEGER
             AS rank
  FROM scores sc JOIN docs0 d USING (doc_id)
) WHERE rank <= {TOPHITS_PER_BUCKET}
"""


# -------------------------------------- round-5 agg/query widening (set 2)
# range / filters / composite / adjacency_matrix / matrix_stats
# aggregations + sorted / constant_score / function_score search bodies —
# the remaining standard OpenSearch surfaces (boolquery.py round-5 section).

RANGE_BOUNDS = ((None, 250.0), (200.0, 400.0), (350.0, None))
AGG_FILTERS = {"a_en": "lang = 'en'",
               "b_long": "length(text) >= 300",
               "c_mod3": "doc_id % 3 = 0"}
COMPOSITE_SIZE = 8
COMPOSITE_AFTER = ("en", "src1")
CS_FILTER = "lang = 'de' AND length(text) >= 300"
CS_BOOST = 1.2
FSF_FACTOR = "ln(1 + length(text))"


def _range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``range`` aggregation: explicit (possibly overlapping)
    [from, to) buckets of length(text), every declared bucket emitted —
    boolquery.search_range_agg."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_range_agg

    out = _ensure_engine_index(spark, sf_dir)
    return search_range_agg(spark, out, list(BM25_QUERIES.items()),
                            value_expr="length(text)",
                            ranges=list(RANGE_BOUNDS), value_cols=["text"])


def _range_agg_oracle_sql() -> str:
    """Range-agg oracle: declared-bucket grid (VALUES) × query ids, left
    join per-bucket counts (a doc counts in EVERY range it satisfies)."""
    return f"""{_matches_cte()},
grid(range_idx, range_key, lo, hi) AS (VALUES
  (0, '*-250',   NULL::DOUBLE, 250.0::DOUBLE),
  (1, '200-400', 200.0::DOUBLE, 400.0::DOUBLE),
  (2, '350-*',   350.0::DOUBLE, NULL::DOUBLE)),
qids AS (SELECT DISTINCT query_id FROM q),
cnt AS (
  SELECT m.query_id, g.range_idx, count(*)::BIGINT AS c
  FROM matches m JOIN docs0 d USING (doc_id) CROSS JOIN grid g
  WHERE (g.lo IS NULL OR length(d.text)::DOUBLE >= g.lo)
    AND (g.hi IS NULL OR length(d.text)::DOUBLE < g.hi)
  GROUP BY 1, 2
)
SELECT qids.query_id, g.range_idx::INTEGER AS range_idx, g.range_key,
       coalesce(c.c, 0)::BIGINT AS doc_count
FROM qids CROSS JOIN grid g
LEFT JOIN cnt c ON c.query_id = qids.query_id AND c.range_idx = g.range_idx
ORDER BY 1, 2
"""


def _filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``filters`` aggregation: one named bucket per predicate over
    the hit set, zero-count buckets included —
    boolquery.search_filters_agg."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_filters_agg

    out = _ensure_engine_index(spark, sf_dir)
    return search_filters_agg(spark, out, list(BM25_QUERIES.items()),
                              filters=dict(AGG_FILTERS),
                              doc_cols=["text", "lang"])


def _filters_agg_oracle_sql() -> str:
    return f"""{_matches_cte()},
qids AS (SELECT DISTINCT query_id FROM q),
fgrid(bucket) AS (VALUES ('a_en'), ('b_long'), ('c_mod3')),
hit AS (
  SELECT m.query_id, m.doc_id, d.lang, d.text
  FROM matches m JOIN docs0 d USING (doc_id)
),
cnt AS (
  SELECT query_id,
         count(*) FILTER (WHERE lang = 'en')::BIGINT AS a_en,
         count(*) FILTER (WHERE length(text) >= 300)::BIGINT AS b_long,
         count(*) FILTER (WHERE doc_id % 3 = 0)::BIGINT AS c_mod3
  FROM hit GROUP BY 1
),
unp AS (
  SELECT query_id, 'a_en' AS bucket, a_en AS c FROM cnt
  UNION ALL SELECT query_id, 'b_long', b_long FROM cnt
  UNION ALL SELECT query_id, 'c_mod3', c_mod3 FROM cnt
)
SELECT qids.query_id, f.bucket, coalesce(u.c, 0)::BIGINT AS doc_count
FROM qids CROSS JOIN fgrid f
LEFT JOIN unp u ON u.query_id = qids.query_id AND u.bucket = f.bucket
ORDER BY 1, 2
"""


def _composite_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``composite`` aggregation: (lang, source) buckets ordered by
    the key tuple, resuming after an after_key cursor —
    boolquery.search_composite_agg."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_composite_agg

    out = _ensure_engine_index(spark, sf_dir)
    return search_composite_agg(spark, out, list(BM25_QUERIES.items()),
                                sources=[("lang", "lang"),
                                         ("source", "source")],
                                size=COMPOSITE_SIZE, after=COMPOSITE_AFTER)


def _composite_agg_oracle_sql() -> str:
    a0, a1 = COMPOSITE_AFTER
    return f"""{_matches_cte()}
SELECT query_id, key_0, key_1, doc_count, rank FROM (
  SELECT query_id, key_0, key_1, doc_count,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY key_0, key_1)::INTEGER AS rank
  FROM (
    SELECT m.query_id, d.lang::VARCHAR AS key_0, d.source::VARCHAR AS key_1,
           count(*)::BIGINT AS doc_count
    FROM matches m JOIN docs0 d USING (doc_id)
    GROUP BY 1, 2, 3
  )
  WHERE key_0 > '{a0}' OR (key_0 = '{a0}' AND key_1 > '{a1}')
) WHERE rank <= {COMPOSITE_SIZE}
"""


def _adjacency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``adjacency_matrix`` aggregation: per-filter and
    filter-intersection co-occurrence counts over the hit set, empty
    intersections omitted — boolquery.search_adjacency_matrix."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_adjacency_matrix

    out = _ensure_engine_index(spark, sf_dir)
    return search_adjacency_matrix(spark, out, list(BM25_QUERIES.items()),
                                   filters=dict(AGG_FILTERS),
                                   doc_cols=["text", "lang"])


def _adjacency_matrix_oracle_sql() -> str:
    return f"""{_matches_cte()},
marked AS (
  SELECT m.query_id,
         (d.lang = 'en') AS p_a,
         (length(d.text) >= 300) AS p_b,
         (m.doc_id % 3 = 0) AS p_c
  FROM matches m JOIN docs0 d USING (doc_id)
),
unp AS (
  SELECT query_id, 'a_en' AS bucket FROM marked WHERE p_a
  UNION ALL SELECT query_id, 'b_long' FROM marked WHERE p_b
  UNION ALL SELECT query_id, 'c_mod3' FROM marked WHERE p_c
  UNION ALL SELECT query_id, 'a_en&b_long' FROM marked WHERE p_a AND p_b
  UNION ALL SELECT query_id, 'a_en&c_mod3' FROM marked WHERE p_a AND p_c
  UNION ALL SELECT query_id, 'b_long&c_mod3' FROM marked WHERE p_b AND p_c
)
SELECT query_id, bucket, count(*)::BIGINT AS doc_count
FROM unp GROUP BY 1, 2 ORDER BY 1, 2
"""


def _matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``matrix_stats`` aggregation: per-field mean/variance +
    cross-field covariance/correlation over the hit set —
    boolquery.matrix_stats_agg."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import matrix_stats_agg

    out = _ensure_engine_index(spark, sf_dir)
    return matrix_stats_agg(spark, out, list(BM25_QUERIES.items()),
                            expr_a="length(text)",
                            expr_b="cast(doc_id % 97 as double)",
                            doc_cols=["text"])


def _matrix_stats_oracle_sql() -> str:
    return f"""{_matches_cte()},
vals AS (
  SELECT m.query_id, length(d.text)::DOUBLE AS va,
         (m.doc_id % 97)::DOUBLE AS vb
  FROM matches m JOIN docs0 d USING (doc_id)
)
SELECT query_id, count(*)::BIGINT AS doc_count,
       round(avg(va), 4) AS mean_a, round(avg(vb), 4) AS mean_b,
       round(var_samp(va), 4) AS var_a, round(var_samp(vb), 4) AS var_b,
       round(covar_samp(va, vb), 4) AS covariance,
       round(corr(va, vb), 4) AS correlation
FROM vals GROUP BY 1 ORDER BY 1
"""


def _sorted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A search body sorting on a doc field instead of _score (filter
    context, no scoring): top-k by warc_ts desc, doc_id tiebreak —
    boolquery.search_sorted."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_sorted

    out = _ensure_engine_index(spark, sf_dir)
    return search_sorted(spark, out, list(BM25_QUERIES.items()),
                         sort_expr="warc_ts", ascending=False, k=BM25_K,
                         doc_cols=["warc_ts"])


def _sorted_search_oracle_sql() -> str:
    return f"""{_matches_cte()},
ts AS (SELECT doc_id, {_WARC_TS_SQL} AS warc_ts FROM docs0)
SELECT query_id, rank, doc_id, sort_value FROM (
  SELECT m.query_id, m.doc_id, t.warc_ts::VARCHAR AS sort_value,
         row_number() OVER (PARTITION BY m.query_id
                            ORDER BY t.warc_ts::VARCHAR DESC,
                                     m.doc_id)::INTEGER AS rank
  FROM matches m JOIN ts t USING (doc_id)
) WHERE rank <= {BM25_K}
"""


def _constant_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``constant_score`` over a filter-context query: every matching doc
    scores exactly ``boost``, page in index (doc_id) order —
    boolquery.constant_score_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import constant_score_search

    out = _ensure_engine_index(spark, sf_dir)
    return constant_score_search(spark, out, filter_expr=CS_FILTER,
                                 boost=CS_BOOST, k=BM25_K)


def _constant_score_oracle_sql() -> str:
    return f"""
SELECT query_id, rank, doc_id, score FROM (
  SELECT 0 AS query_id,
         row_number() OVER (ORDER BY doc_id)::INTEGER AS rank,
         doc_id, {CS_BOOST}::DOUBLE AS score
  FROM documents WHERE {CS_FILTER}
) WHERE rank <= {BM25_K}
"""


RF_PIVOT = 500.0
RF_BOOST = 2.0


def _rank_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank_feature in a bool should: BM25 + boost·f/(f+pivot) over a
    static per-doc feature (length(text) stands in for the pagerank-class
    signal) — boolquery.rank_feature_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import rank_feature_search

    out = _ensure_engine_index(spark, sf_dir)
    return rank_feature_search(spark, out, list(BM25_QUERIES.items()),
                               feature_expr="length(text)",
                               feature_cols=("text",),
                               pivot=RF_PIVOT, boost=RF_BOOST, k=BM25_K)


def _rank_feature_oracle_sql() -> str:
    """rank_feature oracle: brute BM25 (rounded 4 dp) + boost·saturation,
    sum rounded 4 dp, ranked per query."""
    sat = (f"{RF_BOOST} * (length(d.text)::DOUBLE"
           f" / (length(d.text)::DOUBLE + {RF_PIVOT}))")
    return f"""{_matches_cte()},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT sc.query_id, sc.doc_id,
         round(sc.score + {sat}, 4) AS score,
         row_number() OVER (
             PARTITION BY sc.query_id
             ORDER BY round(sc.score + {sat}, 4) DESC,
                      sc.doc_id)::INTEGER AS rank
  FROM scores sc JOIN docs0 d USING (doc_id)
) WHERE rank <= {BM25_K}
"""


def _function_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``function_score`` with field_value_factor (modifier=ln1p,
    boost_mode=multiply): BM25 × ln(1+length(text)), full hit set
    re-ranked on the product — boolquery.function_score_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import function_score_search

    out = _ensure_engine_index(spark, sf_dir)
    return function_score_search(spark, out, list(BM25_QUERIES.items()),
                                 factor_expr=FSF_FACTOR,
                                 factor_cols=["text"], k=BM25_K)


def _function_score_oracle_sql() -> str:
    """function_score oracle: brute BM25 (rounded 4 dp) × ln(1+len),
    product rounded 4 dp, ranked per query."""
    return f"""{_matches_cte()},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT sc.query_id, sc.doc_id,
         round(sc.score * ln(1.0 + length(d.text)), 4) AS score,
         row_number() OVER (
             PARTITION BY sc.query_id
             ORDER BY round(sc.score * ln(1.0 + length(d.text)), 4) DESC,
                      sc.doc_id)::INTEGER AS rank
  FROM scores sc JOIN docs0 d USING (doc_id)
) WHERE rank <= {BM25_K}
"""


# ------------------------------------------ round-5 agg widening (set 3)

WAVG_WEIGHT = "cast(1 + doc_id % 10 as double)"
MISSING_EXPR = "nullif(source, 'src0')"
PIPE_WINDOW = 3


def _extended_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``extended_stats``: stats + sum_of_squares + population
    variance/std-deviation over the hit set —
    boolquery.search_extended_stats."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_extended_stats

    out = _ensure_engine_index(spark, sf_dir)
    return search_extended_stats(spark, out, list(BM25_QUERIES.items()),
                                 value_expr="length(text)")


def _extended_stats_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT m.query_id, count(*)::BIGINT AS doc_count,
       min(length(d.text))::DOUBLE AS vmin,
       max(length(d.text))::DOUBLE AS vmax,
       round(sum(length(d.text))::DOUBLE, 4) AS vsum,
       round(avg(length(d.text)::DOUBLE), 4) AS vavg,
       round(sum(length(d.text)::DOUBLE * length(d.text)), 4)
           AS sum_of_squares,
       round(var_pop(length(d.text)::DOUBLE), 4) AS variance,
       round(stddev_pop(length(d.text)::DOUBLE), 4) AS std_deviation
FROM matches m JOIN docs0 d USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


def _weighted_avg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``weighted_avg``: sum(v·w)/sum(w) over the hit set —
    boolquery.search_weighted_avg."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_weighted_avg

    out = _ensure_engine_index(spark, sf_dir)
    return search_weighted_avg(spark, out, list(BM25_QUERIES.items()),
                               value_expr="length(text)",
                               weight_expr=WAVG_WEIGHT)


def _weighted_avg_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT m.query_id, count(*)::BIGINT AS doc_count,
       round(sum(length(d.text)::DOUBLE * (1 + d.doc_id % 10))
             / sum((1 + d.doc_id % 10)::DOUBLE), 4) AS weighted_avg
FROM matches m JOIN docs0 d USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


def _missing_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``missing`` aggregation: docs of the hit set with no value for a
    field (fixture: `nullif(source,'src0')` — the corpus has no natural
    nulls, so the fixture models src0 as the missing-source cohort) —
    boolquery.search_missing."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_missing

    out = _ensure_engine_index(spark, sf_dir)
    return search_missing(spark, out, list(BM25_QUERIES.items()),
                          col_expr=MISSING_EXPR)


def _missing_agg_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT m.query_id,
       count(*) FILTER (WHERE nullif(d.source, 'src0') IS NULL)::BIGINT
           AS missing_count
FROM matches m JOIN docs0 d USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


def _global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``global`` aggregation: corpus-wide metric beside a query (scope
    break) — boolquery.search_global_agg."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_global_agg

    out = _ensure_engine_index(spark, sf_dir)
    return search_global_agg(spark, out, list(BM25_QUERIES.items()),
                             value_expr="length(text)")


def _global_agg_oracle_sql() -> str:
    qids = ", ".join(f"({q})" for q in sorted(BM25_QUERIES))
    return f"""
WITH docs0 AS (SELECT * FROM documents),
qids(query_id) AS (VALUES {qids}),
corpus AS (
  SELECT count(*)::BIGINT AS doc_count,
         round(avg(length(text)::DOUBLE), 4) AS vavg
  FROM docs0
)
SELECT query_id, doc_count, vavg FROM qids CROSS JOIN corpus ORDER BY 1
"""


def _pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_histogram + pipeline aggregations (derivative,
    cumulative_sum, trailing-window moving_avg) —
    boolquery.search_pipeline_aggs."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_pipeline_aggs

    out = _ensure_engine_index(spark, sf_dir)
    return search_pipeline_aggs(spark, out, list(BM25_QUERIES.items()),
                                ts_col="warc_ts",
                                calendar_interval=DATE_HIST_INTERVAL,
                                window=PIPE_WINDOW)


def _pipeline_aggs_oracle_sql() -> str:
    return f"""{_matches_cte()},
ts AS (SELECT doc_id, {_WARC_TS_SQL} AS warc_ts FROM docs0),
hist AS (
  SELECT m.query_id,
         date_trunc('{DATE_HIST_INTERVAL}', t.warc_ts) AS bucket_start,
         count(*)::BIGINT AS doc_count
  FROM matches m JOIN ts t USING (doc_id)
  GROUP BY 1, 2
)
SELECT query_id, bucket_start, doc_count,
       (doc_count - lag(doc_count) OVER w)::BIGINT AS derivative,
       (sum(doc_count) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW))::BIGINT AS cumulative_sum,
       round(avg(doc_count) OVER (w ROWS BETWEEN {PIPE_WINDOW - 1}
                                  PRECEDING AND CURRENT ROW), 4)
           AS moving_avg
FROM hist
WINDOW w AS (PARTITION BY query_id ORDER BY bucket_start)
ORDER BY 1, 2
"""


# --------------------------------- round-5 function_score widening (set 4)

DECAY_ORIGIN = "2025-02-15 00:00:00"
DECAY_SCALE_S = 14 * 86400.0
DECAY = 0.5
SCRIPT_EXPR = "sqrt(_score) + ln(1 + length(text)) / 10"
RS_SEED = 42
RS_MULT = 2654435761


def _decay_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """function_score gauss decay on the crawl timestamp (freshness
    boost) — boolquery.decay_score_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import decay_score_search

    out = _ensure_engine_index(spark, sf_dir)
    return decay_score_search(spark, out, list(BM25_QUERIES.items()),
                              field="warc_ts", origin=DECAY_ORIGIN,
                              scale_s=DECAY_SCALE_S, decay=DECAY,
                              k=BM25_K)


def _decay_score_oracle_sql() -> str:
    import math
    two_sigma2 = -(DECAY_SCALE_S ** 2) / math.log(DECAY)  # 2σ² inlined
    return f"""{_matches_cte()},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
decay AS (
  SELECT doc_id,
         exp(-(pow(greatest(0.0,
                   abs(epoch({_WARC_TS_SQL})
                       - epoch(TIMESTAMP '{DECAY_ORIGIN}'))::DOUBLE), 2))
             / {two_sigma2!r}) AS factor
  FROM docs0
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT sc.query_id, sc.doc_id,
         round(sc.score * dc.factor, 4) AS score,
         row_number() OVER (
             PARTITION BY sc.query_id
             ORDER BY round(sc.score * dc.factor, 4) DESC,
                      sc.doc_id)::INTEGER AS rank
  FROM scores sc JOIN decay dc USING (doc_id)
) WHERE rank <= {BM25_K}
"""


def _script_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script_score: expression of _score and doc fields replaces the
    score — boolquery.script_score_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import script_score_search

    out = _ensure_engine_index(spark, sf_dir)
    return script_score_search(spark, out, list(BM25_QUERIES.items()),
                               script_expr=SCRIPT_EXPR,
                               script_cols=["text"], k=BM25_K)


def _script_score_oracle_sql() -> str:
    return f"""{_matches_cte()},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS _score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT sc.query_id, sc.doc_id,
         round(sqrt(sc._score) + ln(1 + length(d.text)) / 10, 4) AS score,
         row_number() OVER (
             PARTITION BY sc.query_id
             ORDER BY round(sqrt(sc._score)
                            + ln(1 + length(d.text)) / 10, 4) DESC,
                      sc.doc_id)::INTEGER AS rank
  FROM scores sc JOIN docs0 d USING (doc_id)
) WHERE rank <= {BM25_K}
"""


def _random_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """random_score: deterministic seeded multiplicative-hash score over
    the hit set (reproducible sampling) —
    boolquery.random_score_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import random_score_search

    out = _ensure_engine_index(spark, sf_dir)
    return random_score_search(spark, out, list(BM25_QUERIES.items()),
                               seed=RS_SEED, k=BM25_K)


def _random_score_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT query_id, rank, doc_id, score FROM (
  SELECT m.query_id, m.doc_id,
         round((((m.doc_id + {RS_SEED}) * {RS_MULT}) % 4294967296)::DOUBLE
               / 4294967296.0, 6) AS score,
         row_number() OVER (
             PARTITION BY m.query_id
             ORDER BY round((((m.doc_id + {RS_SEED}) * {RS_MULT})
                             % 4294967296)::DOUBLE / 4294967296.0, 6)
                      DESC, m.doc_id)::INTEGER AS rank
  FROM matches m
) WHERE rank <= {BM25_K}
"""


# --------------------------------------- round-5 count/completion (set 7)

COMPLETION_PREFIXES: dict[int, str] = {1: "s", 2: "c", 3: "d"}
COMPLETION_SIZE = 5


def _count_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_count / track_total_hits: exact per-query hit counts —
    boolquery.search_count."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_count

    out = _ensure_engine_index(spark, sf_dir)
    return search_count(spark, out, list(BM25_QUERIES.items()))


def _count_api_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT query_id, count(*)::BIGINT AS total_hits
FROM matches GROUP BY 1 ORDER BY 1
"""


def _completion_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """completion suggester: prefix → df-weighted dictionary completions
    — boolquery.completion_suggest."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import completion_suggest

    out = _ensure_engine_index(spark, sf_dir)
    return completion_suggest(spark, out,
                              list(COMPLETION_PREFIXES.items()),
                              size=COMPLETION_SIZE)


def _completion_oracle_sql() -> str:
    parts = []
    for qid, pref in sorted(COMPLETION_PREFIXES.items()):
        parts.append(f"""
  SELECT * FROM (
    SELECT {qid} AS query_id, term AS suggestion, df::BIGINT AS weight
    FROM term_df WHERE term LIKE '{pref}%'
    ORDER BY df DESC, term LIMIT {COMPLETION_SIZE}
  )""")
    body = "\n  UNION ALL\n".join(parts)
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
term_df AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1
),
cands AS ({body})
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY weight DESC, suggestion)::INTEGER
           AS rank,
       suggestion, weight
FROM cands ORDER BY 1, 2
"""


PERCOLATE_QUERIES: dict[int, str] = {
    1: "spark join filter",
    2: "vector stream window",
    3: "customer slow",
    4: "spark zzqxabsent",   # dead term: must match NOTHING (operator=and)
}


def _percolate_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percolate (reverse search / alerting backfill): every (stored
    query, doc) match, stored queries = analyzed match with
    operator=and; one term-pruned postings pass, no global sort. Query
    4 carries a dictionary-absent term and must match nothing (clause
    count resolves BEFORE the df lookup) — boolquery.percolate."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import percolate

    out = _ensure_engine_index(spark, sf_dir)
    return percolate(spark, out, list(PERCOLATE_QUERIES.items()))


def _percolate_oracle_sql() -> str:
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, q in sorted(PERCOLATE_QUERIES.items())
        for t in sorted(set(q.split())))
    return f"""
WITH q(query_id, term) AS (VALUES {qvals}),
qn AS (SELECT query_id, count(DISTINCT term) AS n FROM q GROUP BY 1),
dt AS (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
m AS (
  SELECT q.query_id, dt.doc_id, count(DISTINCT dt.term) AS c
  FROM q JOIN dt USING (term) GROUP BY 1, 2
)
SELECT m.query_id::INTEGER AS query_id, m.doc_id::BIGINT AS doc_id
FROM m JOIN qn USING (query_id)
WHERE m.c = qn.n
"""


# ------------------------------------- round-5 positional widening (set 5)

SPAN_QUERIES: dict[int, str] = {1: "spark", 2: "customer", 3: "vector"}
SPAN_END = 8
MPP_QUERIES: dict[int, str] = {
    1: "table ha",
    2: "merge gro",
    3: "customer jo",
}
MPP_MAX_EXP = 50


def _span_first_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_first: the term only matches within the first SPAN_END token
    positions; tf = qualifying occurrences —
    boolquery.span_first_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import span_first_search

    out = _ensure_engine_index(spark, sf_dir)
    return span_first_search(spark, out, list(SPAN_QUERIES.items()),
                             end=SPAN_END, k=BM25_K)


def _span_first_oracle_sql() -> str:
    parts = []
    for qid, term in sorted(SPAN_QUERIES.items()):
        parts.append(f"""
  SELECT {qid} AS query_id, '{term}' AS term, doc_id, len(t)::DOUBLE AS dl,
         len(list_filter(range(1, {SPAN_END} + 1),
                         i -> t[i] = '{term}'))::DOUBLE AS tf
  FROM toks""")
    body = "\n  UNION ALL\n".join(parts)
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toks
),
term_df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1
),
pf AS ({body}),
scores AS (
  SELECT p.query_id, p.doc_id,
         round(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * p.tf * 2.2
               / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)),
               4) AS score
  FROM pf p JOIN term_df d USING (term) CROSS JOIN stats s
  WHERE p.tf >= 1
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


def _mpp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase_prefix: phrase with the last term as a dictionary
    prefix expansion (union position list, anchors count once) —
    boolquery.match_phrase_prefix_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import match_phrase_prefix_search

    out = _ensure_engine_index(spark, sf_dir)
    return match_phrase_prefix_search(spark, out,
                                      list(MPP_QUERIES.items()),
                                      k=BM25_K,
                                      max_expansions=MPP_MAX_EXP)


def _mpp_oracle_sql() -> str:
    """match_phrase_prefix oracle: per query, the expansion CTE (vocab
    prefix scan, term order, LIMIT max_expansions), anchor chains with a
    union-membership final position, idf = Σ fixed idfs + idf of the
    summed expansion df clamped to N (the engine's documented
    MultiPhrase determinization)."""
    exp_ctes, parts, idf_parts = [], [], []
    for qid, q in sorted(MPP_QUERIES.items()):
        toks = q.split()
        fixed, pref = toks[:-1], toks[-1]
        n = len(toks)
        exp_ctes.append(f"""
exp_{qid} AS (
  SELECT term, df FROM term_df WHERE term LIKE '{pref}%'
  ORDER BY term LIMIT {MPP_MAX_EXP}
)""")
        cond = " AND ".join(f"t[i+{j}] = '{t}'"
                            for j, t in enumerate(fixed))
        parts.append(f"""
  SELECT {qid} AS query_id, doc_id, len(t)::DOUBLE AS dl,
         len(list_filter(range(1, len(t) - {n - 2}),
                         i -> {cond}
                              AND list_contains(e.exps, t[i + {n - 1}])
             ))::DOUBLE AS tf
  FROM toks, (SELECT list(term ORDER BY term) AS exps FROM exp_{qid}) e""")
        fixed_idf = " + ".join(
            f"""(SELECT ln(1.0 + (s.n - df + 0.5) / (df + 0.5))
                 FROM term_df CROSS JOIN stats s WHERE term = '{t}')"""
            for t in fixed)
        idf_parts.append(f"""
  SELECT {qid} AS query_id,
         {fixed_idf}
         + (SELECT ln(1.0 + (s.n - least(s.n, u.sdf) + 0.5)
                      / (least(s.n, u.sdf) + 0.5))
            FROM (SELECT sum(df) AS sdf FROM exp_{qid}) u
            CROSS JOIN stats s) AS idf""")
    body = "\n  UNION ALL\n".join(parts)
    idf_body = "\n  UNION ALL\n".join(idf_parts)
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toks
),
term_df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1
),{",".join(exp_ctes)},
pf AS ({body}),
idfs AS ({idf_body}),
scores AS (
  SELECT p.query_id, p.doc_id,
         round(i.idf * p.tf * 2.2
               / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)),
               4) AS score
  FROM pf p JOIN idfs i USING (query_id) CROSS JOIN stats s
  WHERE p.tf >= 1
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


SPAN_NEAR_QUERIES: dict[int, str] = {
    1: "hash table",
    2: "group merge",
    3: "join customer",
}
SPAN_NEAR_SLOP = 3


def _span_near_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_near in_order=false: every clause term within the symmetric
    window |q − p| ≤ slop + n − 1 of an anchor occurrence of the first
    term — boolquery.span_near_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import span_near_search

    out = _ensure_engine_index(spark, sf_dir)
    return span_near_search(spark, out, list(SPAN_NEAR_QUERIES.items()),
                            slop=SPAN_NEAR_SLOP, k=BM25_K)


def _span_near_oracle_sql() -> str:
    """span_near oracle: tf = anchors of the first term where every other
    clause term occurs within the ±(slop + n − 1) window (nested
    list_filter over the token array), idf = Σ clause idfs."""
    parts, idf_parts = [], []
    for qid, q in sorted(SPAN_NEAR_QUERIES.items()):
        toks = q.split()
        win = SPAN_NEAR_SLOP + len(toks) - 1
        near = "\n                  AND ".join(
            f"""len(list_filter(range(greatest(1, i - {win}),
                        least(len(t), i + {win}) + 1),
                        j -> t[j] = '{tk}')) > 0"""
            for tk in toks[1:])
        parts.append(f"""
  SELECT {qid} AS query_id, doc_id, len(t)::DOUBLE AS dl,
         len(list_filter(range(1, len(t) + 1),
             i -> t[i] = '{toks[0]}'
                  AND {near}))::DOUBLE AS tf
  FROM toks""")
        s_idf = " + ".join(
            f"""(SELECT ln(1.0 + (s.n - df + 0.5) / (df + 0.5))
                 FROM term_df CROSS JOIN stats s WHERE term = '{t}')"""
            for t in toks)
        idf_parts.append(f"  SELECT {qid} AS query_id, {s_idf} AS idf")
    body = "\n  UNION ALL\n".join(parts)
    idf_body = "\n  UNION ALL\n".join(idf_parts)
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toks
),
term_df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1
),
pf AS ({body}),
idfs AS ({idf_body}),
scores AS (
  SELECT p.query_id, p.doc_id,
         round(i.idf * p.tf * 2.2
               / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)),
               4) AS score
  FROM pf p JOIN idfs i USING (query_id) CROSS JOIN stats s
  WHERE p.tf >= 1
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


# ------------------------------- round-5 filter-context + sampler (set 6)

IDS_FIXTURE = [3, 7, 11, 123, 456, 499]
TERMS_VALUES = ["src1", "src3", "src5"]
SAMPLER_SHARD = 50
DIV_SHARD = 30
DIV_PER_VALUE = 2


def _exists_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exists query: docs that HAVE the (fixture nullif-modelled) field —
    boolquery.exists_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import exists_search

    out = _ensure_engine_index(spark, sf_dir)
    return exists_search(spark, out, MISSING_EXPR, k=BM25_K)


def _exists_oracle_sql() -> str:
    return f"""
SELECT query_id, rank, doc_id, score FROM (
  SELECT 0 AS query_id,
         row_number() OVER (ORDER BY doc_id)::INTEGER AS rank,
         doc_id, 1.0::DOUBLE AS score
  FROM documents WHERE nullif(source, 'src0') IS NOT NULL
) WHERE rank <= {BM25_K}
"""


def _ids_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ids query: explicit doc-id list — boolquery.ids_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import ids_search

    out = _ensure_engine_index(spark, sf_dir)
    return ids_search(spark, out, IDS_FIXTURE, k=BM25_K)


def _ids_oracle_sql() -> str:
    ids = ", ".join(str(i) for i in IDS_FIXTURE)
    return f"""
SELECT query_id, rank, doc_id, score FROM (
  SELECT 0 AS query_id,
         row_number() OVER (ORDER BY doc_id)::INTEGER AS rank,
         doc_id, 1.0::DOUBLE AS score
  FROM documents WHERE doc_id IN ({ids})
) WHERE rank <= {BM25_K}
"""


def _terms_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms query on the keyword `source` field —
    boolquery.terms_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import terms_search

    out = _ensure_engine_index(spark, sf_dir)
    return terms_search(spark, out, "source", TERMS_VALUES, k=BM25_K)


def _terms_keyword_oracle_sql() -> str:
    vals = ", ".join(f"'{v}'" for v in TERMS_VALUES)
    return f"""
SELECT query_id, rank, doc_id, score FROM (
  SELECT 0 AS query_id,
         row_number() OVER (ORDER BY doc_id)::INTEGER AS rank,
         doc_id, 1.0::DOUBLE AS score
  FROM documents WHERE source IN ({vals})
) WHERE rank <= {BM25_K}
"""


_SAMPLER_SCORES_CTE = """
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({toks_sql})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)"""


def _sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sampler aggregation: terms(lang) over only the top-scored sample
    of the hit set — boolquery.search_sampler."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_sampler

    out = _ensure_engine_index(spark, sf_dir)
    return search_sampler(spark, out, list(BM25_QUERIES.items()),
                          facet_col="lang", shard_size=SAMPLER_SHARD)


def _sampler_oracle_sql() -> str:
    return f"""{_matches_cte()},
{_SAMPLER_SCORES_CTE.format(toks_sql=_TOKS_SQL)},
sample AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS sr
    FROM scores
  ) WHERE sr <= {SAMPLER_SHARD}
)
SELECT s.query_id, d.lang::VARCHAR AS facet_value,
       count(*)::BIGINT AS doc_count
FROM sample s JOIN docs0 d USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _diversified_sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diversified_sampler: at most DIV_PER_VALUE best docs per source
    survive before the top-DIV_SHARD sample cut —
    boolquery.search_sampler(max_docs_per_value=...)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_sampler

    out = _ensure_engine_index(spark, sf_dir)
    return search_sampler(spark, out, list(BM25_QUERIES.items()),
                          facet_col="lang", shard_size=DIV_SHARD,
                          max_docs_per_value=DIV_PER_VALUE,
                          dedup_col="source")


def _diversified_sampler_oracle_sql() -> str:
    return f"""{_matches_cte()},
{_SAMPLER_SCORES_CTE.format(toks_sql=_TOKS_SQL)},
dedup AS (
  SELECT query_id, doc_id, score FROM (
    SELECT sc.query_id, sc.doc_id, sc.score,
           row_number() OVER (PARTITION BY sc.query_id, d.source
                              ORDER BY sc.score DESC, sc.doc_id) AS dr
    FROM scores sc JOIN docs0 d USING (doc_id)
  ) WHERE dr <= {DIV_PER_VALUE}
),
sample AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS sr
    FROM dedup
  ) WHERE sr <= {DIV_SHARD}
)
SELECT s.query_id, d.lang::VARCHAR AS facet_value,
       count(*)::BIGINT AS doc_count
FROM sample s JOIN docs0 d USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _highlight_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k + highlight snippet (the ``highlight`` block of a
    search body): 60-char window around the first occurrence of any
    query term, computed relationally on both sides."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import highlight_snippets

    out = _ensure_engine_index(spark, sf_dir)
    res = highlight_snippets(spark, out, list(BM25_QUERIES.items()),
                             k=BM25_K, width=30)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc())
    return (res.withColumn("score_r", F.round("score", 4))
            .withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.col("score_r").alias("score"), "snippet"))


def _qvals(qmap: dict[int, str]) -> str:
    return ", ".join(f"({qid}, '{t}')"
                     for qid, t in sorted({(qid, t)
                                           for qid, q in qmap.items()
                                           for t in q.split()}))


_BM25_CORE_SQL = f"""toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)"""


def _bool_oracle_sql() -> str:
    """BooleanQuery oracle: brute BM25 over must+should terms, then the
    clause constraints — doc has EVERY must term (count-distinct match
    against the per-query must count) and NO must_not term."""
    score_vals = _qvals({qid: " ".join((q.get("must", "") + " " +
                                        q.get("should", "")).split())
                         for qid, q in BOOL_QUERIES.items()})
    must_vals = ", ".join(
        f"({qid}, '{t}')" for qid, q in sorted(BOOL_QUERIES.items())
        for t in q.get("must", "").split()) or "(-1, '')"
    not_vals = ", ".join(
        f"({qid}, '{t}')" for qid, q in sorted(BOOL_QUERIES.items())
        for t in q.get("must_not", "").split()) or "(-1, '')"
    return f"""
WITH docs0 AS (SELECT * FROM documents),
q(query_id, term) AS (VALUES {score_vals}),
musts(query_id, term) AS (VALUES {must_vals}),
nots(query_id, term) AS (VALUES {not_vals}),
{_BM25_CORE_SQL},
must_cnt AS (SELECT query_id, count(DISTINCT term) AS nm
             FROM musts GROUP BY 1),
must_ok AS (
  SELECT m.query_id, tf.doc_id
  FROM musts m JOIN tf USING (term)
       JOIN must_cnt mc ON mc.query_id = m.query_id
  GROUP BY 1, 2
  HAVING count(DISTINCT term) = max(mc.nm)
),
qual AS (
  SELECT s.* FROM scores s
  WHERE (s.query_id NOT IN (SELECT query_id FROM musts)
         OR EXISTS (SELECT 1 FROM must_ok mo
                    WHERE mo.query_id = s.query_id
                      AND mo.doc_id = s.doc_id))
    AND NOT EXISTS (SELECT 1 FROM nots n JOIN tf t2 ON t2.term = n.term
                    WHERE n.query_id = s.query_id
                      AND t2.doc_id = s.doc_id)
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM qual
) WHERE rank <= {BM25_K}
"""


def _prefix_oracle_sql() -> str:
    """PrefixQuery oracle: expansion = first PREFIX_MAX_EXP distinct
    corpus terms per prefix in term order (binary collation both sides:
    terms are [0-9a-z]+), scored as a weight-1 TermQuery disjunction."""
    pref_vals = ", ".join(f"({qid}, '{p}')"
                          for qid, p in sorted(PREFIX_QUERIES.items()))
    return f"""
WITH docs0 AS (SELECT * FROM documents),
prefixes(query_id, pref) AS (VALUES {pref_vals}),
toks0 AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
vocab AS (SELECT DISTINCT term FROM toks0),
exp AS (
  SELECT p.query_id, v.term,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY v.term) AS rn
  FROM prefixes p JOIN vocab v ON v.term LIKE p.pref || '%'
),
q AS (SELECT query_id, term FROM exp WHERE rn <= {PREFIX_MAX_EXP}),
toks AS (SELECT * FROM toks0),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


def _facet_oracle_sql() -> str:
    """terms-aggregation oracle: distinct matching docs per query (ANY
    query term) joined to lang, counted, top-10 by (count desc, value)."""
    return f"""
WITH docs0 AS (SELECT * FROM documents),
q(query_id, term) AS (VALUES {_qvals(BM25_QUERIES)}),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
matches AS (
  SELECT DISTINCT q.query_id, toks.doc_id
  FROM toks JOIN q USING (term)
),
fac AS (
  SELECT m.query_id, d.lang::VARCHAR AS facet_value,
         count(*)::BIGINT AS doc_count
  FROM matches m JOIN docs0 d USING (doc_id)
  GROUP BY 1, 2
)
SELECT query_id, facet_value, doc_count, rank FROM (
  SELECT query_id, facet_value, doc_count,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY doc_count DESC,
                                     facet_value)::INTEGER AS rank
  FROM fac
) WHERE rank <= 10
"""


def _highlight_oracle_sql(width: int = 30) -> str:
    """BM25 top-k + snippet: min positive 1-based char position of any
    query term in lower(text) (strpos == Spark instr), fixed
    2·width-char substring clamped at 1 — '' when no verbatim match."""
    return f"""
WITH topk AS ({_bm25_oracle_sql()}),
docs0 AS (SELECT * FROM documents),
q(query_id, term) AS (VALUES {_qvals(BM25_QUERIES)}),
hl AS (
  SELECT t.query_id, t.rank, t.doc_id, t.score,
         min(CASE WHEN strpos(lower(d.text), q.term) > 0
                  THEN strpos(lower(d.text), q.term) END) AS pos,
         any_value(d.text) AS text
  FROM topk t JOIN docs0 d ON d.doc_id = t.doc_id
       JOIN q ON q.query_id = t.query_id
  GROUP BY 1, 2, 3, 4
)
SELECT query_id, rank, doc_id, score,
       CASE WHEN pos IS NOT NULL
            THEN substring(text, greatest(pos - {width}, 1), {2 * width})
            ELSE '' END AS snippet
FROM hl
"""


# ------------------------------- fuzzy / wildcard / MLT / multi_match

# FuzzyQuery inputs: misspellings within 2 edits of corpus terms
# ('custmer'→customer, 'windoe'→window, 'strem'→stream, 'tabel'→table);
# the dense synthetic vocab also pulls in short-word neighbours, which is
# exactly what exercises the distance-decay boost.
FUZZY_QUERIES: dict[int, str] = {1: "custmer", 2: "windoe strem",
                                 3: "tabel"}
FUZZY_MAX_EDITS = 2
FUZZY_MAX_EXP = 50

# WildcardQuery patterns: leading-anchored, suffix, and single-char hole
WILDCARD_QUERIES: dict[int, str] = {1: "s*", 2: "*er", 3: "w?ndow"}
WILDCARD_MAX_EXP = 50

# more_like_this seeds: (query_id, seed doc_id) — ids exist at every sf
MLT_SEEDS: dict[int, int] = {1: 7, 2: 42, 3: 311}
MLT_MAX_TERMS = 10
MLT_MIN_TF = 2
MLT_MIN_DF = 2

# multi_match fields: the root 'current' text plus the derived
# chunk_text_previous analogue, boosted 1.0 / 0.5
MULTI_FIELDS: dict[str, float] = {"text": 1.0, "text_prev": 0.5}


# Engine over-fetch margin for the rounded re-rank: the oracle ranks by
# round(score, 4) with doc_id tie-break over ALL docs, so a raw-precision
# top-k can drop a doc that ties at the k-th ROUNDED score (seen live at
# sf0.01: two docs both 0.6708 at rank 10). Fetch k+margin raw rows, then
# re-rank rounded and cut — margin 50 covers any plausible tie run.
_RERANK_MARGIN = 50


def _rerank_rounded(res: DataFrame, k: int) -> DataFrame:
    """Deterministic oracle-comparable ordering: round scores to 4 dp,
    re-rank per query by (rounded score desc, doc_id asc), keep top k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_r").desc(), F.col("doc_id").asc())
    return (res.withColumn("score_r", F.round("score", 4))
            .withColumn("rank2", F.row_number().over(w))
            .filter(F.col("rank2") <= k)
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.col("score_r").alias("score")))


def _fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzyQuery (the ``fuzziness`` option of a ``match`` clause):
    Levenshtein ≤2 expansion against the term dictionary, closest terms
    first, each expansion scored as a TermQuery with weight
    (1 − d/|token|)·idf — boolquery.fuzzy_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import fuzzy_search

    out = _ensure_engine_index(spark, sf_dir)
    return _rerank_rounded(fuzzy_search(
        spark, out, list(FUZZY_QUERIES.items()),
        k=BM25_K + _RERANK_MARGIN,
        max_edits=FUZZY_MAX_EDITS, max_expansions=FUZZY_MAX_EXP), BM25_K)


# term suggester: misspellings of corpus vocabulary + one in-dictionary
# token ('merge') that suggest_mode=missing must skip
SUGGEST_TEXT = "sprak qery batsh prt windoe merge"
SUGGEST_SIZE = 5
SUGGEST_MAX_EDITS = 2


def _term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenSearch ``term`` suggester (did-you-mean): per-token dictionary
    candidates within edit distance 2, Lucene DirectSpellChecker scoring
    1 − dist/min(len), ranked (score desc, df desc, term asc), size-cut;
    suggest_mode=missing skips in-dictionary tokens. One broadcast
    dictionary pass — boolquery.term_suggest."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import term_suggest

    out = _ensure_engine_index(spark, sf_dir)
    return term_suggest(spark, out, SUGGEST_TEXT, size=SUGGEST_SIZE,
                        max_edits=SUGGEST_MAX_EDITS, mode="missing")


def _suggest_oracle_sql() -> str:
    """Term-suggester oracle: vocab+df from the corpus tokens, candidates
    within SUGGEST_MAX_EDITS of each source token that is NOT itself in
    the vocab, DirectSpellChecker similarity 1 − d/min(len), ranked
    (score desc, df desc, term asc), first SUGGEST_SIZE per token."""
    src_vals = ", ".join(f"('{t}')" for t in
                         sorted(set(SUGGEST_TEXT.split())))
    return f"""
WITH docs0 AS (SELECT * FROM documents),
srcs(src) AS (VALUES {src_vals}),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
vocab AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
          FROM toks GROUP BY 1),
missing AS (
  SELECT src FROM srcs WHERE src NOT IN (SELECT term FROM vocab)
),
cand AS (
  SELECT m.src, v.term, v.df,
         levenshtein(v.term, m.src) AS dist,
         round(1.0 - levenshtein(v.term, m.src)::DOUBLE
               / least(length(m.src), length(v.term)), 4) AS score
  FROM missing m JOIN vocab v
    ON levenshtein(v.term, m.src) BETWEEN 1 AND {SUGGEST_MAX_EDITS}
)
SELECT src, term AS suggestion, dist::INTEGER AS dist, score, df,
       rank::INTEGER AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY src
                               ORDER BY score DESC, df DESC, term) AS rank
  FROM cand
) WHERE rank <= {SUGGEST_SIZE}
"""


ANALYZE_N = 100


def _analyze_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``_analyze`` API: the frozen analyzer's (token, position)
    stream — the exact positions the positional postings store — exposed
    as a surface over the first ANALYZE_N docs and hash-gated against
    the SQL tokenizer twin (the analyzer-equivalence contract every
    search entry relies on, stated directly)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.analyzer import with_tokens

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < ANALYZE_N)
    return (with_tokens(docs)
            .select("doc_id",
                    F.posexplode("tokens").alias("position", "token"))
            .select("doc_id",
                    F.col("position").cast("int").alias("position"),
                    "token"))


def _analyze_api_oracle_sql() -> str:
    return f"""
SELECT doc_id, (unnest(range(1, len(t) + 1)) - 1)::INTEGER AS position,
       unnest(t) AS token
FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents
      WHERE doc_id < {ANALYZE_N})
"""


PS_TEXT = "paft sost"  # cand pools {part,fast} × {sort,fast}: the LM,
#                        not string distance, must pick the correction
PS_SIZE = 3
PS_MAX_EDITS = 2
PS_MAX_CAND = 3


def _phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phrase suggester: per-position DirectSpellChecker candidates
    rescored by the corpus Laplace bigram model —
    boolquery.phrase_suggest over boolquery.build_bigram_table."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import (
        build_bigram_table,
        phrase_suggest,
    )

    out = _ensure_engine_index(spark, sf_dir)
    key = out + "/bigrams"
    if key not in _BUILT_INDEXES:
        build_bigram_table(spark, out)
        _BUILT_INDEXES.add(key)
    return phrase_suggest(spark, out, PS_TEXT, size=PS_SIZE,
                          max_edits=PS_MAX_EDITS,
                          max_candidates=PS_MAX_CAND)


def _phrase_suggest_oracle_sql() -> str:
    """Phrase-suggester oracle: the same candidate rule per position
    (identity ranks first via similarity 1.0), a flat (doc, pos) token
    table self-joined at pos+1 for the bigram counts, the Laplace path
    score, ranked (score desc, suggestion asc)."""
    toks = PS_TEXT.split()
    assert len(toks) == 2, "oracle is written for the 2-token fixture"
    cands = []
    for i, tok in enumerate(toks):
        cands.append(f"""
cand{i} AS (
  SELECT term, cf FROM (
    SELECT v.term, v.cf,
           row_number() OVER (ORDER BY
               round(1.0 - levenshtein(v.term, '{tok}')::DOUBLE
                     / least(length('{tok}'), length(v.term)), 4) DESC,
               v.df DESC, v.term) AS r
    FROM vocab v WHERE levenshtein(v.term, '{tok}') <= {PS_MAX_EDITS}
  ) WHERE r <= {PS_MAX_CAND}
)""")
    return f"""
WITH docs0 AS (SELECT * FROM documents),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM docs0),
flat AS (
  SELECT doc_id, unnest(t) AS term,
         unnest(range(1, len(t) + 1)) AS pos
  FROM toks
),
vocab AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
                 count(*)::BIGINT AS cf
          FROM flat GROUP BY 1),
tot AS (SELECT count(*)::BIGINT AS v, sum(cf)::BIGINT AS t FROM vocab),
bg AS (
  SELECT a.term AS w1, b.term AS w2, count(*)::BIGINT AS c
  FROM flat a JOIN flat b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),{",".join(cands)},
paths AS (
  SELECT c0.term || ' ' || c1.term AS suggestion,
         round(ln((c0.cf + 1.0) / ((SELECT t FROM tot)
                                   + (SELECT v FROM tot)))
               + ln((coalesce(bgc.c, 0) + 1.0)
                    / (c0.cf + (SELECT v FROM tot))), 4) AS score
  FROM cand0 c0 CROSS JOIN cand1 c1
  LEFT JOIN bg bgc ON bgc.w1 = c0.term AND bgc.w2 = c1.term
)
SELECT src, suggestion, score, rank FROM (
  SELECT '{PS_TEXT}' AS src, suggestion, score,
         row_number() OVER (ORDER BY score DESC, suggestion)::INTEGER
             AS rank
  FROM paths
) WHERE rank <= {PS_SIZE}
"""


def _wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WildcardQuery under the scoring_boolean rewrite: LIKE-pushdown
    dictionary expansion in term order, idf-weighted disjunction —
    boolquery.wildcard_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import wildcard_search

    out = _ensure_engine_index(spark, sf_dir)
    return _rerank_rounded(wildcard_search(
        spark, out, list(WILDCARD_QUERIES.items()),
        k=BM25_K + _RERANK_MARGIN,
        max_expansions=WILDCARD_MAX_EXP), BM25_K)


QS_QUERIES: dict[int, str] = {
    1: '+spark join filter -slow "table hash"',
    2: 'vector stream +batch wind*',
    3: '"customer join" -dup merge',
}
QS_MAX_EXP = 50


def _query_string_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene query_string mini-language — +must / -must_not / "phrase" /
    wild* / bare should — composed from the engine's own kernels
    (boolquery.query_string_search): term leg through the TAAT kernel
    with range-local clause constraints, phrase leg through the phrase
    kernel, full-outer sum combine."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import query_string_search

    out = _ensure_engine_index(spark, sf_dir)
    res = query_string_search(spark, out, list(QS_QUERIES.items()),
                              k=BM25_K + _RERANK_MARGIN,
                              max_expansions=QS_MAX_EXP)
    return _rerank_rounded(res, BM25_K)


def _qs_oracle_sql() -> str:
    """query_string oracle: weight-1 BM25 over bare + wildcard-expanded
    terms with must/must_not constraints (bool-oracle pattern), plus
    per-phrase BM25-phrase scores summed per doc, full-outer combined;
    phrase-only docs qualify only for must-free queries and never past
    a must_not term."""
    from pdf_to_opensearch_spark.boolquery import parse_query_string

    parsed = {qid: parse_query_string(q) for qid, q in QS_QUERIES.items()}
    bare_vals = ", ".join(
        f"({qid}, '{t}')" for qid in sorted(parsed)
        for t in sorted(set(parsed[qid][0]) | set(parsed[qid][2]))) \
        or "(-1, '')"
    pat_vals = ", ".join(
        f"({qid}, '{w}')" for qid in sorted(parsed)
        for w in parsed[qid][3]) or "(-1, '')"
    must_vals = ", ".join(
        f"({qid}, '{t}')" for qid in sorted(parsed)
        for t in sorted(set(parsed[qid][0]))) or "(-1, '')"
    not_vals = ", ".join(
        f"({qid}, '{t}')" for qid in sorted(parsed)
        for t in sorted(set(parsed[qid][1]))) or "(-1, '')"
    pf_parts = []
    for qid in sorted(parsed):
        for pid, phrase in enumerate(parsed[qid][4]):
            ts = phrase.split()
            cond = " AND ".join(f"t[i+{j}] = '{t}'"
                                for j, t in enumerate(ts))
            pf_expr = (f"len(list_filter(range(1, len(t) - {len(ts) - 2}),"
                       f" i -> {cond}))")
            terms_arr = ", ".join(f"'{t}'" for t in ts)
            pf_parts.append(f"""
  SELECT {qid} AS query_id, {pid} AS pid, doc_id, len(t)::DOUBLE AS dl,
         {pf_expr}::DOUBLE AS pf, [{terms_arr}] AS qterms
  FROM toksl""")
    pf_body = "\n  UNION ALL\n".join(pf_parts) or """
  SELECT -1 AS query_id, 0 AS pid, doc_id, len(t)::DOUBLE AS dl,
         0.0 AS pf, ['x'] AS qterms FROM toksl WHERE false"""
    return f"""
WITH docs0 AS (SELECT * FROM documents),
toksl AS (SELECT doc_id, {_TOKS_SQL} AS t FROM docs0),
toks AS (SELECT doc_id, unnest(t) AS term FROM toksl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toksl),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
vocab AS (SELECT DISTINCT term FROM toks),
qb(query_id, term) AS (VALUES {bare_vals}),
pats(query_id, pat) AS (VALUES {pat_vals}),
expq AS (
  SELECT p.query_id, v.term,
         row_number() OVER (PARTITION BY p.query_id, p.pat
                            ORDER BY v.term) AS rn
  FROM pats p JOIN vocab v ON v.term LIKE p.pat
),
q AS (SELECT query_id, term FROM qb WHERE query_id >= 0
      UNION ALL
      SELECT query_id, term FROM expq WHERE rn <= {QS_MAX_EXP}),
musts(query_id, term) AS (VALUES {must_vals}),
nots(query_id, term) AS (VALUES {not_vals}),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores_b AS (
  SELECT q.query_id, tf.doc_id,
         sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * 2.2
              / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) )
         AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
must_cnt AS (SELECT query_id, count(DISTINCT term) AS nm
             FROM musts WHERE query_id >= 0 GROUP BY 1),
must_ok AS (
  SELECT m.query_id, tf.doc_id
  FROM musts m JOIN tf USING (term)
       JOIN must_cnt mc ON mc.query_id = m.query_id
  GROUP BY 1, 2
  HAVING count(DISTINCT term) = max(mc.nm)
),
qual_b AS (
  SELECT s.* FROM scores_b s
  WHERE (s.query_id NOT IN (SELECT query_id FROM must_cnt)
         OR EXISTS (SELECT 1 FROM must_ok mo
                    WHERE mo.query_id = s.query_id
                      AND mo.doc_id = s.doc_id))
    AND NOT EXISTS (SELECT 1 FROM nots n JOIN tf t2 ON t2.term = n.term
                    WHERE n.query_id = s.query_id
                      AND t2.doc_id = s.doc_id)
),
pf AS ({pf_body}),
term_df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM toks GROUP BY 1
),
idfs AS (
  SELECT p.query_id, p.pid,
         sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))) AS sum_idf
  FROM (SELECT DISTINCT query_id, pid, unnest(qterms) AS term FROM pf) p
  JOIN term_df d USING (term) CROSS JOIN stats s
  GROUP BY 1, 2
),
pscores AS (
  SELECT query_id, doc_id, sum(score) AS score FROM (
    SELECT pf.query_id, pf.doc_id,
           i.sum_idf * pf.pf * 2.2
           / (pf.pf + 1.2 * (1.0 - 0.75 + 0.75 * pf.dl / s.avgdl)) AS score
    FROM pf JOIN idfs i ON i.query_id = pf.query_id AND i.pid = pf.pid
    CROSS JOIN stats s
    WHERE pf.pf >= 1
  ) GROUP BY 1, 2
),
comb AS (
  SELECT coalesce(b.query_id, p.query_id) AS query_id,
         coalesce(b.doc_id, p.doc_id) AS doc_id,
         round(coalesce(b.score, 0.0) + coalesce(p.score, 0.0), 4) AS score
  FROM qual_b b FULL JOIN pscores p
    ON b.query_id = p.query_id AND b.doc_id = p.doc_id
  WHERE b.doc_id IS NOT NULL
     OR (p.query_id NOT IN (SELECT query_id FROM must_cnt)
         AND NOT EXISTS (SELECT 1 FROM nots n JOIN tf t2 ON t2.term = n.term
                         WHERE n.query_id = p.query_id
                           AND t2.doc_id = p.doc_id))
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM comb
) WHERE rank <= {BM25_K}
"""


RESCORE_WINDOW = 20
RESCORE_QW = 1.0
RESCORE_RQW = 0.5
# main match query + secondary match_phrase rescore, keyed identically
RESCORE_QUERIES: dict[int, dict] = {
    1: {"query": "spark join filter", "rescore": "table hash"},
    2: {"query": "vector stream window batch", "rescore": "merge group"},
    3: {"query": "customer the slow", "rescore": "customer join"},
}


def _rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``rescore`` block: top-RESCORE_WINDOW match hits re-ranked by
    qw·match + rqw·phrase (window on rounded scores — the engine's
    deterministic contract) — boolquery.rescore."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import rescore

    out = _ensure_engine_index(spark, sf_dir)
    res = rescore(spark, out, list(RESCORE_QUERIES.items()), k=BM25_K,
                  window_size=RESCORE_WINDOW, query_weight=RESCORE_QW,
                  rescore_weight=RESCORE_RQW)
    return res.select("query_id", F.col("rank").cast("int").alias("rank"),
                      "doc_id", "score")


def _rescore_oracle_sql() -> str:
    """Rescore oracle: rounded BM25 window (top-RESCORE_WINDOW by
    (score desc, doc_id)) left-joined to the rounded phrase scores of
    the paired match_phrase, combined qw·b + rqw·p, rounded, ranked."""
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, t in sorted({(qid, t)
                              for qid, s in RESCORE_QUERIES.items()
                              for t in s["query"].split()}))
    parts = []
    for qid, spec in sorted(RESCORE_QUERIES.items()):
        ts = spec["rescore"].split()
        cond = " AND ".join(f"t[i+{j}] = '{t}'" for j, t in enumerate(ts))
        pf_expr = (f"len(list_filter(range(1, len(t) - {len(ts) - 2}),"
                   f" i -> {cond}))")
        terms_arr = ", ".join(f"'{t}'" for t in ts)
        parts.append(f"""
  SELECT {qid} AS query_id, doc_id, len(t)::DOUBLE AS dl,
         {pf_expr}::DOUBLE AS pf, [{terms_arr}] AS qterms
  FROM toksl""")
    pf_body = "\n  UNION ALL\n".join(parts)
    return f"""
WITH docs0 AS (SELECT * FROM documents),
toksl AS (SELECT doc_id, {_TOKS_SQL} AS t FROM docs0),
toks AS (SELECT doc_id, unnest(t) AS term FROM toksl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toksl),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(query_id, term) AS (VALUES {qvals}),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores_b AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
winw AS (
  SELECT query_id, doc_id, score FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rw
    FROM scores_b
  ) WHERE rw <= {RESCORE_WINDOW}
),
pf AS ({pf_body}),
term_df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM toks GROUP BY 1
),
idfs AS (
  SELECT p.query_id,
         sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))) AS sum_idf
  FROM (SELECT DISTINCT query_id, unnest(qterms) AS term FROM pf) p
  JOIN term_df d USING (term) CROSS JOIN stats s
  GROUP BY 1
),
scores_p AS (
  SELECT pf.query_id, pf.doc_id,
         round(i.sum_idf * pf.pf * 2.2
               / (pf.pf + 1.2 * (1.0 - 0.75 + 0.75 * pf.dl / s.avgdl)),
               4) AS score
  FROM pf JOIN idfs i USING (query_id) CROSS JOIN stats s
  WHERE pf.pf >= 1
),
comb AS (
  SELECT w.query_id, w.doc_id,
         round({RESCORE_QW!r} * w.score
               + {RESCORE_RQW!r} * coalesce(p.score, 0.0), 4) AS score
  FROM winw w LEFT JOIN scores_p p USING (query_id, doc_id)
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM comb
) WHERE rank <= {BM25_K}
"""


BOOSTING_QUERIES: dict[int, dict] = {
    1: {"positive": "spark join filter", "negative": "slow"},
    2: {"positive": "vector stream window batch", "negative": "scan sort"},
    3: {"positive": "customer the", "negative": "dup"},
}
NEG_BOOST = 0.5


def _boosting_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``boosting`` query: positive BM25 hits demoted (×0.5, not
    excluded) when they also match the negative query — full positive
    hit set scored, range-local negative flagging, ranked after
    demotion (boolquery.boosting_search)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import boosting_search

    out = _ensure_engine_index(spark, sf_dir)
    res = boosting_search(spark, out, list(BOOSTING_QUERIES.items()),
                          k=BM25_K + _RERANK_MARGIN,
                          negative_boost=NEG_BOOST)
    return _rerank_rounded(res, BM25_K)


def _boosting_oracle_sql() -> str:
    """Boosting-query oracle: unrounded positive BM25 sums, demoted by
    NEG_BOOST where the doc contains ANY negative term, rounded once,
    ranked (score desc, doc_id)."""
    pos_vals = ", ".join(
        f"({qid}, '{t}')"
        for qid, t in sorted({(qid, t)
                              for qid, s in BOOSTING_QUERIES.items()
                              for t in s["positive"].split()}))
    neg_vals = ", ".join(
        f"({qid}, '{t}')"
        for qid, t in sorted({(qid, t)
                              for qid, s in BOOSTING_QUERIES.items()
                              for t in s["negative"].split()}))
    return f"""
WITH docs0 AS (SELECT * FROM documents),
q(query_id, term) AS (VALUES {pos_vals}),
nq(query_id, term) AS (VALUES {neg_vals}),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
neg AS (
  SELECT DISTINCT nq.query_id, tf.doc_id
  FROM tf JOIN nq USING (term)
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * 2.2
              / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) )
         AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
demoted AS (
  SELECT sc.query_id, sc.doc_id,
         round(sc.score * CASE WHEN n.doc_id IS NULL THEN 1.0
                               ELSE {NEG_BOOST!r} END, 4) AS score
  FROM scores sc
  LEFT JOIN neg n ON n.query_id = sc.query_id AND n.doc_id = sc.doc_id
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM demoted
) WHERE rank <= {BM25_K}
"""


# RegexpQuery patterns (portable RE2/Java core: classes, alternation,
# repetition) — full-term anchored on both sides
REGEXP_QUERIES: dict[int, str] = {1: "s(can|ort|park)", 2: "[bf]a.*",
                                  3: "w.ndow|qu.ry"}
REGEXP_MAX_EXP = 50


def _regexp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexpQuery under the scoring_boolean rewrite: one anchored
    column-valued-RLIKE dictionary pass, term-order cut, idf-weighted
    disjunction — boolquery.regexp_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import regexp_search

    out = _ensure_engine_index(spark, sf_dir)
    return _rerank_rounded(regexp_search(
        spark, out, list(REGEXP_QUERIES.items()),
        k=BM25_K + _RERANK_MARGIN,
        max_expansions=REGEXP_MAX_EXP), BM25_K)


def _regexp_oracle_sql() -> str:
    """RegexpQuery oracle: regexp_full_match expansion of the pattern
    over the corpus vocab in term order, first REGEXP_MAX_EXP, weight-1
    idf disjunction (same core as wildcard)."""
    pat_vals = ", ".join(f"({qid}, '{p}')"
                         for qid, p in sorted(REGEXP_QUERIES.items()))
    return f"""
WITH docs0 AS (SELECT * FROM documents),
pats(query_id, pat) AS (VALUES {pat_vals}),
toks0 AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
vocab AS (SELECT DISTINCT term FROM toks0),
exp AS (
  SELECT p.query_id, v.term,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY v.term) AS rn
  FROM pats p JOIN vocab v ON regexp_full_match(v.term, p.pat)
),
q AS (SELECT query_id, term FROM exp WHERE rn <= {REGEXP_MAX_EXP}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks0 GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


def _mlt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """more_like_this seeded by an indexed doc: top tf·idf terms of the
    seed (min_term_freq/min_doc_freq gates) run as a TermQuery
    disjunction, seed excluded — boolquery.more_like_this."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import more_like_this

    out = _ensure_engine_index(spark, sf_dir)
    return _rerank_rounded(more_like_this(
        spark, out, list(MLT_SEEDS.items()), k=BM25_K + _RERANK_MARGIN,
        max_query_terms=MLT_MAX_TERMS, min_term_freq=MLT_MIN_TF,
        min_doc_freq=MLT_MIN_DF), BM25_K)


def _multi_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi_match most_fields over (text, text_prev) with boosts
    (1.0, 0.5): per-field BM25 (own postings/norms/df per posting space)
    summed per doc in ONE per-range kernel — multimatch.multi_match."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.fields import build_field_index
    from pdf_to_opensearch_spark.multimatch import multi_match

    out = _ensure_engine_index(spark, sf_dir)
    if out not in _FIELD_INDEXES:
        build_field_index(spark, out, "text_prev")
        _FIELD_INDEXES.add(out)
    return _rerank_rounded(multi_match(
        spark, out, list(BM25_QUERIES.items()), dict(MULTI_FIELDS),
        k=BM25_K + _RERANK_MARGIN, mode="most_fields"), BM25_K)


def _multi_match_best_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi_match best_fields (DisjunctionMaxQuery, tie_breaker 0): max
    of the boosted per-field BM25 totals per doc."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.fields import build_field_index
    from pdf_to_opensearch_spark.multimatch import multi_match

    out = _ensure_engine_index(spark, sf_dir)
    if out not in _FIELD_INDEXES:
        build_field_index(spark, out, "text_prev")
        _FIELD_INDEXES.add(out)
    return _rerank_rounded(multi_match(
        spark, out, list(BM25_QUERIES.items()), dict(MULTI_FIELDS),
        k=BM25_K + _RERANK_MARGIN, mode="best_fields"), BM25_K)


DISMAX_TB = 0.3


def _dismax_tb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DisjunctionMaxQuery with a non-zero tie_breaker (the dis_max
    query type): best field's score plus 0.3 × the runner-up fields'
    total — multimatch.multi_match(mode='best_fields', tie_breaker)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.fields import build_field_index
    from pdf_to_opensearch_spark.multimatch import multi_match

    out = _ensure_engine_index(spark, sf_dir)
    if out not in _FIELD_INDEXES:
        build_field_index(spark, out, "text_prev")
        _FIELD_INDEXES.add(out)
    return _rerank_rounded(multi_match(
        spark, out, list(BM25_QUERIES.items()), dict(MULTI_FIELDS),
        k=BM25_K + _RERANK_MARGIN, mode="best_fields",
        tie_breaker=DISMAX_TB), BM25_K)


def _fuzzy_oracle_sql() -> str:
    """FuzzyQuery oracle: expansion = corpus vocab within FUZZY_MAX_EDITS
    of each source token, ranked (levenshtein asc, term asc), first
    FUZZY_MAX_EXP; per-row weight (1 − d/len(src)); score = Σ over
    (src, term) rows of w·idf·tfnorm — the engine folds the same sum into
    per-term weights before the kernel."""
    src_vals = ", ".join(f"({qid}, '{t}')"
                         for qid, q in sorted(FUZZY_QUERIES.items())
                         for t in q.split())
    return f"""
WITH docs0 AS (SELECT * FROM documents),
srcs(query_id, src) AS (VALUES {src_vals}),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
vocab AS (SELECT DISTINCT term FROM toks),
exp AS (
  SELECT s.query_id, s.src, v.term,
         levenshtein(v.term, s.src) AS dist,
         row_number() OVER (PARTITION BY s.query_id, s.src
                            ORDER BY levenshtein(v.term, s.src),
                                     v.term) AS rn
  FROM srcs s JOIN vocab v ON levenshtein(v.term, s.src)
                              <= {FUZZY_MAX_EDITS}
),
q AS (
  SELECT query_id, term, 1.0 - dist::DOUBLE / length(src) AS w
  FROM exp WHERE rn <= {FUZZY_MAX_EXP} AND dist < length(src)
),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( q.w * ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


def _wildcard_oracle_sql() -> str:
    """WildcardQuery oracle: LIKE expansion of the translated pattern
    (*→%, ?→_) over the corpus vocab in term order, first
    WILDCARD_MAX_EXP, weight-1 idf disjunction (same core as prefix)."""
    pat_vals = ", ".join(
        f"({qid}, '{p.lower().replace('*', '%').replace('?', '_')}')"
        for qid, p in sorted(WILDCARD_QUERIES.items()))
    return f"""
WITH docs0 AS (SELECT * FROM documents),
pats(query_id, pat) AS (VALUES {pat_vals}),
toks0 AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
vocab AS (SELECT DISTINCT term FROM toks0),
exp AS (
  SELECT p.query_id, v.term,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY v.term) AS rn
  FROM pats p JOIN vocab v ON v.term LIKE p.pat
),
q AS (SELECT query_id, term FROM exp WHERE rn <= {WILDCARD_MAX_EXP}),
toks AS (SELECT * FROM toks0),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


def _mlt_oracle_sql() -> str:
    """more_like_this oracle: seed tf from the seed doc's tokens, term
    selection by round(tf·idf, 6) desc / term asc under the
    min_term_freq / min_doc_freq gates, first MLT_MAX_TERMS; then the
    weight-1 BM25 core over the selected terms, seed doc excluded."""
    seed_vals = ", ".join(f"({qid}, {d})"
                          for qid, d in sorted(MLT_SEEDS.items()))
    return f"""
WITH docs0 AS (SELECT * FROM documents),
seeds(query_id, seed_id) AS (VALUES {seed_vals}),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq_all AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sel AS (
  SELECT s.query_id, tf.term,
         row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY round(tf.tf * ln(1.0 + (st.n - d.df + 0.5)
                                             / (d.df + 0.5)), 6) DESC,
                      tf.term) AS rn
  FROM seeds s
  JOIN tf ON tf.doc_id = s.seed_id AND tf.tf >= {MLT_MIN_TF}
  JOIN dfreq_all d ON d.term = tf.term AND d.df >= {MLT_MIN_DF}
  CROSS JOIN stats st
),
q AS (SELECT query_id, term FROM sel WHERE rn <= {MLT_MAX_TERMS}),
dfreq AS (
  SELECT term, df FROM dfreq_all
  WHERE term IN (SELECT DISTINCT term FROM q)
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
qual AS (
  SELECT sc.* FROM scores sc
  JOIN seeds s USING (query_id)
  WHERE sc.doc_id <> s.seed_id
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM qual
) WHERE rank <= {BM25_K}
"""


def _mm_oracle_sql(mode: str, tie_breaker: float = 0.0) -> str:
    """multi_match oracle: one UNROUNDED weight-1 BM25 stack per field
    (current text; derived lag(text) with its own stats), boosted and
    combined per (query_id, doc_id) by sum (most_fields) or max
    (best_fields; with ``tie_breaker`` the DisjunctionMaxQuery blend
    max + tb·(sum − max)), rounded once at the end."""
    if mode == "best_fields" and tie_breaker > 0.0:
        agg = (f"max(score) + {tie_breaker!r} * (sum(score) - max(score))")
    else:
        agg = ("max(score)" if mode == "best_fields" else "sum(score)")
    b_cur, b_prev = MULTI_FIELDS["text"], MULTI_FIELDS["text_prev"]

    def field_stack(tag: str, src: str) -> str:
        return f"""toks{tag} AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM {src}
),
tf{tag} AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
            FROM toks{tag} GROUP BY 1, 2),
dl{tag} AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM {src}),
stats{tag} AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
               FROM dl{tag}),
dfreq{tag} AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf{tag}
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores{tag} AS (
  SELECT q.query_id, tf{tag}.doc_id,
         sum( ln(1.0 + (s.n - dfreq{tag}.df + 0.5) / (dfreq{tag}.df + 0.5))
              * tf{tag}.tf * 2.2
              / (tf{tag}.tf + 1.2 * (1.0 - 0.75
                                     + 0.75 * dl{tag}.dl / s.avgdl)) )
         AS score
  FROM tf{tag}
  JOIN q USING (term) JOIN dfreq{tag} USING (term)
  JOIN dl{tag} USING (doc_id)
  CROSS JOIN stats{tag} s
  GROUP BY 1, 2
)"""

    return f"""
WITH cur AS (SELECT doc_id, text FROM documents),
prev AS ({_FIELD_DOCS_SRC}),
q(query_id, term) AS (VALUES {_qvals(BM25_QUERIES)}),
{field_stack('1', 'cur')},
{field_stack('2', 'prev')},
uni AS (
  SELECT query_id, doc_id, {b_cur} * score AS score FROM scores1
  UNION ALL
  SELECT query_id, doc_id, {b_prev} * score AS score FROM scores2
),
comb AS (
  SELECT query_id, doc_id, round({agg}, 4) AS score
  FROM uni GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM comb
) WHERE rank <= {BM25_K}
"""


# ------------------------------------------------------- corpus statistics


def _corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    dl = docs.select("doc_id", _ntokens(F.col("text")).alias("dl"))
    return dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
        F.sum("dl").cast("long").alias("total_tokens"))


_CORPUS_STATS_SQL = f"""
WITH dl AS (
  SELECT doc_id, len({_TOKS_SQL}) AS dl FROM documents
)
SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl,
       sum(dl)::BIGINT AS total_tokens
FROM dl
"""


def _term_df_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").count()
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    return (dfreq.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 50)
            .select("rank", "term", "df"))


_TERM_DF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY 1
)
SELECT rank, term, df FROM (
  SELECT row_number() OVER (ORDER BY df DESC, term)::INTEGER AS rank, term, df
  FROM dfreq
) WHERE rank <= 50
"""


def _doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", _ntokens(F.col("text")).cast("long").alias("n_tokens"))


_DOC_TOKEN_SQL = f"SELECT doc_id, len({_TOKS_SQL})::BIGINT AS n_tokens FROM documents"


# ----------------------------------------------- generic operator oracles


def _w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prev/next context (uploader.py:126-148 semantics) on lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # (l_orderkey, l_linenumber) is NOT unique in the testdata — order by a
    # full deterministic key so ties are only between identical tuples
    order_cols = ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
                  "l_extendedprice", "l_discount", "l_tax"]
    w = Window.partitionBy("l_orderkey").orderBy(*order_cols)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.lead("l_quantity").over(w).alias("next_qty"))


_W2_SQL = """
SELECT l_orderkey, l_linenumber,
       lag(l_quantity) OVER w AS prev_qty,
       lead(l_quantity) OVER w AS next_qty
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                      l_extendedprice, l_discount, l_tax)
"""


def _a1_modal_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted modal argmax (text_based:241-275 semantics): per brand, the
    part type with the largest summed retail price."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    g = part.groupBy("p_brand", "p_type").agg(
        F.round(F.sum("p_retailprice"), 4).alias("wt"))
    w = Window.partitionBy("p_brand").orderBy(
        F.col("wt").desc(), F.col("p_type").asc())
    return (g.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("p_brand", F.col("p_type").alias("modal_type"), "wt"))


_A1_SQL = """
SELECT p_brand, modal_type, wt FROM (
  SELECT p_brand, p_type AS modal_type, round(sum(p_retailprice), 4) AS wt,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY round(sum(p_retailprice), 4) DESC,
                                     p_type) AS rn
  FROM part GROUP BY p_brand, p_type
) WHERE rn = 1
"""


def _w7_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked top-k per group (the _score-ordered hits shape, W7)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (orders.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 3)
            .select("o_custkey", "rank", "o_orderkey",
                    F.round("o_totalprice", 2).alias("total")))


_W7_SQL = """
SELECT o_custkey, rank, o_orderkey, total FROM (
  SELECT o_custkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey)::INTEGER
           AS rank,
         o_orderkey, round(o_totalprice, 2) AS total
  FROM orders
) WHERE rank <= 3
"""


def _f4_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (overlap exclusion semantics, F4/J10/U2). Orders are
    restricted to o_orderkey % 3 = 0 so the excluded set is non-trivial
    (customers whose every order has orderkey % 3 != 0 survive)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .filter(F.col("o_orderkey") % 3 == 0))
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


_F4_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0)
"""


def _w5_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (text_based:145-210 semantics) on events:
    new session when >30 min elapses between a user's events."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    flagged = ev.withColumn(
        "new_sess",
        F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0))
    return (flagged.groupBy("user_id")
            .agg((F.sum("new_sess") + 1).cast("long").alias("n_sessions"),
                 F.count("*").cast("long").alias("n_events")))


_W5_SQL = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, (sum(new_sess) + 1)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM flagged GROUP BY user_id
"""


def _a4_repeated_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-pattern detection (header/footer analogue, A4,
    text_based:372-482): digit-stripped 30-char prefixes occurring ≥3×."""
    docs = _docs(spark, sf_dir)
    pat = F.regexp_replace(F.substring("text", 1, 30), "[0-9]+", "")
    return (docs.select(pat.alias("pattern"))
            .groupBy("pattern").agg(F.count("*").cast("long").alias("n"))
            .filter(F.col("n") >= 3))


_A4_SQL = """
SELECT pattern, n FROM (
  SELECT regexp_replace(substr(text, 1, 30), '[0-9]+', '', 'g') AS pattern,
         count(*)::BIGINT AS n
  FROM documents GROUP BY 1
) WHERE n >= 3
"""


# ---------------------------------------------------------- pipeline ops


def _a3_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 median (the median-line-height analogue, text_based:~520):
    EXACT interpolated median per group (not percentile_approx — the
    oracle must hash-match)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.groupBy("l_suppkey")
            .agg(F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4)
                 .alias("median_price"),
                 F.count("*").cast("long").alias("n")))


_A3_SQL = """
SELECT l_suppkey, round(quantile_cont(l_extendedprice, 0.5), 4)
         AS median_price,
       count(*)::BIGINT AS n
FROM lineitem GROUP BY 1
"""


def _w6_para_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 incomplete-paragraph carry (chunker.py:44-68 shape): lines whose
    predecessor did NOT terminate merge into its paragraph — a running sum
    over a lag flag assigns paragraph ids; aggregates per paragraph."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    lines = part.select(
        "p_brand", F.col("p_partkey").alias("ord"),
        F.length("p_name").alias("chars"),
        # deterministic 'line terminates a paragraph' flag
        (F.col("p_partkey") % 3 == 0).cast("int").alias("terminal"))
    w = Window.partitionBy("p_brand").orderBy("ord")
    para = (lines
            .withColumn("starts_new",
                        F.coalesce(F.lag("terminal").over(w), F.lit(1)))
            .withColumn("para_id",
                        F.sum("starts_new").over(
                            w.rowsBetween(Window.unboundedPreceding, 0))))
    return (para.groupBy("p_brand", "para_id")
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum("chars").cast("long").alias("chars"),
                 F.min("ord").alias("first_ord")))


_W6_SQL = """
WITH lines AS (
  SELECT p_brand, p_partkey AS ord, length(p_name) AS chars,
         CASE WHEN p_partkey % 3 = 0 THEN 1 ELSE 0 END AS terminal
  FROM part
),
para AS (
  SELECT *, sum(starts_new) OVER (PARTITION BY p_brand ORDER BY ord
                                  ROWS UNBOUNDED PRECEDING) AS para_id
  FROM (
    SELECT *, coalesce(lag(terminal) OVER (PARTITION BY p_brand
                                           ORDER BY ord), 1) AS starts_new
    FROM lines
  )
)
SELECT p_brand, para_id::BIGINT AS para_id, count(*)::BIGINT AS n_lines,
       sum(chars)::BIGINT AS chars, min(ord) AS first_ord
FROM para GROUP BY 1, 2
"""


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the corpus with PLANTED duplicates (every 50th doc
    re-appears under doc_id+1000000) so the oracle verifies non-trivial
    duplicate groups, not a hash-match on the empty set."""
    from pdf_to_opensearch_spark.ops.dedup import exact_dedup

    _ensure_pkg(spark)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = (docs.filter(F.col("doc_id") % 50 == 0)
               .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return exact_dedup(docs.unionByName(planted))


_DEDUP_EXACT_SQL = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
)
SELECT md5(text) AS content_hash, count(*)::BIGINT AS n_docs,
       min(doc_id) AS keeper_id
FROM all_docs GROUP BY 1 HAVING count(*) >= 2
"""


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_to_opensearch_spark.ops.textstats import fingerprints

    _ensure_pkg(spark)
    return fingerprints(_docs(spark, sf_dir))


def _quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_to_opensearch_spark.ops.textstats import quality_scores

    _ensure_pkg(spark)
    return quality_scores(_docs(spark, sf_dir))


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_to_opensearch_spark.ops.textstats import lang_id

    _ensure_pkg(spark)
    return lang_id(_docs(spark, sf_dir))


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard ≥ 0.7 (fused
    single-shingle-pass pipeline; SQL Jaccard oracle over LSH candidates
    is checked separately by ``jaccard_verify``)."""
    from pdf_to_opensearch_spark.ops.dedup import minhash_near_duplicates

    _ensure_pkg(spark)
    return minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.7)


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_to_opensearch_spark.ops.dedup import simhash_near_pairs

    _ensure_pkg(spark)
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS (connected components, min-label
    propagation): the post-pair step a real dedup pipeline needs —
    transitive chains (A~B, B~C, A!~C) become one keep-group. Runs the
    md5-family pipeline so the oracle reproduces EVERYTHING in SQL:
    shingles → signatures → banding → verification → a recursive-CTE
    closure over the verified pairs."""
    from pdf_to_opensearch_spark.ops.dedup import (
        duplicate_clusters,
        minhash_near_duplicates,
    )

    _ensure_pkg(spark)
    pairs = minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.7,
                                    hash_family="md5")
    return duplicate_clusters(pairs).select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("doc_id").cast("long").alias("doc_id"))


def _dedup_clusters_oracle_sql() -> str:
    inner = _minhash_md5_oracle_sql()
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  {inner}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
cnodes AS (SELECT DISTINCT src AS id FROM edges),
cc(id, label) AS (
  SELECT id, id FROM cnodes
  UNION
  SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.id
)
SELECT min(label)::BIGINT AS cluster_id, id::BIGINT AS doc_id
FROM cc GROUP BY id
"""


def _clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning pass (ops/pipeline.clean_corpus):
    quality gates → exact-dup keeper → near-dup cluster keeper, one fate
    per doc. Input plants exact duplicates (the _dedup_exact pattern) so
    all four fates are non-trivially populated; md5 family so the oracle
    reproduces every stage in SQL."""
    from pdf_to_opensearch_spark.ops.pipeline import clean_corpus

    _ensure_pkg(spark)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = (docs.filter(F.col("doc_id") % 50 == 0)
               .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return clean_corpus(docs.unionByName(planted), min_tokens=20,
                        min_alpha_ratio=0.4, near_threshold=0.7,
                        hash_family="md5")


def _clean_corpus_oracle_sql(min_tokens: int = 20,
                             min_alpha: float = 0.4) -> str:
    pairs_inner = _minhash_md5_oracle_sql(table="survivors")
    return f"""
WITH RECURSIVE all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
),
qfeat AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'),
                         t -> t <> '')) AS n_tokens,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
           / greatest(length(text), 1) AS alpha
  FROM all_docs
),
qok AS (
  SELECT doc_id,
         (n_tokens >= {min_tokens} AND alpha >= {min_alpha}) AS q_ok
  FROM qfeat
),
passers AS (
  SELECT d.doc_id, d.text FROM all_docs d JOIN qok USING (doc_id)
  WHERE q_ok
),
keepers AS (
  SELECT md5(text) AS h, min(doc_id) AS keeper FROM passers GROUP BY 1
),
exact_dup AS (
  SELECT p.doc_id FROM passers p JOIN keepers k ON md5(p.text) = k.h
  WHERE p.doc_id <> k.keeper
),
survivors AS MATERIALIZED (
  SELECT * FROM passers
  WHERE doc_id NOT IN (SELECT doc_id FROM exact_dup)
),
pairs AS MATERIALIZED (
  {pairs_inner}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
cnodes AS (SELECT DISTINCT src AS id FROM edges),
cc(id, label) AS (
  SELECT id, id FROM cnodes
  UNION
  SELECT e.dst, c.label FROM cc c JOIN edges e ON e.src = c.id
),
comp AS (SELECT id AS doc_id, min(label) AS cluster_id FROM cc GROUP BY 1),
near_dup AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
SELECT q.doc_id,
       CASE WHEN NOT q.q_ok THEN 'quality'
            WHEN q.doc_id IN (SELECT doc_id FROM exact_dup) THEN 'exact_dup'
            WHEN q.doc_id IN (SELECT doc_id FROM near_dup) THEN 'near_dup'
            ELSE 'kept' END AS fate
FROM qok q
"""


def _minhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME LSH banding + Jaccard-verification pipeline as
    ``minhash_pairs`` but on the md5 shared hash family — every stage
    (signatures, banding buckets, bucket guard, candidate join, exact
    Jaccard) is reproduced in the DuckDB oracle, so the whole pipeline is
    hash-checked, not just the verification."""
    from pdf_to_opensearch_spark.ops.dedup import minhash_near_duplicates

    _ensure_pkg(spark)
    return minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.7,
                                   hash_family="md5")


def _simhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs on the md5 shared family (60-bit): the pigeonhole
    candidate join is EXACT for hamming ≤ 3, so the output equals the SQL
    all-pairs popcount filter."""
    from pdf_to_opensearch_spark.ops.dedup import simhash_near_pairs

    _ensure_pkg(spark)
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3,
                              hash_family="md5")


# Expected simhash_pairs (xxhash64 family) pair set on the sf0.01 corpus —
# the driver's correctness sf. Hamming balls over xxhash64 are not
# SQL-computable, so this oracle is a literal of the expected OUTPUT,
# independently derived by tools/derive_simhash_pairs.py: a pure-Python
# spec transcription of XXH64 (self-checked against the official sanity
# vectors) + the frozen analyzer regex + a longhand tf-weighted bit vote +
# all-pairs Hamming — none of the engine's Spark pipeline is imported.
# Re-derive with `python tools/derive_simhash_pairs.py /root/testdata/sf0.01`
# if the driver corpus ever changes.
_SIMHASH_XX_VALUES = """
  (8, 245, 2), (45, 413, 3), (58, 293, 0), (61, 185, 0), (70, 447, 1),
  (76, 102, 2), (98, 290, 2), (107, 387, 1), (120, 332, 3), (166, 323, 3),
  (251, 473, 3), (267, 413, 2), (285, 301, 0), (326, 457, 2), (393, 420, 0),
  (435, 486, 3), (458, 462, 2)
"""

_SIMHASH_XX_SQL = f"""
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, hamming::INTEGER AS hamming
FROM (VALUES {_SIMHASH_XX_VALUES}) AS t(id_a, id_b, hamming)
"""


_MD5_60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
_MINHASH_H, _MINHASH_BANDS = 32, 8


def _minhash_md5_oracle_sql(num_hashes: int = _MINHASH_H,
                            bands: int = _MINHASH_BANDS,
                            threshold: float = 0.7,
                            max_bucket: int = 1000,
                            table: str = "documents") -> str:
    rows = num_hashes // bands
    seeded = [_MD5_60.format(x=f"shingle || ':{i}'")
              for i in range(num_hashes)]
    sig_cols = ",\n         ".join(
        f"min({seeded[i]}) AS sig_{i}" for i in range(num_hashes))
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT id, {b} AS band, {key} AS bucket FROM sig".format(
            b=b, key=" || ',' || ".join(
                f"sig_{b*rows+r}::VARCHAR" for r in range(rows)))
        for b in range(bands))
    return f"""
WITH toks AS (
  SELECT doc_id AS id, {_TOKS_SQL} AS t FROM {table}
),
sh AS (
  SELECT DISTINCT id,
         unnest(list_transform(range(1, len(t)-1),
                               i -> array_to_string(t[i:i+2], ' '))) AS shingle
  FROM toks WHERE len(t) >= 3
),
sig AS (
  SELECT id, {sig_cols}
  FROM sh GROUP BY id
),
banded AS (
  {band_selects}
),
guarded AS (
  SELECT id, band, bucket FROM (
    SELECT id, band, bucket,
           count(*) OVER (PARTITION BY band, bucket) AS bn
    FROM banded
  ) WHERE bn <= {max_bucket}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM guarded a
  JOIN guarded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
sizes AS (SELECT id, count(*)::BIGINT AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS i
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  JOIN cand c ON c.id_a = a.id AND c.id_b = b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = inter.id_a
JOIN sizes sb ON sb.id = inter.id_b
WHERE i / (sa.sz + sb.sz - i) >= {threshold}
"""


def _jaccard_allpairs_oracle_sql(threshold: float = 0.7) -> str:
    """Oracle for the xxhash64 ``minhash_pairs`` entry: ALL pairs with
    exact shingle-Jaccard ≥ threshold, banding omitted.

    Sound because (a) the pipeline's verification stage computes the SAME
    exact Jaccard over the same distinct-shingle sets, so emitted values
    are hash-family-independent, and (b) on this corpus LSH recall is 1:
    every true pair has J ≥ 0.8 (next pair down is at J ≈ 0.14) and
    P(all 8 bands miss | J = 0.8, r = 4) ≈ 1.5% — verified empirically
    (emitted set == all-pairs set at sf0.01 AND sf0.1, deterministic
    hashes so the equality is stable). The md5 twin separately
    hash-checks the banding/bucket-guard stages themselves."""
    return f"""
WITH toks AS (
  SELECT doc_id AS id, {_TOKS_SQL} AS t FROM documents
),
sh AS (
  SELECT DISTINCT id,
         unnest(list_transform(range(1, len(t)-1),
                               i -> array_to_string(t[i:i+2], ' '))) AS shingle
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT id, count(*)::BIGINT AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS i
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = inter.id_a
JOIN sizes sb ON sb.id = inter.id_b
WHERE i / (sa.sz + sb.sz - i) >= {threshold}
"""


def _simhash_md5_oracle_sql(max_hamming: int = 3) -> str:
    hv = _MD5_60.format(x="term")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf, {hv} AS hv FROM tf),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (hv >> b) & 1 = 1 THEN tf ELSE -tf END) AS v
  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bits
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS s
  FROM votes GROUP BY 1
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.s, b.s))::INTEGER AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}
"""


def _ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_to_opensearch_spark.ops.similarity import cosine_topk

    _ensure_pkg(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # sims omitted from output: rank order is the value under test (float
    # noise across engines would break the value-hash, ranks don't)
    return cosine_topk(emb, ANN_QUERY_IDS, k=ANN_K).select(
        "query_id", "rank", "vec_id")


_ANN_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({', '.join(map(str, ANN_QUERY_IDS))})
),
sims AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv, e.embedding) AS sim
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id)::INTEGER AS rank,
         vec_id
  FROM sims
) WHERE rank <= {ANN_K}
"""


def _ann_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN under the reference mapping's DEFAULT space_type — l2
    (opensearch_loader.py:201-216 method_config): score 1/(1+d²), rank
    ≡ euclidean distance ascending; same one-GEMM-per-batch kernel."""
    from pdf_to_opensearch_spark.ops.similarity import cosine_topk

    _ensure_pkg(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, ANN_QUERY_IDS, k=ANN_K, space="l2").select(
        "query_id", "rank", "vec_id")


_ANN_L2_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({', '.join(map(str, ANN_QUERY_IDS))})
),
sims AS (
  SELECT q.query_id, e.vec_id,
         list_distance(q.qv, e.embedding) AS d
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d ASC, vec_id)::INTEGER AS rank,
         vec_id
  FROM sims
) WHERE rank <= {ANN_K}
"""


CHUNK_CS = 120  # small chunk budget so sf docs exercise real packing


LSH_PLANES = 4
LSH_SEED = 42
LSH_DIM = 64


def _embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the corpus with PLANTED exact
    copies (every 25th vector re-appears as vec_id+100000); cosine is a
    pure zip_with/aggregate JVM expression, exact all-pairs mode so the
    SQL oracle reproduces the full result."""
    from pdf_to_opensearch_spark.ops.similarity import cosine_near_duplicates

    _ensure_pkg(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    planted = (emb.filter(F.col("vec_id") % 25 == 0)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       "embedding"))
    return cosine_near_duplicates(emb.unionByName(planted), threshold=0.9,
                                  method="exact")


_EMB_DUPS_SQL = """
WITH all_e AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
  WHERE vec_id % 25 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM all_e a JOIN all_e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9
"""


def _lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: hyperplane-LSH bucketing + exact in-bucket re-rank.
    The seeded plane matrix is generated once here and INLINED into the
    SQL oracle, so candidate generation AND re-ranking are both checked."""
    from pdf_to_opensearch_spark.ops.similarity import lsh_topk

    _ensure_pkg(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_topk(emb, ANN_QUERY_IDS, k=ANN_K, n_planes=LSH_PLANES,
                    seed=LSH_SEED, dim=LSH_DIM).select(
        "query_id", "rank", "vec_id")


def _lsh_oracle_sql() -> str:
    import numpy as np

    rng = np.random.default_rng(LSH_SEED)
    planes = rng.standard_normal((LSH_PLANES, LSH_DIM))
    plane_lits = [
        "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in planes
    ]
    bucket_expr = " + ".join(
        f"(CASE WHEN list_inner_product(embedding, {plane_lits[p]}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(LSH_PLANES))
    qids = ", ".join(map(str, ANN_QUERY_IDS))
    return f"""
WITH b AS (
  SELECT vec_id, embedding, ({bucket_expr}) AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
  WHERE vec_id IN ({qids})
),
cand AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv, e.embedding) AS sim
  FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id)::INTEGER AS rank,
         vec_id
  FROM cand
) WHERE rank <= {ANN_K}
"""


IVF_CELLS = 8
IVF_PROBE = 2
IVF_SEED = 7


def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the second scale path next to LSH): seeded coarse
    centroids, argmax-dot cell assignment, n_probe-cell exact re-rank.
    Oracle inlines the centroid literals (same pattern as the LSH
    hyperplane oracle)."""
    from pdf_to_opensearch_spark.ops.similarity import ivf_topk

    _ensure_pkg(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(emb, ANN_QUERY_IDS, k=ANN_K, n_cells=IVF_CELLS,
                    n_probe=IVF_PROBE, seed=IVF_SEED, dim=LSH_DIM)


def _ivf_oracle_sql() -> str:
    import numpy as np

    rng = np.random.default_rng(IVF_SEED)
    centroids = rng.standard_normal((IVF_CELLS, LSH_DIM))
    cvals = ", ".join(
        "({}, [{}])".format(c, ", ".join(repr(float(x))
                                         for x in centroids[c]))
        for c in range(IVF_CELLS))
    qids = ", ".join(map(str, ANN_QUERY_IDS))
    return f"""
WITH c(cell, cv) AS (VALUES {cvals}),
ranked AS (
  SELECT e.vec_id, e.embedding, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_inner_product(e.embedding, c.cv)
                                     DESC, c.cell) AS rn
  FROM embeddings e CROSS JOIN c
),
assign AS (
  SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, cell FROM ranked
  WHERE vec_id IN ({qids}) AND rn <= {IVF_PROBE}
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({qids})
),
cand AS (
  SELECT qp.query_id, a.vec_id,
         list_cosine_similarity(q.qv, a.embedding) AS sim
  FROM qprobe qp
  JOIN assign a ON a.cell = qp.cell
  JOIN q ON q.query_id = qp.query_id
  WHERE a.vec_id <> qp.query_id
)
SELECT query_id, rank, vec_id FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id)::INTEGER AS rank,
         vec_id
  FROM cand
) WHERE rank <= {ANN_K}
"""


def _bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts (the brief's token-counting op;
    frozen lookahead-free GPT-2-style pre-tokenizer, ops/textstats.py)."""
    from pdf_to_opensearch_spark.ops.textstats import token_counts

    _ensure_pkg(spark)
    return token_counts(_docs(spark, sf_dir))


def _bpe_oracle() -> str:
    from pdf_to_opensearch_spark.ops.textstats import token_counts_oracle_sql

    return token_counts_oracle_sql()


def _stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 watermarked tumbling-window aggregation
    (streaming.windowed_event_counts) run in its batch-equivalent form —
    the SAME operator the streaming tests drive through a file-source
    query; window starts emitted as epoch seconds so the oracle is
    timezone-proof."""
    from pdf_to_opensearch_spark.streaming import windowed_event_counts

    _ensure_pkg(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev, window="5 minutes",
                                watermark="10 minutes")
    return out.select(F.unix_timestamp("window_start").alias("win_start_s"),
                      "event_type", "n")


_STREAM_WIN_SQL = """
SELECT (floor(epoch(ts) / 300) * 300)::BIGINT AS win_start_s,
       event_type, count(*)::BIGINT AS n
FROM events GROUP BY 1, 2
"""


def _chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic chunker (C3-C5 packing rule) over sentence-enriched
    documents ('. ' planted at every ' the ' so the split/pack/hard-slice
    paths all fire), checked against a recursive-CTE DuckDB oracle that
    simulates the greedy packing state machine exactly."""
    from pdf_to_opensearch_spark.chunking import chunk_docs

    _ensure_pkg(spark)
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.regexp_replace("text", " the ", ". ").alias("text"),
        "lang")
    chunks = chunk_docs(docs, chunk_size=CHUNK_CS)
    return (chunks.groupBy("url")
            .agg(F.count("*").cast("long").alias("n_chunks"),
                 F.sum(F.length("content")).cast("long").alias("chars")))


def _chunk_stats_oracle_sql(cs: int = CHUNK_CS) -> str:
    """Greedy sentence-packing simulated in SQL: per-sentence state
    (cur_len, emitted, joins) advanced by a recursive CTE; invariants
    chars = Σ sentence-len + join-spaces, n_chunks from the final state.
    Split emulation: '(\\.)\\s+|\\n+' → chr(1) sentinel (validated
    equivalent to the Python lookbehind split on this corpus)."""
    strip_set = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id::VARCHAR AS url,
         regexp_replace(text, ' the ', '. ', 'g') AS t2
  FROM documents
),
sents_list AS (
  SELECT url, t2,
    list_filter(
      list_transform(
        string_split(regexp_replace(t2, '(\\.)\\s+|\\n+', '\\1' || chr(1),
                                    'g'), chr(1)),
        s -> trim(s, {strip_set})),
      s -> s <> '') AS sents
  FROM base
),
sent AS (
  SELECT url,
         unnest(range(1, len(sents)+1))::BIGINT AS seq,
         unnest(list_transform(sents, s -> len(s)))::BIGINT AS sl,
         len(sents)::BIGINT AS n_sent
  FROM sents_list WHERE len(sents) > 0
),
steps AS (
  SELECT url, seq,
         CASE WHEN sl > {cs} THEN 0 ELSE sl END AS cur_len,
         CASE WHEN sl > {cs} THEN ceil(sl / {cs}.0)::BIGINT
              ELSE 0 END AS emitted,
         0::BIGINT AS joins, n_sent
  FROM sent WHERE seq = 1
  UNION ALL
  SELECT st.url, x.seq,
    CASE WHEN st.cur_len + x.sl <= {cs} THEN st.cur_len + x.sl
         WHEN x.sl > {cs} THEN 0
         ELSE x.sl END,
    st.emitted + CASE WHEN st.cur_len + x.sl <= {cs} THEN 0
         ELSE (CASE WHEN st.cur_len > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN x.sl > {cs} THEN ceil(x.sl / {cs}.0)::BIGINT
                      ELSE 0 END) END,
    st.joins + CASE WHEN st.cur_len > 0 AND st.cur_len + x.sl <= {cs}
                    THEN 1 ELSE 0 END,
    st.n_sent
  FROM steps st JOIN sent x ON x.url = st.url AND x.seq = st.seq + 1
),
sums AS (SELECT url, sum(sl)::BIGINT AS sum_sl FROM sent GROUP BY 1)
SELECT st.url,
       (st.emitted + CASE WHEN st.cur_len > 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_chunks,
       (s.sum_sl + st.joins)::BIGINT AS chars
FROM steps st JOIN sums s USING (url)
WHERE st.seq = st.n_sent
UNION ALL
SELECT url, 1::BIGINT AS n_chunks, len(t2)::BIGINT AS chars
FROM sents_list WHERE len(sents) = 0
"""


# ------------------------------------------------ spatial / misc operators

def _rects_from_part(spark, sf_dir):
    """Deterministic synthetic bboxes derived from the part table (integer
    arithmetic only, so the DuckDB oracle reproduces them exactly)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return part.select(
        F.col("p_partkey").alias("left_id"),
        (F.col("p_partkey") % 8).alias("page_key"),
        ((F.col("p_partkey") * 37) % 500).cast("double").alias("x0"),
        ((F.col("p_partkey") * 61) % 700).cast("double").alias("y0"),
        (((F.col("p_partkey") * 37) % 500) + 20 +
         F.col("p_partkey") % 30).cast("double").alias("x1"),
        (((F.col("p_partkey") * 61) % 700) + 10 +
         F.col("p_partkey") % 20).cast("double").alias("y1"),
    )


def _rects_from_customer(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.select(
        F.col("c_custkey").alias("right_id"),
        (F.col("c_custkey") % 8).alias("page_key"),
        ((F.col("c_custkey") * 53) % 500).cast("double").alias("x0"),
        ((F.col("c_custkey") * 41) % 700).cast("double").alias("y0"),
        (((F.col("c_custkey") * 53) % 500) + 25 +
         F.col("c_custkey") % 25).cast("double").alias("x1"),
        (((F.col("c_custkey") * 41) % 700) + 15 +
         F.col("c_custkey") % 15).cast("double").alias("y1"),
    )


_RECTS_SQL = """
lrect AS (
  SELECT p_partkey AS left_id, p_partkey % 8 AS page_key,
         ((p_partkey * 37) % 500)::DOUBLE AS x0,
         ((p_partkey * 61) % 700)::DOUBLE AS y0,
         (((p_partkey * 37) % 500) + 20 + p_partkey % 30)::DOUBLE AS x1,
         (((p_partkey * 61) % 700) + 10 + p_partkey % 20)::DOUBLE AS y1
  FROM part
),
rrect AS (
  SELECT c_custkey AS right_id, c_custkey % 8 AS page_key,
         ((c_custkey * 53) % 500)::DOUBLE AS x0,
         ((c_custkey * 41) % 700)::DOUBLE AS y0,
         (((c_custkey * 53) % 500) + 25 + c_custkey % 25)::DOUBLE AS x1,
         (((c_custkey * 41) % 700) + 15 + c_custkey % 15)::DOUBLE AS y1
  FROM customer
)
"""


def _j1_nearest(spark, sf_dir):
    from pdf_to_opensearch_spark.ops.spatial import nearest_match

    _ensure_pkg(spark)
    return nearest_match(_rects_from_part(spark, sf_dir),
                         _rects_from_customer(spark, sf_dir))


_J1_SQL = f"""
WITH {_RECTS_SQL},
joined AS (
  SELECT l.left_id, r.right_id,
         round(sqrt(pow(greatest(r.x0 - l.x1, l.x0 - r.x1, 0.0), 2) +
                    pow(greatest(r.y0 - l.y1, l.y0 - r.y1, 0.0), 2)), 6)
           AS distance
  FROM lrect l JOIN rrect r USING (page_key)
)
SELECT left_id, right_id, distance FROM (
  SELECT *, row_number() OVER (PARTITION BY left_id
                               ORDER BY distance, right_id) AS rn
  FROM joined
) WHERE rn = 1
"""


def _j6_best_iou(spark, sf_dir):
    from pdf_to_opensearch_spark.ops.spatial import best_iou_match

    _ensure_pkg(spark)
    return best_iou_match(_rects_from_part(spark, sf_dir),
                          _rects_from_customer(spark, sf_dir))


_J6_SQL = f"""
WITH {_RECTS_SQL},
joined AS (
  SELECT l.left_id, r.right_id,
         round(CASE WHEN (l.x1-l.x0)*(l.y1-l.y0) + (r.x1-r.x0)*(r.y1-r.y0)
                         - greatest(least(l.x1,r.x1)-greatest(l.x0,r.x0),0.0)
                           * greatest(least(l.y1,r.y1)-greatest(l.y0,r.y0),0.0) > 0
               THEN greatest(least(l.x1,r.x1)-greatest(l.x0,r.x0),0.0)
                    * greatest(least(l.y1,r.y1)-greatest(l.y0,r.y0),0.0)
                    / ((l.x1-l.x0)*(l.y1-l.y0) + (r.x1-r.x0)*(r.y1-r.y0)
                       - greatest(least(l.x1,r.x1)-greatest(l.x0,r.x0),0.0)
                         * greatest(least(l.y1,r.y1)-greatest(l.y0,r.y0),0.0))
               ELSE 0.0 END, 6) AS iou
  FROM lrect l JOIN rrect r USING (page_key)
)
SELECT left_id, right_id, iou FROM (
  SELECT *, row_number() OVER (PARTITION BY left_id
                               ORDER BY iou DESC, right_id) AS rn
  FROM joined WHERE iou > 0.0
) WHERE rn = 1
"""


def _j2_caption_fallback(spark, sf_dir):
    """J2 with the reference's 'NO CAPTION' fallback (text_based:802-813):
    images on pages 8-11 have no caption candidates (captions live on
    pages 0-7 only) and flow through the fallback + aspect-ratio gate."""
    from pdf_to_opensearch_spark.ops.spatial import nearest_caption_or_fallback

    _ensure_pkg(spark)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    images = cust.select(
        F.col("c_custkey").alias("image_id"),
        (F.col("c_custkey") % 12).alias("page_key"),
        ((F.col("c_custkey") * 53) % 500).cast("double").alias("x0"),
        ((F.col("c_custkey") * 41) % 700).cast("double").alias("y0"),
        (((F.col("c_custkey") * 53) % 500) +
         (F.col("c_custkey") % 40) * 5).cast("double").alias("x1"),
        (((F.col("c_custkey") * 41) % 700) + 10 +
         F.col("c_custkey") % 20).cast("double").alias("y1"))
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    captions = part.select(
        F.col("p_partkey").alias("caption_id"),
        (F.col("p_partkey") % 8).alias("page_key"),
        F.concat(F.lit("cap_"),
                 F.col("p_partkey").cast("string")).alias("caption"),
        ((F.col("p_partkey") * 37) % 500).cast("double").alias("x0"),
        ((F.col("p_partkey") * 61) % 700).cast("double").alias("y0"),
        (((F.col("p_partkey") * 37) % 500) + 20 +
         F.col("p_partkey") % 30).cast("double").alias("x1"),
        (((F.col("p_partkey") * 61) % 700) + 10 +
         F.col("p_partkey") % 20).cast("double").alias("y1"))
    return nearest_caption_or_fallback(images, captions,
                                       image_id="image_id",
                                       caption_id="caption_id",
                                       caption_text="caption")


_J2_SQL = """
WITH img AS (
  SELECT c_custkey AS image_id, c_custkey % 12 AS page_key,
         ((c_custkey * 53) % 500)::DOUBLE AS x0,
         ((c_custkey * 41) % 700)::DOUBLE AS y0,
         (((c_custkey * 53) % 500) + (c_custkey % 40) * 5)::DOUBLE AS x1,
         (((c_custkey * 41) % 700) + 10 + c_custkey % 20)::DOUBLE AS y1
  FROM customer
),
cap AS (
  SELECT p_partkey AS caption_id, p_partkey % 8 AS page_key,
         'cap_' || p_partkey AS caption,
         ((p_partkey * 37) % 500)::DOUBLE AS x0,
         ((p_partkey * 61) % 700)::DOUBLE AS y0,
         (((p_partkey * 37) % 500) + 20 + p_partkey % 30)::DOUBLE AS x1,
         (((p_partkey * 61) % 700) + 10 + p_partkey % 20)::DOUBLE AS y1
  FROM part
),
joined AS (
  SELECT i.image_id, c.caption_id, c.caption,
         CASE WHEN c.caption_id IS NOT NULL THEN
           round(sqrt(pow(greatest(c.x0 - i.x1, i.x0 - c.x1, 0.0), 2) +
                      pow(greatest(c.y0 - i.y1, i.y0 - c.y1, 0.0), 2)), 6)
         END AS distance,
         i.x1 - i.x0 AS w, i.y1 - i.y0 AS h
  FROM img i LEFT JOIN cap c USING (page_key)
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY image_id
                                 ORDER BY distance ASC NULLS LAST,
                                          caption_id ASC NULLS LAST) AS rn
    FROM joined
  ) WHERE rn = 1
)
SELECT image_id, caption_id,
       coalesce(caption, 'NO CAPTION') AS caption, distance
FROM best
WHERE caption_id IS NOT NULL
   OR (h > 0 AND w / h > 0.15 AND w / h < 9.5)
"""


def _f1_dispatch(spark, sf_dir):
    """F1 text-vs-image routing (pdf_processor.py:29-55): avg 'chars' over
    the first <=3 pages of each doc routes to text or image extraction.
    Pages are lineitem rows (chars = 10x quantity); threshold 250 splits
    the corpus roughly in half so both routes are exercised."""
    from pdf_to_opensearch_spark.ops.textstats import text_image_dispatch

    _ensure_pkg(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pages = li.select(F.col("l_orderkey").alias("doc_id"),
                      F.col("l_linenumber").alias("page_number"),
                      (F.col("l_quantity") * 10).alias("chars"))
    out = text_image_dispatch(pages, threshold=250)
    return out.withColumn("avg_chars", F.round("avg_chars", 4))


_F1_SQL = """
WITH pages AS (
  SELECT l_orderkey AS doc_id, l_quantity * 10 AS chars
  FROM lineitem WHERE l_linenumber <= 3
),
agg AS (SELECT doc_id, avg(chars) AS a FROM pages GROUP BY 1)
SELECT doc_id, round(a, 4) AS avg_chars,
       CASE WHEN a > 250 THEN 'text' ELSE 'image' END AS route
FROM agg
"""


def _a2_indent_hist(spark, sf_dir):
    """A2 indentation histogram (text_based:212-239): round(x0,1) counts,
    top-2 per doc; continuation = the smaller, start = the larger (NULL
    when only one distinct indent). x0 values are exact binary halves so
    round(,1) is engine-independent."""
    from pdf_to_opensearch_spark.ops.textstats import indentation_profile

    _ensure_pkg(spark)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    blocks = part.select(
        "p_brand",
        (((F.col("p_partkey") * 7) % 40) / 2.0).alias("x0"))
    return indentation_profile(blocks, doc_col="p_brand")


_A2_SQL = """
WITH blocks AS (
  SELECT p_brand, round(((p_partkey * 7) % 40) / 2.0, 1) AS xr FROM part
),
counts AS (SELECT p_brand, xr, count(*) AS n FROM blocks GROUP BY 1, 2),
top2 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY p_brand
                                 ORDER BY n DESC, xr) AS rn
    FROM counts
  ) WHERE rn <= 2
)
SELECT p_brand,
       CASE WHEN count(*) = 2 THEN max(xr) END AS start_indent,
       min(xr) AS continuation_indent
FROM top2 GROUP BY 1
"""


def _c19_table_render(spark, sf_dir):
    """C19 table-payload serialization (text_based:1604-1606, 1637): per
    brand, a (columns, rows) payload rendered as a pipe table and a
    pandas-split-orient JSON string."""
    from pdf_to_opensearch_spark.ops.render import (
        table_markdown,
        table_split_json,
    )

    _ensure_pkg(spark)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rows = part.select(
        "p_brand",
        F.array(F.lpad(F.col("p_partkey").cast("string"), 6, "0"),
                F.col("p_size").cast("string")).alias("r"))
    payload = (rows.groupBy("p_brand")
               .agg(F.sort_array(F.collect_list("r")).alias("data"))
               .withColumn("cols", F.array(F.lit("key"), F.lit("size"))))
    return payload.select(
        "p_brand",
        table_markdown(F.col("cols"), F.col("data")).alias("table_md"),
        table_split_json(F.col("cols"), F.col("data")).alias("table_json"))


_C19_SQL = """
WITH rows_ AS (
  SELECT p_brand, [lpad(p_partkey::VARCHAR, 6, '0'),
                   p_size::VARCHAR] AS r
  FROM part
),
payload AS (
  SELECT p_brand, list(r ORDER BY r) AS data FROM rows_ GROUP BY 1
)
SELECT p_brand,
       '| key | size |' || chr(10) || '| --- | --- |' || chr(10) ||
       list_aggregate(list_transform(data,
                                     x -> '| ' || x[1] || ' | ' || x[2]
                                          || ' |'),
                      'string_agg', chr(10)) AS table_md,
       to_json(struct_pack(index := range(0, len(data)),
                           columns := ['key', 'size'],
                           data := data)) AS table_json
FROM payload
"""


def _s9_markdown_render(spark, sf_dir):
    """S9 markdown surface (_generate_final_markdown, text_based:1610-1650)
    over a synthetic element stream: one doc per customer, elements from
    its orders (kind cycles through title/text/table/image/etc; every
    reference branch — page markers, skip-first, caption fallbacks, CDN
    URL join, empty-table guard — is exercised)."""
    from pdf_to_opensearch_spark.ops.render import render_markdown

    _ensure_pkg(spark)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    elements = o.select(
        F.col("o_custkey").alias("doc_id"),
        k.alias("seq"),
        (k % 3).cast("int").alias("page_index"),
        F.element_at(F.array(F.lit("title"), F.lit("text"), F.lit("table"),
                             F.lit("image"), F.lit("etc")),
                     (k % 5).cast("int") + 1).alias("kind"),
        F.when(k % 7 == 0, F.lit(""))
         .otherwise(F.concat(F.lit("body_"), k.cast("string")))
         .alias("content"),
        F.when(k % 2 == 0,
               F.concat(F.lit("cap_"), k.cast("string"))).alias("caption"),
        F.when(k % 3 == 0,
               F.concat(F.lit("imgs/"), k.cast("string"),
                        F.lit(".png"))).alias("s3_key"))
    return render_markdown(elements)


_S9_SQL = """
WITH el AS (
  SELECT o_custkey AS doc_id, o_orderkey AS seq,
         (o_orderkey % 3)::INTEGER AS page_index,
         ['title','text','table','image','etc'][(o_orderkey % 5)::INTEGER + 1]
           AS kind,
         CASE WHEN o_orderkey % 7 = 0 THEN ''
              ELSE 'body_' || o_orderkey END AS content,
         CASE WHEN o_orderkey % 2 = 0 THEN 'cap_' || o_orderkey END
           AS caption,
         CASE WHEN o_orderkey % 3 = 0 THEN 'imgs/' || o_orderkey || '.png' END
           AS s3_key
  FROM orders
),
emitted AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq) AS rn
    FROM el
  ) WHERE rn > 1
),
marked AS (
  SELECT *,
         CASE WHEN page_index <>
                   coalesce(lag(page_index) OVER (PARTITION BY doc_id
                                                  ORDER BY seq), -1)
              THEN '[page_index: ' || page_index || ']' END AS marker,
         CASE WHEN caption IS NOT NULL AND caption <> '' THEN caption
              ELSE 'no caption' END AS cap_or_no
  FROM emitted
),
chunked AS (
  SELECT doc_id, seq,
         concat_ws(chr(10), marker,
           CASE
             WHEN kind = 'title' THEN '## ' || content
             WHEN kind = 'table' THEN
               CASE WHEN content IS NOT NULL AND content <> ''
                    THEN '** 표: ' || cap_or_no || ' **' || chr(10)
                         || content END
             WHEN kind = 'image' THEN
               CASE WHEN s3_key IS NOT NULL
                    THEN '**그림: ' || cap_or_no || '**' || chr(10)
                         || '[URL: ' ||
                         CASE WHEN starts_with(s3_key, '/') THEN s3_key
                              ELSE 'https://cdn.example.invalid/' || s3_key
                              END || ']' ||
                         CASE WHEN content IS NOT NULL AND content <> ''
                              THEN chr(10) || '[내용: ' || content
                                   || ']'
                              ELSE '' END
                    END
             ELSE content
           END) AS chunk
  FROM marked
)
SELECT doc_id,
       string_agg(chunk, chr(10) || chr(10) ORDER BY seq) AS markdown
FROM chunked GROUP BY 1
"""


def _c1_nfc_normalize(spark, sf_dir):
    """C1 NFC normalization (analyzer.py:45, extract.py:49): decomposed
    combining sequences are appended to each doc so the entry verifies
    real composition work (pre/post char lengths differ), cross-checked
    against DuckDB's nfc_normalize."""
    from pdf_to_opensearch_spark.extract import nfc_udf

    _ensure_pkg(spark)
    docs = _docs(spark, sf_dir)
    raw = F.concat(F.substring("text", 1, 40),
                   F.lit(" cafe\u0301 A\u030arhus"))
    return docs.select(
        "doc_id",
        nfc_udf(raw).alias("nfc_text"),
        F.length(raw).alias("pre_len"),
        F.length(nfc_udf(raw)).alias("post_len"))


_C1_SQL = """
WITH d AS (
  SELECT doc_id,
         substr(text, 1, 40) || ' cafe' || chr(769) || ' A' || chr(778)
           || 'rhus' AS raw
  FROM documents
)
SELECT doc_id, nfc_normalize(raw) AS nfc_text,
       length(raw) AS pre_len,
       length(nfc_normalize(raw)) AS post_len
FROM d
"""


def _f11_nearest_threshold(spark, sf_dir):
    """F11 distance-threshold match (text_based:758-761 max-distance gate):
    nearest_match with candidates beyond max_distance excluded BEFORE the
    per-left argmax — lefts whose nearest is too far drop out entirely."""
    from pdf_to_opensearch_spark.ops.spatial import nearest_match

    _ensure_pkg(spark)
    return nearest_match(_rects_from_part(spark, sf_dir),
                         _rects_from_customer(spark, sf_dir),
                         max_distance=30.0)


_F11_SQL = f"""
WITH {_RECTS_SQL},
joined AS (
  SELECT l.left_id, r.right_id,
         round(sqrt(pow(greatest(r.x0 - l.x1, l.x0 - r.x1, 0.0), 2) +
                    pow(greatest(r.y0 - l.y1, l.y0 - r.y1, 0.0), 2)), 6)
           AS distance
  FROM lrect l JOIN rrect r USING (page_key)
)
SELECT left_id, right_id, distance FROM (
  SELECT *, row_number() OVER (PARTITION BY left_id
                               ORDER BY distance, right_id) AS rn
  FROM joined WHERE distance <= 30.0
) WHERE rn = 1
"""


def _c10_date_format(spark, sf_dir):
    """C10/C11 timestamp/date formatting (opensearch_loader.py:424 indexed_at
    / chunkfile date fields): the lineage-timestamp string formats the
    sinks emit, on the events table (session TZ pinned to UTC so the
    string render is engine-independent)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.unix_timestamp("ts").alias("epoch_s"))


_C10_SQL = """
SELECT event_id,
       strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
       strftime(ts, '%Y-%m-%d') AS day,
       year(ts)::BIGINT AS y, month(ts)::BIGINT AS m,
       floor(epoch(ts))::BIGINT AS epoch_s
FROM events
"""


def _f9_blank_canon(spark, sf_dir):
    """F9 blank filter + C2 whitespace canonicalization (chunking.py:44-46):
    collapse whitespace runs, trim, drop rows that canonicalize to empty.
    Planted all-whitespace docs (doc_id+2000000) verify the filter side."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    blanks = docs.orderBy("doc_id").limit(20).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.lit(" \t  \n ").alias("text"))
    unioned = docs.unionByName(blanks)
    canon = F.trim(F.regexp_replace("text", r"\s+", " "))
    return (unioned.select("doc_id", canon.alias("canon_text"))
            .filter(F.col("canon_text") != "")
            .select("doc_id", F.length("canon_text").alias("canon_len"),
                    F.substring("canon_text", 1, 60).alias("head")))


_F9_SQL = r"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, ' ' || chr(9) || '  ' || chr(10) || ' '
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20)
),
canon AS (
  SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS canon_text
  FROM unioned
)
SELECT doc_id, length(canon_text) AS canon_len,
       substr(canon_text, 1, 60) AS head
FROM canon WHERE canon_text <> ''
"""


def _f2_font_classes(spark, sf_dir):
    """F2 font-class projection (text_based:241-296): dominant font by
    summed span length per doc → text/title/etc per span. Planted blank
    spans (p_partkey % 23 == 0) exercise the strip-filter: they classify
    but never vote for the dominant font."""
    from pdf_to_opensearch_spark.ops.textstats import font_classify

    _ensure_pkg(spark)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    spans = part.select(
        F.col("p_partkey").alias("span_id"),
        F.col("p_brand").alias("doc_id"),
        (F.col("p_partkey") % 5 + 8).cast("double").alias("size"),
        F.split(F.col("p_type"), " ").getItem(0).alias("font"),
        ((F.col("p_partkey") % 5 + 8) * 12).cast("double").alias("height"),
        F.when(F.col("p_partkey") % 23 == 0, F.lit("  "))
         .otherwise(F.col("p_name")).alias("text"))
    out = font_classify(spans)
    return out.select("span_id", "doc_id", "size", "plain_size",
                      "text_class")


_F2_SQL = """
WITH spans AS (
  SELECT p_partkey AS span_id, p_brand AS doc_id,
         (p_partkey % 5 + 8)::DOUBLE AS size,
         split_part(p_type, ' ', 1) AS font,
         ((p_partkey % 5 + 8) * 12)::DOUBLE AS height,
         CASE WHEN p_partkey % 23 = 0 THEN '  ' ELSE p_name END AS text
  FROM part
),
agg AS (
  SELECT doc_id, size, font, height,
         sum(length(trim(text))) AS wl
  FROM spans WHERE trim(text) <> ''
  GROUP BY 1, 2, 3, 4
),
plain AS (
  SELECT doc_id, size AS plain_size FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY wl DESC, size, font, height) AS rn
    FROM agg
  ) WHERE rn = 1
)
SELECT s.span_id, s.doc_id, s.size, p.plain_size,
       CASE WHEN s.size = coalesce(p.plain_size, 10.0) THEN 'text'
            WHEN s.size > coalesce(p.plain_size, 10.0) THEN 'title'
            ELSE 'etc' END AS text_class
FROM spans s LEFT JOIN plain p USING (doc_id)
"""


def _j8_delete_requery(spark, sf_dir):
    """J8 delete-by-metadata then re-query (uploader.py:218-229 delete
    path + maintenance.delete_from_index): snapshot the engine index
    minus every 17th doc, rebuild only the affected ranges, and run the
    BM25 reference queries against the snapshot. The oracle scores the
    SAME filtered corpus from scratch — N/avgdl/df must all have been
    refreshed over the survivors for ranks to match."""
    from pdf_to_opensearch_spark.maintenance import delete_from_index
    from pdf_to_opensearch_spark.query import search

    _ensure_pkg(spark)
    src = _ensure_engine_index(spark, sf_dir)
    dst = src + "_j8del"
    if dst not in _BUILT_INDEXES:
        n = _docs(spark, sf_dir).count()
        urls = [f"doc://{i:010d}" for i in range(0, n, 17)]
        delete_from_index(spark, src, dst, urls)
        _BUILT_INDEXES.add(dst)
    res = search(spark, dst, list(BM25_QUERIES.items()), k=BM25_K,
                 prune=True)
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc())
    return (res.withColumn("rank2", F.row_number().over(w))
            .select("query_id", F.col("rank2").cast("int").alias("rank"),
                    "doc_id", F.round("score", 4).alias("score")))


# force_merge fixture batch: deterministic appended docs that HIT the
# reference queries, so compaction visibly changes the ranked lists
FM_APPEND_TEXTS = [
    "appended spark join filter merge doc zero",
    "appended vector stream window batch doc one",
    "appended customer the slow doc two",
    "appended spark filter doc three",
    "appended window batch doc four",
]


def _force_merge_requery(spark, sf_dir):
    """Segment-compaction round-trip (maintenance.force_merge — the
    Lucene force-merge analogue for append_batch's trailing micro-ranges):
    copy the engine index, append a deterministic 5-doc batch (fresh
    sparse range), compact, and run the BM25 reference queries against
    the merged snapshot. The oracle scores the appended corpus from
    scratch — doc_ids, N/avgdl/df and ranks must all survive the
    re-ranging."""
    import shutil

    from pdf_to_opensearch_spark.maintenance import force_merge
    from pdf_to_opensearch_spark.query import search
    from pdf_to_opensearch_spark.streaming import append_batch

    _ensure_pkg(spark)
    src = _ensure_engine_index(spark, sf_dir)
    merged = src + "_fmerged"
    if merged not in _BUILT_INDEXES:
        work = src + "_fmwork"
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(merged, ignore_errors=True)
        shutil.copytree(src, work)
        batch = spark.createDataFrame(
            [(f"zzz://fm/d{i}", t, "en")
             for i, t in enumerate(FM_APPEND_TEXTS)],
            "url string, text string, lang string")
        append_batch(spark, batch, work, batch_id=0)
        force_merge(spark, work, merged)
        _BUILT_INDEXES.add(merged)
    res = search(spark, merged, list(BM25_QUERIES.items()),
                 k=BM25_K + _RERANK_MARGIN, prune=True)
    return _rerank_rounded(res, BM25_K)


def _fm_docs_src_sql() -> str:
    """Oracle corpus for the force-merge entry: documents plus the
    appended batch at engine-assigned ids (append_batch bases at
    max(doc_id)+1, batch urls sort in list order)."""
    vals = ", ".join(f"({i}, '{t}')"
                     for i, t in enumerate(FM_APPEND_TEXTS))
    return ("SELECT doc_id, text FROM documents "
            "UNION ALL SELECT (SELECT max(doc_id) + 1 FROM documents) "
            f"+ v.i, v.text FROM (VALUES {vals}) AS v(i, text)")


def _reindex_requery(spark, sf_dir):
    """_reindex + atomic alias swap: rebuild a filtered (lang='en') index
    from the engine index's stored docs table (doc_ids reassigned by the
    destination build, url order), atomically point the 'live' alias at
    it, and serve the BM25 reference queries THROUGH the alias —
    maintenance.reindex / update_aliases / resolve_alias (the OpenSearch
    _reindex + _aliases blue/green pattern, uploader.py:218-229's
    delete-then-reinsert generalized to a whole-index rebuild)."""
    import shutil

    from pdf_to_opensearch_spark.maintenance import (
        reindex,
        resolve_alias,
        update_aliases,
    )
    from pdf_to_opensearch_spark.query import search

    _ensure_pkg(spark)
    src = _ensure_engine_index(spark, sf_dir)
    dst = src + "_reindexed"
    reg = src + "_aliases.json"
    if dst not in _BUILT_INDEXES:
        shutil.rmtree(dst, ignore_errors=True)
        reindex(spark, src, dst, where="lang = 'en'",
                num_ranges=8, n_buckets=8, id_partitions=8)
        update_aliases(reg, [{"add": {"alias": "live", "index": dst}}])
        _BUILT_INDEXES.add(dst)
    res = search(spark, resolve_alias(reg, "live"),
                 list(BM25_QUERIES.items()),
                 k=BM25_K + _RERANK_MARGIN, prune=True)
    return _rerank_rounded(res, BM25_K)


_REINDEX_DOCS_SRC = """SELECT row_number() OVER (ORDER BY doc_id) - 1
             AS doc_id, text
  FROM documents WHERE lang = 'en'"""


def _f4b_overlap_anti(spark, sf_dir):
    from pdf_to_opensearch_spark.ops.spatial import overlap_anti_filter

    _ensure_pkg(spark)
    return overlap_anti_filter(
        _rects_from_part(spark, sf_dir).withColumnRenamed("left_id", "tid"),
        _rects_from_customer(spark, sf_dir)).select("tid", "page_key")


_F4B_SQL = f"""
WITH {_RECTS_SQL}
SELECT l.left_id AS tid, l.page_key FROM lrect l
WHERE NOT EXISTS (
  SELECT 1 FROM rrect r
  WHERE r.page_key = l.page_key
    AND l.x0 < r.x1 AND r.x0 < l.x1 AND l.y0 < r.y1 AND r.y0 < l.y1
)
"""


def _w4_percent_rank(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(), F.col("l_partkey").asc())
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_partkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"))


_W4_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
       round(percent_rank() OVER (PARTITION BY l_suppkey
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
                      l_partkey), 6) AS pr
FROM lineitem
"""


def _a5_envelope(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (cust.groupBy("c_nationkey")
            .agg(F.round(F.min("c_acctbal"), 2).alias("min_bal"),
                 F.round(F.max("c_acctbal"), 2).alias("max_bal"),
                 F.count("*").cast("long").alias("n")))


_A5_SQL = """
SELECT c_nationkey, round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal, count(*)::BIGINT AS n
FROM customer GROUP BY c_nationkey
"""


def _u3_except(spark, sf_dir):
    """EXCEPT over a non-trivial set: parts never shipped in an even-keyed
    order divisible by 8 (the unfiltered version is empty at every sf —
    every part appears in lineitem)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .filter(F.col("l_orderkey") % 8 == 0)
          .select(F.col("l_partkey").alias("p_partkey")))
    return part.exceptAll(li.distinct()).distinct()


_U3_SQL = """
SELECT p_partkey FROM part
EXCEPT
SELECT l_partkey AS p_partkey FROM lineitem WHERE l_orderkey % 8 = 0
"""


# ------------------------------------------- A4 margin-band full semantics

A4_H, A4_W, A4_PAGES = 800.0, 600.0, 40


def _blocks_from_orders(spark, sf_dir):
    """Deterministic synthetic text blocks (integer arithmetic only):
    planted header/footer/left/right populations with modal-coordinate
    minorities, so every stage of the A4 detector is exercised."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    k = F.col("o_orderkey")
    m = k % 10
    page = k % 40
    text = (F.when(m == 0, F.concat(F.lit("Report "), page))
            .when(k % 20 == 5, F.concat(F.lit("Draft "), page))
            .when(m == 1, F.concat(F.lit("Page "), k))
            .when(m == 2, F.concat(F.lit("L"), page))
            .when(m == 3, F.concat(F.lit("R"), page))
            .otherwise(F.concat(F.lit("Body "), k)))
    x0 = (F.when(m == 2, F.lit(10))
          .when(m == 3, F.lit(520) + F.when(k % 13 == 0, 7).otherwise(0))
          .when(m == 1, F.lit(200)).otherwise(F.lit(100)))
    x1 = (F.when(m == 2, F.lit(60) + F.when(k % 11 == 0, 4).otherwise(0))
          .when(m == 3, F.lit(590))
          .when(m == 1, F.lit(400))
          .when((m == 0) | (k % 20 == 5), F.lit(300)).otherwise(F.lit(500)))
    y0 = (F.when(m == 0, F.lit(10)).when(k % 20 == 5, F.lit(12))
          .when(m == 1, F.lit(760) + F.when(k % 5 == 0, 6).otherwise(0))
          .when((m == 2) | (m == 3), F.lit(300)).otherwise(F.lit(200)))
    y1 = (F.when(m == 0, F.lit(40) + F.when(k % 7 == 0, 5).otherwise(0))
          .when(k % 20 == 5, F.lit(60))
          .when(m == 1, F.lit(790))
          .when((m == 2) | (m == 3), F.lit(400)).otherwise(F.lit(700)))
    return o.select(page.alias("page_index"), text.alias("text"),
                    x0.cast("double").alias("x0"),
                    y0.cast("double").alias("y0"),
                    x1.cast("double").alias("x1"),
                    y1.cast("double").alias("y1"))


def _a4_margin_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full A4 semantics (text_based_converter_refactored.py:372-482):
    band grouping + ≥max(n_pages//10, 3) threshold + most-frequent pattern
    + modal boundary coordinate, all four bands in one pass."""
    from pdf_to_opensearch_spark.ops.headers import detect_margin_bands

    _ensure_pkg(spark)
    return detect_margin_bands(_blocks_from_orders(spark, sf_dir),
                               page_height=A4_H, page_width=A4_W,
                               n_pages=A4_PAGES)


_A4_BANDS_SQL = """
WITH blocks AS (
  SELECT o_orderkey % 40 AS page_index,
    CASE WHEN o_orderkey % 10 = 0 THEN 'Report ' || (o_orderkey % 40)
         WHEN o_orderkey % 20 = 5 THEN 'Draft ' || (o_orderkey % 40)
         WHEN o_orderkey % 10 = 1 THEN 'Page ' || o_orderkey
         WHEN o_orderkey % 10 = 2 THEN 'L' || (o_orderkey % 40)
         WHEN o_orderkey % 10 = 3 THEN 'R' || (o_orderkey % 40)
         ELSE 'Body ' || o_orderkey END AS text,
    (CASE WHEN o_orderkey % 10 = 2 THEN 10
          WHEN o_orderkey % 10 = 3 THEN 520 + CASE WHEN o_orderkey % 13 = 0 THEN 7 ELSE 0 END
          WHEN o_orderkey % 10 = 1 THEN 200 ELSE 100 END)::DOUBLE AS x0,
    (CASE WHEN o_orderkey % 10 = 0 THEN 10
          WHEN o_orderkey % 20 = 5 THEN 12
          WHEN o_orderkey % 10 = 1 THEN 760 + CASE WHEN o_orderkey % 5 = 0 THEN 6 ELSE 0 END
          WHEN o_orderkey % 10 IN (2, 3) THEN 300 ELSE 200 END)::DOUBLE AS y0,
    (CASE WHEN o_orderkey % 10 = 2 THEN 60 + CASE WHEN o_orderkey % 11 = 0 THEN 4 ELSE 0 END
          WHEN o_orderkey % 10 = 3 THEN 590
          WHEN o_orderkey % 10 = 1 THEN 400
          WHEN o_orderkey % 10 = 0 OR o_orderkey % 20 = 5 THEN 300
          ELSE 500 END)::DOUBLE AS x1,
    (CASE WHEN o_orderkey % 10 = 0 THEN 40 + CASE WHEN o_orderkey % 7 = 0 THEN 5 ELSE 0 END
          WHEN o_orderkey % 20 = 5 THEN 60
          WHEN o_orderkey % 10 = 1 THEN 790
          WHEN o_orderkey % 10 IN (2, 3) THEN 400 ELSE 700 END)::DOUBLE AS y1
  FROM orders
),
kinds AS (
  SELECT kind, trim(regexp_replace(text, '[0-9]+', '', 'g')) AS pattern,
         CASE kind WHEN 'header' THEN y1 WHEN 'footer' THEN y0
                   WHEN 'left' THEN x1 ELSE x0 END AS coord,
         CASE WHEN kind IN ('header', 'footer') THEN 4 ELSE 3 END AS thresh
  FROM (
    SELECT *, CASE WHEN y1 < 800 * 0.15 THEN 'header'
                   WHEN y0 > 800 * 0.85 THEN 'footer'
                   WHEN x1 < 600 * 0.15 THEN 'left'
                   WHEN x0 > 600 * 0.85 THEN 'right' END AS kind
    FROM blocks
  ) WHERE kind IS NOT NULL
),
valid AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY kind, pattern) AS occ FROM kinds
  ) WHERE occ >= thresh
),
best AS (
  SELECT * FROM (
    SELECT *, dense_rank() OVER (PARTITION BY kind
                                 ORDER BY occ DESC, pattern) AS prn
    FROM valid
  ) WHERE prn = 1
),
modal AS (
  SELECT kind, coord FROM (
    SELECT kind, coord,
           row_number() OVER (PARTITION BY kind
                              ORDER BY count(*) DESC, coord) AS crn
    FROM best GROUP BY kind, coord
  ) WHERE crn = 1
)
SELECT coalesce(max(CASE WHEN kind = 'header' THEN coord END), 0.0)
         AS header_y_max,
       coalesce(max(CASE WHEN kind = 'footer' THEN coord END), 800.0)
         AS footer_y_min,
       coalesce(max(CASE WHEN kind = 'left' THEN coord END), 0.0)
         AS left_margin_x_max,
       coalesce(max(CASE WHEN kind = 'right' THEN coord END), 600.0)
         AS right_margin_x_min
FROM modal
"""


# ------------------------------------------------ scalar ops (C6/C17/C20)


def _c_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """safe filename + url path basename + CDN url join (utils.py:106-119,
    148-159; opensearch_loader.py:642) over planted tricky strings."""
    from pdf_to_opensearch_spark.ops.scalars import (
        cdn_url_join,
        safe_filename,
        url_path_basename,
    )

    _ensure_pkg(spark)
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_name", "p_brand")
    k = F.col("p_partkey")
    raw = F.concat(F.col("p_name"),
                   F.when(k % 4 == 0, F.lit("!!"))
                   .when(k % 4 == 1, F.lit(" @#$ end"))
                   .when(k % 4 == 2, F.lit("---"))
                   .otherwise(F.lit("   ")))
    brand = F.regexp_replace(F.col("p_brand"), "#", "-")
    url = F.concat(F.lit("https://files.example.com/docs/"), brand,
                   F.lit("/"), k.cast("string"), F.lit(".json?v=1#frag"))
    key = (F.when(k % 3 == 0,
                  F.concat(F.lit("/abs/"), k.cast("string"), F.lit(".png")))
           .otherwise(F.concat(F.lit("img/"), k.cast("string"),
                               F.lit(".png"))))
    return p.select(k.alias("p_partkey"),
                    safe_filename(raw).alias("fname"),
                    url_path_basename(url).alias("basename"),
                    cdn_url_join(key).alias("cdn_url"))


_C_SCALARS_SQL = r"""
WITH prep AS (
  SELECT p_partkey,
    p_name || CASE WHEN p_partkey % 4 = 0 THEN '!!'
                   WHEN p_partkey % 4 = 1 THEN ' @#$ end'
                   WHEN p_partkey % 4 = 2 THEN '---'
                   ELSE '   ' END AS raw,
    'https://files.example.com/docs/' || replace(p_brand, '#', '-')
      || '/' || p_partkey || '.json?v=1#frag' AS url,
    CASE WHEN p_partkey % 3 = 0 THEN '/abs/' || p_partkey || '.png'
         ELSE 'img/' || p_partkey || '.png' END AS key
  FROM part
),
cooked AS (
  SELECT p_partkey,
    regexp_replace(trim(regexp_replace(raw, '[^\p{L}\p{N} -]', '', 'g')),
                   ' ', '_', 'g') AS u,
    url, key
  FROM prep
)
SELECT p_partkey,
  CASE WHEN length(u) > 0 THEN substr(u, 1, 50) ELSE 'untitled' END AS fname,
  regexp_extract(
    regexp_replace(
      regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''),
      '[?#].*$', ''),
    '([^/]*)$', 1) AS basename,
  CASE WHEN key LIKE '/%' THEN key
       ELSE 'https://cdn.example.invalid/' || key END AS cdn_url
FROM cooked
"""


# ------------------------------------------------- chart ops (J3/J4/J5)

CH_W, CH_H = 600.0, 800.0


def _chart_drawings(spark, sf_dir):
    """Deterministic drawings fixture (integer arithmetic): per page of
    ~20 drawings, 4 big mains (j=0), 4 borderline mediums (j=1), 4 tall
    thin axes (j=2), 4 wide flat axes below the mains (j=3), 4 small
    'unknown/relative-rank-borderline' rects (j=4)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    k = F.col("p_partkey")
    j = (k / 100).cast("long") % 5
    page = (k % 100).alias("page_key")
    x0 = (F.when(j == 0, 150 + k % 7)
          .when(j == 1, 300 - k % 17)
          .when(j == 2, 80 + k % 13)
          .when(j == 3, F.lit(140))
          .otherwise(360 + k % 21)).cast("double")
    y0 = (F.when(j == 0, 250 + k % 9)
          .when(j == 1, 420 + k % 5)
          .when(j == 2, F.lit(200))
          .when(j == 3, 400 + k % 3)
          .otherwise(150 + k % 41)).cast("double")
    w = (F.when(j == 0, 120 + k % 11)
         .when(j == 1, 80 + k % 23)
         .when(j == 2, F.lit(15))
         .when(j == 3, 200 + k % 19)
         .otherwise(F.lit(48))).cast("double")
    h = (F.when(j == 0, 130 + k % 13)
         .when(j == 1, 60 + k % 7)
         .when(j == 2, 100 + k % 31)
         .when(j == 3, F.lit(8))
         .otherwise(F.lit(34))).cast("double")
    return p.select(k.alias("drawing_id"), page, x0.alias("x0"),
                    y0.alias("y0"), (x0 + w).alias("x1"),
                    (y0 + h).alias("y1"))


_CH_DRAW_SQL = """
draw AS (
  SELECT p_partkey AS drawing_id, p_partkey % 100 AS page_key,
         x0, y0, x0 + w AS x1, y0 + h AS y1
  FROM (
    SELECT p_partkey,
      (CASE WHEN (p_partkey // 100) % 5 = 0 THEN 150 + p_partkey % 7
            WHEN (p_partkey // 100) % 5 = 1 THEN 300 - p_partkey % 17
            WHEN (p_partkey // 100) % 5 = 2 THEN 80 + p_partkey % 13
            WHEN (p_partkey // 100) % 5 = 3 THEN 140
            ELSE 360 + p_partkey % 21 END)::DOUBLE AS x0,
      (CASE WHEN (p_partkey // 100) % 5 = 0 THEN 250 + p_partkey % 9
            WHEN (p_partkey // 100) % 5 = 1 THEN 420 + p_partkey % 5
            WHEN (p_partkey // 100) % 5 = 2 THEN 200
            WHEN (p_partkey // 100) % 5 = 3 THEN 400 + p_partkey % 3
            ELSE 150 + p_partkey % 41 END)::DOUBLE AS y0,
      (CASE WHEN (p_partkey // 100) % 5 = 0 THEN 120 + p_partkey % 11
            WHEN (p_partkey // 100) % 5 = 1 THEN 80 + p_partkey % 23
            WHEN (p_partkey // 100) % 5 = 2 THEN 15
            WHEN (p_partkey // 100) % 5 = 3 THEN 200 + p_partkey % 19
            ELSE 48 END)::DOUBLE AS w,
      (CASE WHEN (p_partkey // 100) % 5 = 0 THEN 130 + p_partkey % 13
            WHEN (p_partkey // 100) % 5 = 1 THEN 60 + p_partkey % 7
            WHEN (p_partkey // 100) % 5 = 2 THEN 100 + p_partkey % 31
            WHEN (p_partkey // 100) % 5 = 3 THEN 8
            ELSE 34 END)::DOUBLE AS h
    FROM part
  )
)
"""

_CH_TYPED_SQL = """
cls AS (
  SELECT *, (x1 - x0) AS w, (y1 - y0) AS h,
         ((x1 - x0) * (y1 - y0)) / 480000.0 AS ar,
         CASE WHEN (y1 - y0) > 0 THEN (x1 - x0) / (y1 - y0)
              ELSE 0.0 END AS asp,
         rank() OVER (PARTITION BY page_key
                      ORDER BY (x1 - x0) * (y1 - y0) DESC) - 1 AS larger,
         count(*) OVER (PARTITION BY page_key) AS n
  FROM draw
),
typed AS (
  SELECT *, CASE
    WHEN ar < 0.003 OR asp > 20 OR asp < 0.05 OR w < 20 OR h < 20
      THEN 'axis_or_legend'
    WHEN n > 1 AND larger / (n - 1.0) < 0.5 AND asp > 0.2 AND asp < 8.0
      THEN 'main_chart'
    WHEN ar > 0.01 AND asp > 0.2 AND asp < 8.0 AND w > 40 AND h > 40
      THEN 'main_chart'
    ELSE 'unknown' END AS dtype
  FROM cls
)
"""


def _chart_captions(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    k = F.col("c_custkey")
    x0 = (160 + k % 29).cast("double")
    y0 = (430 + k % 37).cast("double")
    return c.select(k.alias("caption_id"), (k % 100).alias("page_key"),
                    x0.alias("x0"), y0.alias("y0"),
                    (x0 + 90 + k % 11).alias("x1"), (y0 + 14).alias("y1"))


_CH_CAPS_SQL = """
caps AS (
  SELECT c_custkey AS caption_id, c_custkey % 100 AS page_key,
         (160 + c_custkey % 29)::DOUBLE AS cx0,
         (430 + c_custkey % 37)::DOUBLE AS cy0,
         (160 + c_custkey % 29 + 90 + c_custkey % 11)::DOUBLE AS cx1,
         (430 + c_custkey % 37 + 14)::DOUBLE AS cy1
  FROM customer
)
"""


def _j3_scored_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: composite caption↔chart score with type bonuses and the <50
    nearest-distance fallback (text_based_converter_refactored.py:
    1187-1278)."""
    from pdf_to_opensearch_spark.ops.charts import best_chart_match

    _ensure_pkg(spark)
    return best_chart_match(_chart_captions(spark, sf_dir),
                            _chart_drawings(spark, sf_dir),
                            page_width=CH_W, page_height=CH_H)


_J3_SQL = f"""
WITH {_CH_DRAW_SQL.strip().rstrip()},
{_CH_TYPED_SQL.strip()},
{_CH_CAPS_SQL.strip()},
pairs AS (
  SELECT c.caption_id, t.drawing_id,
    round(sqrt(
      greatest(t.x0 - c.cx1, c.cx0 - t.x1, 0.0)
        * greatest(t.x0 - c.cx1, c.cx0 - t.x1, 0.0)
      + greatest(t.y0 - c.cy1, c.cy0 - t.y1, 0.0)
        * greatest(t.y0 - c.cy1, c.cy0 - t.y1, 0.0)), 6) AS dist,
    round(
      greatest(0.0, 100.0 - sqrt(
        greatest(t.x0 - c.cx1, c.cx0 - t.x1, 0.0)
          * greatest(t.x0 - c.cx1, c.cx0 - t.x1, 0.0)
        + greatest(t.y0 - c.cy1, c.cy0 - t.y1, 0.0)
          * greatest(t.y0 - c.cy1, c.cy0 - t.y1, 0.0)))
      + CASE WHEN t.ar > 0.01 AND t.ar < 0.3
             THEN 50.0 * least(t.ar / 0.1, 1.0) ELSE 0.0 END
      + CASE WHEN (c.cy0 + c.cy1) / 2 > t.y1 THEN 50.0 ELSE 0.0 END
      + least(c.cx1 - c.cx0, t.w) / greatest(c.cx1 - c.cx0, t.w) * 20.0
      + CASE t.dtype WHEN 'main_chart' THEN 50.0
                     WHEN 'axis_or_legend' THEN -30.0 ELSE 0.0 END, 6)
      AS score
  FROM caps c JOIN typed t USING (page_key)
),
ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY caption_id
                       ORDER BY score DESC, drawing_id) AS rs,
    row_number() OVER (PARTITION BY caption_id
                       ORDER BY dist, drawing_id) AS rd
  FROM pairs
),
with_best AS (
  SELECT *, max(CASE WHEN rs = 1 THEN score END)
              OVER (PARTITION BY caption_id) AS best
  FROM ranked
)
SELECT caption_id, drawing_id, round(score, 4) AS score,
       (best < 50.0) AS used_fallback
FROM with_best
WHERE CASE WHEN best < 50.0 THEN rd = 1 ELSE rs = 1 END
"""


def _j4_axis_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: rect-union of the main chart with axis/legend drawings in the
    below/left search bands (1280-1368)."""
    from pdf_to_opensearch_spark.ops.charts import merge_axis_labels

    _ensure_pkg(spark)
    drawings = _chart_drawings(spark, sf_dir)
    mains = (drawings
             .filter((F.col("drawing_id") / 100).cast("long") % 5 == 0)
             .select(F.col("drawing_id").alias("main_id"), "page_key",
                     "x0", "y0", "x1", "y1"))
    return merge_axis_labels(mains, drawings, page_width=CH_W,
                             page_height=CH_H)


_J4_SQL = f"""
WITH {_CH_DRAW_SQL.strip()},
{_CH_TYPED_SQL.strip()},
mains AS (
  SELECT drawing_id AS main_id, page_key,
         x0 AS mx0, y0 AS my0, x1 AS mx1, y1 AS my1,
         x1 - x0 AS mw, y1 - y0 AS mh
  FROM draw WHERE (drawing_id // 100) % 5 = 0
),
cand AS (
  SELECT m.main_id, t.x0, t.y0, t.x1, t.y1
  FROM mains m JOIN typed t USING (page_key)
  WHERE NOT (m.mx0 < t.x1 AND t.x0 < m.mx1 AND
             m.my0 < t.y1 AND t.y0 < m.my1)
    AND t.dtype = 'axis_or_legend'
    AND (
      (greatest(m.mx0 - m.mw * 0.3, 0.0) < t.x1
       AND t.x0 < least(m.mx1 + m.mw * 0.3, 600.0)
       AND greatest(m.my1, 0.0) < t.y1
       AND t.y0 < least(m.my1 + m.mh * 0.5, 800.0)
       AND t.asp > 2.0)
      OR
      (NOT (greatest(m.mx0 - m.mw * 0.3, 0.0) < t.x1
            AND t.x0 < least(m.mx1 + m.mw * 0.3, 600.0)
            AND greatest(m.my1, 0.0) < t.y1
            AND t.y0 < least(m.my1 + m.mh * 0.5, 800.0))
       AND greatest(m.mx0 - m.mw * 0.5, 0.0) < t.x1
       AND t.x0 < least(m.mx0, 600.0)
       AND greatest(m.my0 - m.mh * 0.3, 0.0) < t.y1
       AND t.y0 < least(m.my1 + m.mh * 0.3, 800.0)
       AND t.asp < 0.5)
    )
)
SELECT m.main_id,
       least(m.mx0, coalesce(min(c.x0), m.mx0)) AS x0,
       least(m.my0, coalesce(min(c.y0), m.my0)) AS y0,
       greatest(m.mx1, coalesce(max(c.x1), m.mx1)) AS x1,
       greatest(m.my1, coalesce(max(c.y1), m.my1)) AS y1
FROM mains m LEFT JOIN cand c USING (main_id)
GROUP BY m.main_id, m.mx0, m.my0, m.mx1, m.my1
"""


def _j5_drawings(spark, sf_dir):
    """J5 fixture: per page (p % 200) around a constant main rect
    (200,300)-(320,420): right/left siblings (merge), a tall axis, a
    far low-score main (rejected by the >70 gate), and a mid 'unknown'
    rect that only the step-4 intersect pass folds in."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    k = F.col("p_partkey")
    j = (k / 200).cast("long") % 5
    x0 = (F.when(j == 0, 344 + (k % 3) * 2)
          .when(j == 1, 180 - k % 5 - 90)
          .when(j == 2, 100 + k % 13)
          .when(j == 3, F.lit(60))
          .otherwise(F.lit(380))).cast("double")
    y0 = (F.when(j == 0, 300 + k % 7)
          .when(j == 1, F.lit(310))
          .when(j == 2, F.lit(100))
          .when(j == 3, F.lit(700))
          .otherwise(F.lit(380))).cast("double")
    x1 = (F.when(j == 0, 344 + (k % 3) * 2 + 100)
          .when(j == 1, 180 - k % 5)
          .when(j == 2, 100 + k % 13 + 15)
          .when(j == 3, F.lit(160))
          .otherwise(F.lit(460))).cast("double")
    y1 = (F.when(j == 0, 300 + k % 7 + 110)
          .when(j == 1, F.lit(415))
          .when(j == 2, F.lit(200))
          .when(j == 3, F.lit(790))
          .otherwise(F.lit(440))).cast("double")
    return p.select(k.alias("drawing_id"), (k % 200).alias("page_key"),
                    x0.alias("x0"), y0.alias("y0"), x1.alias("x1"),
                    y1.alias("y1"))


_J5_DRAW_SQL = """
draw AS (
  SELECT p_partkey AS drawing_id, p_partkey % 200 AS page_key,
    (CASE WHEN (p_partkey // 200) % 5 = 0 THEN 344 + (p_partkey % 3) * 2
          WHEN (p_partkey // 200) % 5 = 1 THEN 180 - p_partkey % 5 - 90
          WHEN (p_partkey // 200) % 5 = 2 THEN 100 + p_partkey % 13
          WHEN (p_partkey // 200) % 5 = 3 THEN 60
          ELSE 380 END)::DOUBLE AS x0,
    (CASE WHEN (p_partkey // 200) % 5 = 0 THEN 300 + p_partkey % 7
          WHEN (p_partkey // 200) % 5 = 1 THEN 310
          WHEN (p_partkey // 200) % 5 = 2 THEN 100
          WHEN (p_partkey // 200) % 5 = 3 THEN 700
          ELSE 380 END)::DOUBLE AS y0,
    (CASE WHEN (p_partkey // 200) % 5 = 0 THEN 344 + (p_partkey % 3) * 2 + 100
          WHEN (p_partkey // 200) % 5 = 1 THEN 180 - p_partkey % 5
          WHEN (p_partkey // 200) % 5 = 2 THEN 100 + p_partkey % 13 + 15
          WHEN (p_partkey // 200) % 5 = 3 THEN 160
          ELSE 460 END)::DOUBLE AS x1,
    (CASE WHEN (p_partkey // 200) % 5 = 0 THEN 300 + p_partkey % 7 + 110
          WHEN (p_partkey // 200) % 5 = 1 THEN 415
          WHEN (p_partkey // 200) % 5 = 2 THEN 200
          WHEN (p_partkey // 200) % 5 = 3 THEN 790
          ELSE 440 END)::DOUBLE AS y1
  FROM part
)
"""


def _j5_chart_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: sibling-chart sequential merge + step-4 intersect fold
    (1406-1485), per-page applyInPandas kernel."""
    from pdf_to_opensearch_spark.ops.charts import merge_sibling_charts

    _ensure_pkg(spark)
    drawings = _j5_drawings(spark, sf_dir)
    mains = (drawings.select("page_key").distinct()
             .select(F.col("page_key").cast("long").alias("main_id"),
                     "page_key",
                     F.lit(200.0).alias("x0"), F.lit(300.0).alias("y0"),
                     F.lit(320.0).alias("x1"), F.lit(420.0).alias("y1")))
    return merge_sibling_charts(mains, drawings, page_width=CH_W,
                                page_height=CH_H)


_J5_SQL = f"""
WITH RECURSIVE {_J5_DRAW_SQL.strip()},
typed AS (
  SELECT *, (x1 - x0) AS w, (y1 - y0) AS h,
         ((x1 - x0) * (y1 - y0)) / 480000.0 AS ar,
         CASE WHEN (y1 - y0) > 0 THEN (x1 - x0) / (y1 - y0)
              ELSE 0.0 END AS asp
  FROM draw
),
cand0 AS (
  SELECT page_key, drawing_id, x0, y0, x1, y1,
    greatest(0.0, 100.0 - abs(360.0 - (y0 + y1) / 2)) * 0.4
    + (least(120.0, y1 - y0) / greatest(120.0, y1 - y0)
       + least(120.0, x1 - x0) / greatest(120.0, x1 - x0)) * 50.0 * 0.3
    + greatest(0.0, 100.0
               - abs(least(abs(x0 - 320.0), abs(x1 - 200.0)) - 24.0)) * 0.3
      AS score
  FROM typed
  WHERE NOT (ar < 0.003 OR asp > 20 OR asp < 0.05 OR w < 20 OR h < 20)
    AND (ar > 0.01 AND asp > 0.2 AND asp < 8.0 AND w > 40 AND h > 40)
    AND NOT (x0 = 200.0 AND y0 = 300.0 AND x1 = 320.0 AND y1 = 420.0)
),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY page_key
                               ORDER BY score DESC, drawing_id) AS rk
  FROM cand0 WHERE score > 70.0
),
pages AS (SELECT DISTINCT page_key FROM draw),
phase1 AS (
  SELECT page_key, 0::BIGINT AS rk, 200.0 AS x0, 300.0 AS y0,
         320.0 AS x1, 420.0 AS y1, FALSE AS any_merged
  FROM pages
  UNION ALL
  SELECT p.page_key, c.rk,
    CASE WHEN c.x0 > p.x1 OR c.x1 < p.x0
         THEN least(p.x0, c.x0) ELSE p.x0 END,
    CASE WHEN c.x0 > p.x1 OR c.x1 < p.x0
         THEN least(p.y0, c.y0) ELSE p.y0 END,
    CASE WHEN c.x0 > p.x1 OR c.x1 < p.x0
         THEN greatest(p.x1, c.x1) ELSE p.x1 END,
    CASE WHEN c.x0 > p.x1 OR c.x1 < p.x0
         THEN greatest(p.y1, c.y1) ELSE p.y1 END,
    p.any_merged OR (c.x0 > p.x1 OR c.x1 < p.x0)
  FROM phase1 p JOIN cand c ON c.page_key = p.page_key AND c.rk = p.rk + 1
),
p1final AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY page_key
                                 ORDER BY rk DESC) AS rr
    FROM phase1
  ) WHERE rr = 1
),
dseq AS (
  SELECT *, row_number() OVER (PARTITION BY page_key
                               ORDER BY drawing_id) AS dk
  FROM draw
),
phase2 AS (
  SELECT page_key, 0::BIGINT AS dk, x0, y0, x1, y1, any_merged FROM p1final
  UNION ALL
  SELECT p.page_key, d.dk,
    CASE WHEN p.any_merged AND p.x0 < d.x1 AND d.x0 < p.x1
              AND p.y0 < d.y1 AND d.y0 < p.y1
         THEN least(p.x0, d.x0) ELSE p.x0 END,
    CASE WHEN p.any_merged AND p.x0 < d.x1 AND d.x0 < p.x1
              AND p.y0 < d.y1 AND d.y0 < p.y1
         THEN least(p.y0, d.y0) ELSE p.y0 END,
    CASE WHEN p.any_merged AND p.x0 < d.x1 AND d.x0 < p.x1
              AND p.y0 < d.y1 AND d.y0 < p.y1
         THEN greatest(p.x1, d.x1) ELSE p.x1 END,
    CASE WHEN p.any_merged AND p.x0 < d.x1 AND d.x0 < p.x1
              AND p.y0 < d.y1 AND d.y0 < p.y1
         THEN greatest(p.y1, d.y1) ELSE p.y1 END,
    p.any_merged
  FROM phase2 p JOIN dseq d ON d.page_key = p.page_key AND d.dk = p.dk + 1
)
SELECT page_key AS main_id, x0, y0, x1, y1 FROM (
  SELECT *, row_number() OVER (PARTITION BY page_key ORDER BY dk DESC) AS rr
  FROM phase2
) WHERE rr = 1
"""


# -------------------------------------------------------- hybrid retrieval

HYBRID_DEPTH = 20
HYBRID_K0 = 60
# query vector for BM25 query qid is the embedding of vec_id = qid*7
HYBRID_QVECS = {1: 7, 2: 14, 3: 21}


def _hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ∪ kNN with reciprocal-rank fusion over an index whose docs
    table carries the embedding column (the knn_vector field of the
    reference mapping, opensearch_loader.py:226-230)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.hybrid import search_hybrid

    # the shared engine index already carries the embedding column — the
    # round-2 entry paid a FULL second build_index here (57.2s of 161.9s)
    out = _ensure_engine_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = {int(r["vec_id"]): list(r["embedding"]) for r in
            emb.filter(emb.vec_id.isin(list(HYBRID_QVECS.values()))).collect()}
    queries = [(qid, text, qvec[HYBRID_QVECS[qid]])
               for qid, text in BM25_QUERIES.items()]
    return search_hybrid(spark, out, queries, k=BM25_K, depth=HYBRID_DEPTH,
                         k0=HYBRID_K0)


def _hybrid_field_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RRF with the LEXICAL leg on the ``text_prev`` field's
    posting space and the kNN leg on the root docs' embeddings — the
    reference's hybrid applies to any analyzed schema field
    (opensearch_loader.py:386-408 + 873-884); embeddings are
    per-document, so the vector side is field-independent."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.fields import build_field_index
    from pdf_to_opensearch_spark.hybrid import search_hybrid

    out = _ensure_engine_index(spark, sf_dir)
    if out not in _FIELD_INDEXES:
        build_field_index(spark, out, "text_prev")
        _FIELD_INDEXES.add(out)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = {int(r["vec_id"]): list(r["embedding"]) for r in
            emb.filter(emb.vec_id.isin(list(HYBRID_QVECS.values()))).collect()}
    queries = [(qid, text, qvec[HYBRID_QVECS[qid]])
               for qid, text in BM25_QUERIES.items()]
    return search_hybrid(spark, out, queries, k=BM25_K, depth=HYBRID_DEPTH,
                         k0=HYBRID_K0, field="text_prev")


def _hybrid_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RRF with the metadata filter context applied to BOTH the
    lexical and the vector side (the reference's bool/filter attaches to
    any query type, opensearch_loader.py:873-884)."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.hybrid import search_hybrid

    out = _ensure_engine_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = {int(r["vec_id"]): list(r["embedding"]) for r in
            emb.filter(emb.vec_id.isin(list(HYBRID_QVECS.values()))).collect()}
    queries = [(qid, text, qvec[HYBRID_QVECS[qid]])
               for qid, text in BM25_QUERIES.items()]
    return search_hybrid(spark, out, queries, k=BM25_K, depth=HYBRID_DEPTH,
                         k0=HYBRID_K0, doc_filter=FILTER_PRED)


def _hybrid_oracle_sql(cand_where: str = "",
                       docs_src: str | None = None) -> str:
    """RRF oracle; ``cand_where`` restricts candidate docs on BOTH lists
    (bm scores and knn scan) while BM25 stats stay corpus-global.
    ``docs_src`` replaces the LEXICAL leg's corpus SELECT (the per-field
    hybrid entry fuses BM25-over-lag(text) with root-docs kNN — the kNN
    leg always scans per-document embeddings)."""
    bm_cand = (f"WHERE tf.doc_id IN (SELECT doc_id FROM documents "
               f"WHERE {cand_where})" if cand_where else "")
    knn_cand = (f"WHERE e.vec_id IN (SELECT doc_id FROM documents "
                f"WHERE {cand_where})" if cand_where else "")
    corpus = f"({docs_src})" if docs_src else "documents"
    qvals = ", ".join(
        f"({qid}, '{t}')"
        for qid, t in sorted({(qid, t) for qid, q in BM25_QUERIES.items()
                              for t in q.split()}))
    qv_vals = ", ".join(f"({q}, {v})" for q, v in sorted(HYBRID_QVECS.items()))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM {corpus}
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM {corpus}),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(query_id, term) AS (VALUES {qvals}),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  {bm_cand}
  GROUP BY 1, 2
),
bm AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rank
    FROM scores
  ) WHERE rank <= {HYBRID_DEPTH}
),
qv(query_id, qvec_id) AS (VALUES {qv_vals}),
knn AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT qv.query_id, e.vec_id AS doc_id,
           row_number() OVER (
             PARTITION BY qv.query_id
             ORDER BY list_cosine_similarity(qe.embedding, e.embedding)
                      DESC, e.vec_id) AS rank
    FROM qv
    JOIN embeddings qe ON qe.vec_id = qv.qvec_id
    CROSS JOIN embeddings e
    {knn_cand}
  ) WHERE rank <= {HYBRID_DEPTH}
),
contrib AS (
  SELECT query_id, doc_id, 1.0 / ({HYBRID_K0} + rank) AS c FROM bm
  UNION ALL
  SELECT query_id, doc_id, 1.0 / ({HYBRID_K0} + rank) AS c FROM knn
),
fused AS (
  SELECT query_id, doc_id, round(sum(c), 6) AS rrf
  FROM contrib GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, rrf FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id)::INTEGER AS rank,
         doc_id, rrf
  FROM fused
) WHERE rank <= {BM25_K}
"""


def _c9_json_extract(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parsed = F.from_json(F.col("props"), "k int")
    return (ev.select("event_id", parsed.getField("k").alias("k"))
            .filter(F.col("k").isNotNull()))


_C9_SQL = """
SELECT event_id, CAST(props->>'k' AS INTEGER) AS k
FROM events WHERE props->>'k' IS NOT NULL
"""

def _extra_queries():
    return {
        "j1_nearest_match": _j1_nearest,
        "j2_caption_fallback": _j2_caption_fallback,
        "j6_best_iou": _j6_best_iou,
        "f1_dispatch": _f1_dispatch,
        "a2_indent_hist": _a2_indent_hist,
        "c19_table_render": _c19_table_render,
        "s9_markdown_render": _s9_markdown_render,
        "c1_nfc_normalize": _c1_nfc_normalize,
        "f11_nearest_threshold": _f11_nearest_threshold,
        "c10_date_format": _c10_date_format,
        "f9_blank_canon": _f9_blank_canon,
        "f2_font_classes": _f2_font_classes,
        "j8_delete_requery": _j8_delete_requery,
        "ann_ivf_topk": _ann_ivf_topk,
        "bpe_token_counts": _bpe_token_counts,
        "stream_windowed_counts": _stream_windowed_counts,
        "f4b_overlap_anti": _f4b_overlap_anti,
        "w4_percent_rank": _w4_percent_rank,
        "a5_envelope": _a5_envelope,
        "u3_except": _u3_except,
        "c9_json_extract": _c9_json_extract,
        "hybrid_topk": _hybrid_topk,
        "a4_margin_bands": _a4_margin_bands,
        "j3_scored_match": _j3_scored_match,
        "j4_axis_merge": _j4_axis_merge,
        "j5_chart_merge": _j5_chart_merge,
        "c_scalars": _c_scalars,
    }


def _extra_oracles():
    return {
        "j1_nearest_match": _J1_SQL,
        "j2_caption_fallback": _J2_SQL,
        "j6_best_iou": _J6_SQL,
        "f1_dispatch": _F1_SQL,
        "a2_indent_hist": _A2_SQL,
        "c19_table_render": _C19_SQL,
        "s9_markdown_render": _S9_SQL,
        "c1_nfc_normalize": _C1_SQL,
        "f11_nearest_threshold": _F11_SQL,
        "c10_date_format": _C10_SQL,
        "f9_blank_canon": _F9_SQL,
        "f2_font_classes": _F2_SQL,
        "j8_delete_requery": _bm25_oracle_sql(
            docs_where="WHERE doc_id % 17 <> 0"),
        "ann_ivf_topk": _ivf_oracle_sql(),
        "bpe_token_counts": _bpe_oracle(),
        "stream_windowed_counts": _STREAM_WIN_SQL,
        "f4b_overlap_anti": _F4B_SQL,
        "w4_percent_rank": _W4_SQL,
        "a5_envelope": _A5_SQL,
        "u3_except": _U3_SQL,
        "c9_json_extract": _C9_SQL,
        "hybrid_topk": _hybrid_oracle_sql(),
        "a4_margin_bands": _A4_BANDS_SQL,
        "j3_scored_match": _J3_SQL,
        "j4_axis_merge": _J4_SQL,
        "j5_chart_merge": _J5_SQL,
        "c_scalars": _C_SCALARS_SQL,
    }


def _last_verified_round() -> dict[str, int]:
    """Per-entry most recent driver round that SAMPLED it (has a row in
    that round's CORRECTNESS_r*.json), derived mechanically from the
    records in the repo root. Entries with no row anywhere are new →
    round -1. A hand-kept priority list goes stale every round (the r4
    list encoded r4 priorities and was exactly wrong for r5); this
    derivation cannot."""
    import glob
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rec.items():
            if isinstance(row, dict):
                last[name] = max(last.get(name, -10), rnd)
    return last


def _reorder(d: dict) -> dict:
    """Least-recently-driver-verified entries FIRST: the driver samples
    the registry in order under a time budget (r3 and r4 each ran 50 of
    the board, so the tail rotates out). Stalest-first ordering keyed on
    the CORRECTNESS_r*.json records guarantees every entry cycles back
    into the sample; never-sampled (new) entries lead outright."""
    last = _last_verified_round()
    names = list(d)
    order = sorted(range(len(names)),
                   key=lambda i: (last.get(names[i], -1), i))
    return {names[i]: d[names[i]] for i in order}


# ------------------------------------------ round-5d widening (aggs II +
# query family: the remaining OpenSearch search-body surfaces)

PCTRANK_VALUES = (250.0, 500.0)
TOPM_SIZE = 3
DATE_RANGE_BOUNDS = ("2025-02-01", "2025-03-01")
TV_DOC_IDS = [3, 17, 42]
DF_ORIGIN = "2025-02-15 00:00:00"
DF_PIVOT_S = 7 * 86400.0
DF_BOOST = 2.0
PINNED_IDS = {1: [42, 7], 2: [5], 3: [13, 2]}
SPAN_NOT_DIST = 2
SYNONYMS = {"join": ["merge"], "filter": ["window"],
            "customer": ["supplier"]}
NAMED_CLAUSES: dict[int, dict[str, str]] = {
    1: {"lexical": "spark join", "extra": "filter"},
    2: {"who": "customer", "pace": "the slow"},
}


def _percentile_ranks_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_ranks aggregation (exact ECDF): % of hit-set
    length(text) values ≤ each given value —
    boolquery.search_percentile_ranks."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_percentile_ranks

    out = _ensure_engine_index(spark, sf_dir)
    return search_percentile_ranks(spark, out, list(BM25_QUERIES.items()),
                                   value_expr="length(text)",
                                   values=PCTRANK_VALUES)


def _percentile_ranks_oracle_sql() -> str:
    vals = ", ".join(f"({v!r})" for v in PCTRANK_VALUES)
    return f"""{_matches_cte()}
SELECT m.query_id, v.value, round(
         100.0 * count(*) FILTER (WHERE length(d.text) <= v.value)
         / count(*), 4) AS percent
FROM matches m JOIN docs0 d USING (doc_id)
CROSS JOIN (VALUES {vals}) v(value)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _boxplot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boxplot aggregation: min/q1/q2/q3/max of length(text) over the
    hit set (exact interpolated quartiles) — boolquery.search_boxplot."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_boxplot

    out = _ensure_engine_index(spark, sf_dir)
    return search_boxplot(spark, out, list(BM25_QUERIES.items()),
                          value_expr="length(text)")


def _boxplot_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT m.query_id,
       round(min(length(d.text))::DOUBLE, 4) AS vmin,
       round(quantile_cont(length(d.text)::DOUBLE, 0.25), 4) AS q1,
       round(quantile_cont(length(d.text)::DOUBLE, 0.5), 4) AS q2,
       round(quantile_cont(length(d.text)::DOUBLE, 0.75), 4) AS q3,
       round(max(length(d.text))::DOUBLE, 4) AS vmax
FROM matches m JOIN docs0 d USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


def _mad_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """median_absolute_deviation aggregation (exact):
    median(|x − median(x)|) of length(text) — boolquery.search_mad."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_mad

    out = _ensure_engine_index(spark, sf_dir)
    return search_mad(spark, out, list(BM25_QUERIES.items()),
                      value_expr="length(text)")


def _mad_oracle_sql() -> str:
    return f"""{_matches_cte()},
vals AS (
  SELECT m.query_id, length(d.text)::DOUBLE AS v
  FROM matches m JOIN docs0 d USING (doc_id)
),
med AS (SELECT query_id, quantile_cont(v, 0.5) AS med
        FROM vals GROUP BY 1)
SELECT v.query_id,
       round(quantile_cont(abs(v.v - med.med), 0.5), 4) AS mad
FROM vals v JOIN med USING (query_id)
GROUP BY 1 ORDER BY 1
"""


def _string_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string_stats aggregation: doc count, char-length min/max/avg,
    Shannon entropy (log2) of the analyzer token distribution —
    boolquery.search_string_stats."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_string_stats

    out = _ensure_engine_index(spark, sf_dir)
    return search_string_stats(spark, out, list(BM25_QUERIES.items()))


def _string_stats_oracle_sql() -> str:
    return f"""{_matches_cte()},
hits AS (
  SELECT m.query_id, d.doc_id, d.text
  FROM matches m JOIN docs0 d USING (doc_id)
),
lens AS (
  SELECT query_id, count(*)::BIGINT AS doc_count,
         min(length(text))::BIGINT AS min_len,
         max(length(text))::BIGINT AS max_len,
         round(avg(length(text)), 4) AS avg_len
  FROM hits GROUP BY 1
),
tc AS (
  SELECT query_id, term, count(*)::DOUBLE AS c
  FROM (SELECT query_id, unnest({_TOKS_SQL}) AS term FROM hits)
  GROUP BY 1, 2
),
tot AS (SELECT query_id, sum(c) AS total FROM tc GROUP BY 1),
ent AS (
  SELECT tc.query_id,
         round(-sum((c / total) * log2(c / total)), 4) AS entropy
  FROM tc JOIN tot USING (query_id) GROUP BY 1
)
SELECT l.query_id, doc_count, min_len, max_len, avg_len, entropy
FROM lens l JOIN ent USING (query_id) ORDER BY 1
"""


def _top_metrics_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top_metrics aggregation: dl of the TOPM_SIZE hit docs with the
    largest length(text) — boolquery.search_top_metrics."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_top_metrics

    out = _ensure_engine_index(spark, sf_dir)
    return search_top_metrics(spark, out, list(BM25_QUERIES.items()),
                              sort_expr="length(text)", metric_expr="dl",
                              size=TOPM_SIZE)


def _top_metrics_oracle_sql() -> str:
    return f"""{_matches_cte()}
SELECT query_id, rank, doc_id, sort_value, metric FROM (
  SELECT m.query_id, d.doc_id,
         length(d.text)::DOUBLE AS sort_value,
         len({_TOKS_SQL.replace('text', 'd.text')})::DOUBLE AS metric,
         row_number() OVER (
             PARTITION BY m.query_id
             ORDER BY length(d.text) DESC, d.doc_id)::INTEGER AS rank
  FROM matches m JOIN docs0 d USING (doc_id)
) WHERE rank <= {TOPM_SIZE} ORDER BY query_id, rank
"""


def _date_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_range aggregation: hit counts in the half-open crawl-ts
    intervals (from incl, to excl) — boolquery.search_date_range."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_date_range

    out = _ensure_engine_index(spark, sf_dir)
    return search_date_range(spark, out, list(BM25_QUERIES.items()),
                             ts_col="warc_ts",
                             boundaries=DATE_RANGE_BOUNDS)


def _date_range_oracle_sql() -> str:
    b0, b1 = DATE_RANGE_BOUNDS
    return f"""{_matches_cte()},
ts AS (SELECT doc_id, {_WARC_TS_SQL} AS ts FROM docs0)
SELECT m.query_id,
       CASE WHEN t.ts < TIMESTAMP '{b0}' THEN '*..{b0}'
            WHEN t.ts < TIMESTAMP '{b1}' THEN '{b0}..{b1}'
            ELSE '{b1}..*' END AS bucket,
       count(*)::BIGINT AS doc_count
FROM matches m JOIN ts t USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _t_test_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t_test aggregation (paired): Student's t on per-doc
    length(text) − dl over the hit set — boolquery.search_t_test."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_t_test

    out = _ensure_engine_index(spark, sf_dir)
    return search_t_test(spark, out, list(BM25_QUERIES.items()),
                         a_expr="length(text)", b_expr="dl")


def _t_test_oracle_sql() -> str:
    return f"""{_matches_cte()},
diffs AS (
  SELECT m.query_id,
         length(d.text)::DOUBLE - len({_TOKS_SQL.replace('text', 'd.text')}
         )::DOUBLE AS dd
  FROM matches m JOIN docs0 d USING (doc_id)
)
SELECT query_id,
       round(avg(dd) / (stddev_samp(dd) / sqrt(count(*))), 4) AS t_value,
       count(*)::BIGINT AS n
FROM diffs GROUP BY 1 ORDER BY 1
"""


def _termvectors_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_termvectors with term_statistics: per requested doc every
    analyzer term with tf plus corpus df/ttf — boolquery.termvectors."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import termvectors

    out = _ensure_engine_index(spark, sf_dir)
    res = termvectors(spark, out, TV_DOC_IDS)
    return res.select("doc_id", "term",
                      F.col("tf").cast("long").alias("tf"),
                      F.col("df").cast("long").alias("df"),
                      F.col("ttf").cast("long").alias("ttf"))


def _termvectors_oracle_sql() -> str:
    ids = ", ".join(str(i) for i in TV_DOC_IDS)
    return f"""
WITH docs0 AS (SELECT * FROM documents),
toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
  WHERE doc_id IN ({ids}) GROUP BY 1, 2
),
cstats AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
         count(*)::BIGINT AS ttf
  FROM toks GROUP BY 1
)
SELECT t.doc_id, t.term, t.tf, s.df, s.ttf
FROM tf t JOIN cstats s USING (term)
ORDER BY 1, 2
"""


def _distance_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distance_feature (date form) in a bool should: BM25 +
    boost·pivot/(pivot + |warc_ts − origin|), the recency boost —
    boolquery.distance_feature_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import distance_feature_search

    out = _ensure_engine_index(spark, sf_dir)
    return distance_feature_search(spark, out, list(BM25_QUERIES.items()),
                                   origin=DF_ORIGIN, ts_col="warc_ts",
                                   pivot_seconds=DF_PIVOT_S,
                                   boost=DF_BOOST, k=BM25_K)


def _distance_feature_oracle_sql() -> str:
    bonus = (f"{DF_BOOST} * {DF_PIVOT_S} / ({DF_PIVOT_S}"
             f" + abs(epoch(({_WARC_TS_SQL}))"
             f" - epoch(TIMESTAMP '{DF_ORIGIN}')))")
    return f"""{_matches_cte()},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT sc.query_id, sc.doc_id,
         round(sc.score + {bonus}, 4) AS score,
         row_number() OVER (
             PARTITION BY sc.query_id
             ORDER BY round(sc.score + {bonus}, 4) DESC,
                      sc.doc_id)::INTEGER AS rank
  FROM scores sc JOIN docs0 d USING (doc_id)
) WHERE rank <= {BM25_K}
"""


def _pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pinned query: the listed ids occupy the top ranks in list order
    (sentinel scores PINNED_BASE − i), organic BM25 follows —
    boolquery.pinned_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import pinned_search

    out = _ensure_engine_index(spark, sf_dir)
    return pinned_search(spark, out, list(BM25_QUERIES.items()),
                         pinned=PINNED_IDS, k=BM25_K)


def _pinned_oracle_sql() -> str:
    PINNED_BASE = 1_000_000_000.0  # boolquery.PINNED_BASE twin (no
    # package import here: oracle_sql() must stay importable driver-side)
    pin_vals = ", ".join(
        f"({qid}, {d}, {PINNED_BASE - i!r})"
        for qid, ids in sorted(PINNED_IDS.items())
        for i, d in enumerate(ids))
    return f"""
WITH docs0 AS (SELECT * FROM documents),
q(query_id, term) AS (VALUES {_qvals(BM25_QUERIES)}),
{_BM25_CORE_SQL},
pins(query_id, doc_id, score) AS (VALUES {pin_vals}),
organic AS (
  SELECT s.* FROM scores s
  WHERE NOT EXISTS (SELECT 1 FROM pins p
                    WHERE p.query_id = s.query_id
                      AND p.doc_id = s.doc_id)
),
allrows AS (
  SELECT * FROM organic UNION ALL
  SELECT query_id, doc_id::BIGINT, score FROM pins
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM allrows
) WHERE rank <= {BM25_K}
"""


SPAN_NOT_QUERIES: dict[int, str] = {
    1: "join customer",
    2: "hash table",
    3: "group merge",
}


def _span_not_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_not (pre=post=SPAN_NOT_DIST): include-term occurrences with
    no exclude term within ±dist — boolquery.span_not_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import span_not_search

    out = _ensure_engine_index(spark, sf_dir)
    return span_not_search(spark, out, list(SPAN_NOT_QUERIES.items()),
                           dist=SPAN_NOT_DIST, k=BM25_K)


def _span_not_oracle_sql() -> str:
    """span_not oracle: tf = include positions with NO exclude term in
    the ±dist window (negated list_filter), idf = include idf only."""
    parts, idf_parts = [], []
    for qid, q in sorted(SPAN_NOT_QUERIES.items()):
        toks = q.split()
        inc, excludes = toks[0], toks[1:]
        far = "\n                  AND ".join(
            f"""len(list_filter(range(greatest(1, i - {SPAN_NOT_DIST}),
                        least(len(t), i + {SPAN_NOT_DIST}) + 1),
                        j -> t[j] = '{ex}')) = 0"""
            for ex in excludes)
        parts.append(f"""
  SELECT {qid} AS query_id, doc_id, len(t)::DOUBLE AS dl,
         len(list_filter(range(1, len(t) + 1),
             i -> t[i] = '{inc}'
                  AND {far}))::DOUBLE AS tf
  FROM toks""")
        idf_parts.append(f"""  SELECT {qid} AS query_id,
         (SELECT ln(1.0 + (s.n - df + 0.5) / (df + 0.5))
          FROM term_df CROSS JOIN stats s WHERE term = '{inc}') AS idf""")
    body = "\n  UNION ALL\n".join(parts)
    idf_body = "\n  UNION ALL\n".join(idf_parts)
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toks
),
term_df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1
),
pf AS ({body}),
idfs AS ({idf_body}),
scores AS (
  SELECT p.query_id, p.doc_id,
         round(i.idf * p.tf * 2.2
               / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)),
               4) AS score
  FROM pf p JOIN idfs i USING (query_id) CROSS JOIN stats s
  WHERE p.tf >= 1
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


def _synonym_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-time synonym expansion (SynonymQuery semantics: per group
    tf = Σ member tfs, df = max member df) —
    boolquery.synonym_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import synonym_search

    out = _ensure_engine_index(spark, sf_dir)
    return synonym_search(spark, out, list(BM25_QUERIES.items()),
                          synonyms=SYNONYMS, k=BM25_K)


def _synonym_oracle_sql() -> str:
    """SynonymQuery oracle: group tables (query_id, gid, term) from the
    same expansion; tf summed within group per doc, df = max over the
    group's corpus-present members."""
    g_vals = []
    for qid, q in sorted(BM25_QUERIES.items()):
        for gid, t in enumerate(q.split()):
            for m in sorted({t, *SYNONYMS.get(t, [])}):
                g_vals.append(f"({qid}, {gid}, '{m}')")
    groups = ", ".join(g_vals)
    return f"""
WITH docs0 AS (SELECT * FROM documents),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
g(query_id, gid, term) AS (VALUES {groups}),
term_df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM g) GROUP BY 1
),
gdf AS (
  SELECT g.query_id, g.gid, max(td.df) AS df
  FROM g JOIN term_df td USING (term) GROUP BY 1, 2
),
gtf AS (
  SELECT g.query_id, g.gid, tf.doc_id, sum(tf.tf) AS tf
  FROM g JOIN tf USING (term) GROUP BY 1, 2, 3
),
scores AS (
  SELECT gtf.query_id, gtf.doc_id,
         round(sum( ln(1.0 + (s.n - gdf.df + 0.5) / (gdf.df + 0.5))
                    * gtf.tf * 2.2
                    / (gtf.tf + 1.2 * (1.0 - 0.75
                                       + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM gtf
  JOIN gdf USING (query_id, gid) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


def _matched_queries_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """named should clauses + matched_queries annotation: score = Σ
    per-clause BM25, matched = sorted clause names that hit —
    boolquery.named_bool_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import named_bool_search

    out = _ensure_engine_index(spark, sf_dir)
    return named_bool_search(spark, out,
                             [(qid, dict(cl)) for qid, cl
                              in sorted(NAMED_CLAUSES.items())],
                             k=BM25_K)


def _matched_queries_oracle_sql() -> str:
    sub_terms, name_vals = [], []
    width = max(len(cl) for cl in NAMED_CLAUSES.values())
    for qi, (qid, clauses) in enumerate(sorted(NAMED_CLAUSES.items())):
        for ci, (name, text) in enumerate(sorted(clauses.items())):
            sid = qi * width + ci
            name_vals.append(f"({sid}, {qid}, '{name}')")
            for t in sorted(set(text.split())):
                sub_terms.append(f"({sid}, '{t}')")
    return f"""
WITH docs0 AS (SELECT * FROM documents),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM docs0
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len({_TOKS_SQL})::DOUBLE AS dl FROM docs0),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(sub_id, term) AS (VALUES {", ".join(sub_terms)}),
names(sub_id, query_id, name) AS (VALUES {", ".join(name_vals)}),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
),
cl_scores AS (
  SELECT q.sub_id, tf.doc_id,
         round(sum( ln(1.0 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ),
               4) AS score
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
),
agg AS (
  SELECT n.query_id, c.doc_id, round(sum(c.score), 4) AS score,
         string_agg(n.name, ',' ORDER BY n.name) AS matched
  FROM cl_scores c JOIN names n USING (sub_id)
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score, matched FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score, matched
  FROM agg
) WHERE rank <= {BM25_K}
"""


def _split_requery(spark, sf_dir):
    """_split/_shrink: re-shard the engine index 8 → 16 ranges from its
    stored docs (maintenance.reindex at a different num_ranges /
    id_partitions). doc_ids are PRESERVED BY CONSTRUCTION — dense rank
    by url is partition-count-invariant (indexer.assign_doc_ids) — so
    the oracle is the plain corpus BM25: a hash-green row here proves
    rank identity across the resharding, the property that lets an
    operator re-shard a live 10^12-doc index without invalidating any
    stored doc reference."""
    import shutil

    from pdf_to_opensearch_spark.maintenance import reindex
    from pdf_to_opensearch_spark.query import search

    _ensure_pkg(spark)
    src = _ensure_engine_index(spark, sf_dir)
    dst = src + "_split16"
    if dst not in _BUILT_INDEXES:
        shutil.rmtree(dst, ignore_errors=True)
        reindex(spark, src, dst, num_ranges=16, n_buckets=8,
                id_partitions=16)
        _BUILT_INDEXES.add(dst)
    res = search(spark, dst, list(BM25_QUERIES.items()),
                 k=BM25_K + _RERANK_MARGIN, prune=True)
    return _rerank_rounded(res, BM25_K)


BP2_LAG = 2
BP2_MIN = 1
BP2_TOP = 5


def _sibling_bucket_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max/min/avg/sum/stats_bucket sibling pipelines over the weekly
    date_histogram — boolquery.search_sibling_bucket_aggs."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_sibling_bucket_aggs

    out = _ensure_engine_index(spark, sf_dir)
    return search_sibling_bucket_aggs(spark, out,
                                      list(BM25_QUERIES.items()),
                                      ts_col="warc_ts",
                                      calendar_interval=DATE_HIST_INTERVAL)


def _sibling_bucket_oracle_sql() -> str:
    return f"""{_matches_cte()},
ts AS (SELECT doc_id, {_WARC_TS_SQL} AS warc_ts FROM docs0),
buckets AS (
  SELECT m.query_id,
         date_trunc('{DATE_HIST_INTERVAL}', t.warc_ts) AS bucket_start,
         count(*)::BIGINT AS doc_count
  FROM matches m JOIN ts t USING (doc_id) GROUP BY 1, 2
),
winner AS (
  SELECT query_id, bucket_start AS max_key FROM (
    SELECT query_id, bucket_start,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY doc_count DESC,
                                       bucket_start ASC) AS r
    FROM buckets
  ) WHERE r = 1
)
SELECT b.query_id, w.max_key,
       max(doc_count)::BIGINT AS max_count,
       min(doc_count)::BIGINT AS min_count,
       round(avg(doc_count), 4) AS avg_count,
       sum(doc_count)::BIGINT AS sum_count,
       count(*)::BIGINT AS n_buckets
FROM buckets b JOIN winner w USING (query_id)
GROUP BY 1, 2 ORDER BY 1
"""


def _bucket_pipeline2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """serial_diff + bucket_script + bucket_selector + bucket_sort over
    the weekly date_histogram — boolquery.search_bucket_pipeline2."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import search_bucket_pipeline2

    out = _ensure_engine_index(spark, sf_dir)
    return search_bucket_pipeline2(spark, out, list(BM25_QUERIES.items()),
                                   ts_col="warc_ts",
                                   calendar_interval=DATE_HIST_INTERVAL,
                                   lag=BP2_LAG, min_count=BP2_MIN,
                                   top=BP2_TOP)


def _bucket_pipeline2_oracle_sql() -> str:
    return f"""{_matches_cte()},
ts AS (SELECT doc_id, {_WARC_TS_SQL} AS warc_ts FROM docs0),
buckets AS (
  SELECT m.query_id,
         date_trunc('{DATE_HIST_INTERVAL}', t.warc_ts) AS bucket_start,
         count(*)::BIGINT AS doc_count
  FROM matches m JOIN ts t USING (doc_id) GROUP BY 1, 2
),
staged AS (
  SELECT query_id, bucket_start, doc_count,
         (doc_count - lag(doc_count, {BP2_LAG}) OVER (
              PARTITION BY query_id ORDER BY bucket_start))::BIGINT
             AS serial_diff,
         round(doc_count / sum(doc_count) OVER (PARTITION BY query_id),
               4) AS ratio
  FROM buckets
)
SELECT query_id, rank, bucket_start, doc_count, serial_diff, ratio
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY doc_count DESC,
                                        bucket_start ASC)::INTEGER AS rank
  FROM staged WHERE doc_count >= {BP2_MIN}
) WHERE rank <= {BP2_TOP} ORDER BY query_id, rank
"""


def _mget_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_mget: point-fetch stored fields for an id list —
    boolquery.mget."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import mget

    out = _ensure_engine_index(spark, sf_dir)
    res = mget(spark, out, TV_DOC_IDS, cols=("url", "lang", "dl"))
    return res.select("doc_id", "url", "lang",
                      F.col("dl").cast("long").alias("dl"))


def _mget_oracle_sql() -> str:
    ids = ", ".join(str(i) for i in TV_DOC_IDS)
    return f"""
SELECT doc_id,
       'doc://' || lpad(doc_id::VARCHAR, 10, '0') AS url,
       lang,
       len({_TOKS_SQL})::BIGINT AS dl
FROM documents WHERE doc_id IN ({ids}) ORDER BY doc_id
"""


INTERVALS_QUERIES: dict[int, str] = {
    1: "hash table",
    2: "customer join filter",
    3: "group merge",
}
INTERVALS_GAPS = 3


def _intervals_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervals match (ordered=true, max_gaps): greedy minimal ordered
    chain per anchor — boolquery.intervals_search."""
    _ensure_pkg(spark)
    from pdf_to_opensearch_spark.boolquery import intervals_search

    out = _ensure_engine_index(spark, sf_dir)
    return intervals_search(spark, out, list(INTERVALS_QUERIES.items()),
                            max_gaps=INTERVALS_GAPS, k=BM25_K)


def _intervals_oracle_sql() -> str:
    """intervals oracle: the greedy minimal chain inlined as nested
    list_min(list_filter(range(p+1, …))) expressions per query (NULL
    propagation kills broken chains), slack ≤ max_gaps."""
    parts, idf_parts = [], []
    for qid, q in sorted(INTERVALS_QUERIES.items()):
        toks = q.split()
        p = "i"
        for t in toks[1:]:
            p = (f"""list_min(list_filter(range(({p}) + 1, len(t) + 1),
                        j -> t[j] = '{t}'))""")
        cond = f"({p}) - i - {len(toks) - 1} <= {INTERVALS_GAPS}"
        parts.append(f"""
  SELECT {qid} AS query_id, doc_id, len(t)::DOUBLE AS dl,
         len(list_filter(range(1, len(t) + 1),
             i -> t[i] = '{toks[0]}'
                  AND ({cond})))::DOUBLE AS tf
  FROM toks""")
        s_idf = " + ".join(
            f"""(SELECT ln(1.0 + (s.n - df + 0.5) / (df + 0.5))
                 FROM term_df CROSS JOIN stats s WHERE term = '{t}')"""
            for t in toks)
        idf_parts.append(f"  SELECT {qid} AS query_id, {s_idf} AS idf")
    body = "\n  UNION ALL\n".join(parts)
    idf_body = "\n  UNION ALL\n".join(idf_parts)
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toks
),
term_df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1
),
pf AS ({body}),
idfs AS ({idf_body}),
scores AS (
  SELECT p.query_id, p.doc_id,
         round(i.idf * p.tf * 2.2
               / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)),
               4) AS score
  FROM pf p JOIN idfs i USING (query_id) CROSS JOIN stats s
  WHERE p.tf >= 1
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id)::INTEGER AS rank,
         doc_id, score
  FROM scores
) WHERE rank <= {BM25_K}
"""


# ------------------------------------------------------------ registries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The oracle board: entry name → engine function (sf_dir → frame),
    least-recently-driver-verified first (:func:`_reorder`)."""
    return _reorder({
        "bm25_brute_topk": _brute_bm25,
        "bm25_engine_topk": _engine_bm25,
        "phrase_topk": _phrase_topk,
        "corpus_stats": _corpus_stats,
        "term_df_topk": _term_df_topk,
        "doc_token_counts": _doc_token_counts,
        "w2_lag_lead": _w2_lag_lead,
        "a1_modal_argmax": _a1_modal_argmax,
        "w7_topk_per_group": _w7_topk_per_group,
        "f4_anti_join": _f4_anti_join,
        "w5_sessionize": _w5_sessionize,
        "a4_repeated_patterns": _a4_repeated_patterns,
        "a3_median": _a3_median,
        "w6_para_merge": _w6_para_merge,
        "dedup_exact": _dedup_exact,
        "fingerprints": _fingerprints,
        "quality_scores": _quality,
        "lang_id": _lang_id,
        "minhash_pairs": _minhash_pairs,
        "simhash_pairs": _simhash_pairs,
        "minhash_pairs_md5": _minhash_pairs_md5,
        "simhash_pairs_md5": _simhash_pairs_md5,
        "ann_cosine_topk": _ann_topk,
        "ann_l2_topk": _ann_l2_topk,
        "ann_lsh_topk": _lsh_topk,
        "embedding_near_dups": _embedding_near_dups,
        "chunk_stats": _chunk_stats,
        **_extra_queries(),
        "bm25_filtered_topk": _bm25_filtered_topk,
        "phrase_topk_filtered": _phrase_topk_filtered,
        "bm25_field_topk": _bm25_field_topk,
        "phrase_field_topk": _phrase_field_topk,
        "hybrid_field_topk": _hybrid_field_topk,
        "hybrid_topk_filtered": _hybrid_topk_filtered,
        "dedup_clusters": _dedup_clusters,
        "clean_corpus": _clean_corpus,
        "bool_search_topk": _bool_search_topk,
        "prefix_topk": _prefix_topk,
        "facet_counts": _facet_counts,
        "highlight_topk": _highlight_topk,
        "fuzzy_topk": _fuzzy_topk,
        "wildcard_topk": _wildcard_topk,
        "mlt_topk": _mlt_topk,
        "multi_match_topk": _multi_match_topk,
        "multi_match_best_topk": _multi_match_best_topk,
        "histogram_facets": _histogram_facets,
        "phrase_slop_topk": _phrase_slop_topk,
        "significant_terms": _significant_terms,
        "bm25_page2": _bm25_page2,
        "explain_topk": _explain_topk,
        "msm_topk": _msm_topk,
        "term_suggest": _term_suggest,
        "stats_agg": _stats_agg,
        "percentiles_agg": _percentiles_agg,
        "cardinality_agg": _cardinality_agg,
        "date_histogram": _date_histogram,
        "top_hits_agg": _top_hits_agg,
        "dismax_tb_topk": _dismax_tb_topk,
        "regexp_topk": _regexp_topk,
        "boosting_topk": _boosting_topk,
        "force_merge_requery": _force_merge_requery,
        "rescore_topk": _rescore_topk,
        "query_string_topk": _query_string_topk,
        "collapse_topk": _collapse_topk,
        "range_agg": _range_agg,
        "filters_agg": _filters_agg,
        "composite_agg": _composite_agg,
        "adjacency_matrix": _adjacency_matrix,
        "matrix_stats": _matrix_stats,
        "sorted_search": _sorted_search,
        "constant_score": _constant_score,
        "function_score_topk": _function_score_topk,
        "extended_stats_agg": _extended_stats_agg,
        "weighted_avg_agg": _weighted_avg_agg,
        "missing_agg": _missing_agg,
        "global_agg": _global_agg,
        "pipeline_aggs": _pipeline_aggs,
        "decay_score_topk": _decay_score_topk,
        "script_score_topk": _script_score_topk,
        "random_score_topk": _random_score_topk,
        "span_first_topk": _span_first_topk,
        "span_near_topk": _span_near_topk,
        "match_phrase_prefix_topk": _mpp_topk,
        "rare_terms_agg": _rare_terms_agg,
        "multi_terms_agg": _multi_terms_agg,
        "auto_date_histogram": _auto_date_histogram,
        "reindex_requery": _reindex_requery,
        "scroll_export": _scroll_export,
        "rank_feature_topk": _rank_feature_topk,
        "phrase_suggest": _phrase_suggest,
        "analyze_api": _analyze_api,
        "exists_topk": _exists_topk,
        "ids_topk": _ids_topk,
        "terms_keyword_topk": _terms_keyword_topk,
        "sampler_agg": _sampler_agg,
        "diversified_sampler_agg": _diversified_sampler_agg,
        "count_api": _count_api,
        "completion_suggest": _completion_suggest,
        "percolate_matches": _percolate_matches,
        "percentile_ranks_agg": _percentile_ranks_agg,
        "boxplot_agg": _boxplot_agg,
        "mad_agg": _mad_agg,
        "string_stats_agg": _string_stats_agg,
        "top_metrics_agg": _top_metrics_agg,
        "date_range_agg": _date_range_agg,
        "t_test_agg": _t_test_agg,
        "termvectors_api": _termvectors_api,
        "distance_feature_topk": _distance_feature_topk,
        "pinned_topk": _pinned_topk,
        "span_not_topk": _span_not_topk,
        "synonym_topk": _synonym_topk,
        "matched_queries_topk": _matched_queries_topk,
        "split_requery": _split_requery,
        "sibling_bucket_aggs": _sibling_bucket_aggs,
        "bucket_pipeline2": _bucket_pipeline2,
        "mget_api": _mget_api,
        "intervals_topk": _intervals_topk,
    })


def oracle_sql() -> dict[str, str]:
    """Entry name → DuckDB SQL whose result the entry must equal."""
    from pdf_to_opensearch_spark.ops.textstats import (
        fingerprints_oracle_sql,
        lang_id_oracle_sql,
        quality_scores_oracle_sql,
    )

    out = _reorder({
        "bm25_brute_topk": _bm25_oracle_sql(),
        "bm25_engine_topk": _bm25_oracle_sql(),
        "phrase_topk": _phrase_oracle_sql(),
        "corpus_stats": _CORPUS_STATS_SQL,
        "term_df_topk": _TERM_DF_SQL,
        "doc_token_counts": _DOC_TOKEN_SQL,
        "w2_lag_lead": _W2_SQL,
        "a1_modal_argmax": _A1_SQL,
        "w7_topk_per_group": _W7_SQL,
        "f4_anti_join": _F4_SQL,
        "w5_sessionize": _W5_SQL,
        "a4_repeated_patterns": _A4_SQL,
        "a3_median": _A3_SQL,
        "w6_para_merge": _W6_SQL,
        "dedup_exact": _DEDUP_EXACT_SQL,
        "fingerprints": fingerprints_oracle_sql(),
        "quality_scores": quality_scores_oracle_sql(),
        "lang_id": lang_id_oracle_sql(),
        "ann_cosine_topk": _ANN_SQL,
        "ann_l2_topk": _ANN_L2_SQL,
        "ann_lsh_topk": _lsh_oracle_sql(),
        "embedding_near_dups": _EMB_DUPS_SQL,
        "chunk_stats": _chunk_stats_oracle_sql(),
        "minhash_pairs_md5": _minhash_md5_oracle_sql(),
        "simhash_pairs_md5": _simhash_md5_oracle_sql(),
        "minhash_pairs": _jaccard_allpairs_oracle_sql(),
        # simhash_pairs (xxhash64 production family): hamming over
        # xxhash64 isn't SQL-computable, so the oracle is a VALUES literal
        # of the expected pair set, independently derived from the public
        # XXH64 spec by tools/derive_simhash_pairs.py (see note at
        # _SIMHASH_XX_VALUES); the md5 twin oracle-checks the full
        # pipeline in SQL and tests/test_ops.py pins family agreement on a
        # planted fixture.
        "simhash_pairs": _SIMHASH_XX_SQL,
        **_extra_oracles(),
        "bm25_filtered_topk": _bm25_oracle_sql(cand_where=FILTER_PRED),
        "msm_topk": _bm25_oracle_sql(msm=_resolved_msm()),
        "term_suggest": _suggest_oracle_sql(),
        "stats_agg": _stats_agg_oracle_sql(),
        "percentiles_agg": _percentiles_oracle_sql(),
        "cardinality_agg": _cardinality_oracle_sql(),
        "date_histogram": _date_histogram_oracle_sql(),
        "top_hits_agg": _top_hits_oracle_sql(),
        "phrase_topk_filtered": _phrase_oracle_sql(cand_where=FILTER_PRED),
        "bm25_field_topk": _bm25_oracle_sql(docs_src=_FIELD_DOCS_SRC),
        "phrase_field_topk": _phrase_oracle_sql(docs_src=_FIELD_DOCS_SRC),
        "hybrid_field_topk": _hybrid_oracle_sql(docs_src=_FIELD_DOCS_SRC),
        "hybrid_topk_filtered": _hybrid_oracle_sql(cand_where=FILTER_PRED),
        "dedup_clusters": _dedup_clusters_oracle_sql(),
        "clean_corpus": _clean_corpus_oracle_sql(),
        "bool_search_topk": _bool_oracle_sql(),
        "prefix_topk": _prefix_oracle_sql(),
        "facet_counts": _facet_oracle_sql(),
        "highlight_topk": _highlight_oracle_sql(),
        "fuzzy_topk": _fuzzy_oracle_sql(),
        "wildcard_topk": _wildcard_oracle_sql(),
        "mlt_topk": _mlt_oracle_sql(),
        "multi_match_topk": _mm_oracle_sql("most_fields"),
        "multi_match_best_topk": _mm_oracle_sql("best_fields"),
        "dismax_tb_topk": _mm_oracle_sql("best_fields",
                                         tie_breaker=DISMAX_TB),
        "regexp_topk": _regexp_oracle_sql(),
        "boosting_topk": _boosting_oracle_sql(),
        "force_merge_requery": _bm25_oracle_sql(docs_src=_fm_docs_src_sql()),
        "rescore_topk": _rescore_oracle_sql(),
        "query_string_topk": _qs_oracle_sql(),
        "collapse_topk": _collapse_oracle_sql(),
        "histogram_facets": _histogram_oracle_sql(),
        "phrase_slop_topk": _phrase_oracle_sql(slop=PHRASE_SLOP),
        "significant_terms": _significant_terms_oracle_sql(),
        "bm25_page2": _bm25_oracle_sql(page=2),
        "explain_topk": _explain_oracle_sql(),
        "range_agg": _range_agg_oracle_sql(),
        "filters_agg": _filters_agg_oracle_sql(),
        "composite_agg": _composite_agg_oracle_sql(),
        "adjacency_matrix": _adjacency_matrix_oracle_sql(),
        "matrix_stats": _matrix_stats_oracle_sql(),
        "sorted_search": _sorted_search_oracle_sql(),
        "constant_score": _constant_score_oracle_sql(),
        "function_score_topk": _function_score_oracle_sql(),
        "extended_stats_agg": _extended_stats_oracle_sql(),
        "weighted_avg_agg": _weighted_avg_oracle_sql(),
        "missing_agg": _missing_agg_oracle_sql(),
        "global_agg": _global_agg_oracle_sql(),
        "pipeline_aggs": _pipeline_aggs_oracle_sql(),
        "decay_score_topk": _decay_score_oracle_sql(),
        "script_score_topk": _script_score_oracle_sql(),
        "random_score_topk": _random_score_oracle_sql(),
        "span_first_topk": _span_first_oracle_sql(),
        "span_near_topk": _span_near_oracle_sql(),
        "match_phrase_prefix_topk": _mpp_oracle_sql(),
        "rare_terms_agg": _rare_terms_oracle_sql(),
        "multi_terms_agg": _multi_terms_oracle_sql(),
        "auto_date_histogram": _auto_dh_oracle_sql(),
        "reindex_requery": _bm25_oracle_sql(docs_src=_REINDEX_DOCS_SRC),
        "scroll_export": _scroll_oracle_sql(),
        "rank_feature_topk": _rank_feature_oracle_sql(),
        "phrase_suggest": _phrase_suggest_oracle_sql(),
        "analyze_api": _analyze_api_oracle_sql(),
        "exists_topk": _exists_oracle_sql(),
        "ids_topk": _ids_oracle_sql(),
        "terms_keyword_topk": _terms_keyword_oracle_sql(),
        "sampler_agg": _sampler_oracle_sql(),
        "diversified_sampler_agg": _diversified_sampler_oracle_sql(),
        "count_api": _count_api_oracle_sql(),
        "completion_suggest": _completion_oracle_sql(),
        "percolate_matches": _percolate_oracle_sql(),
    })
    # these trail the reordered block: oracle_sql()'s key order is part
    # of its output and stays fixed
    out.update({
        "percentile_ranks_agg": _percentile_ranks_oracle_sql(),
        "boxplot_agg": _boxplot_oracle_sql(),
        "mad_agg": _mad_oracle_sql(),
        "string_stats_agg": _string_stats_oracle_sql(),
        "top_metrics_agg": _top_metrics_oracle_sql(),
        "date_range_agg": _date_range_oracle_sql(),
        "t_test_agg": _t_test_oracle_sql(),
        "termvectors_api": _termvectors_oracle_sql(),
        "distance_feature_topk": _distance_feature_oracle_sql(),
        "pinned_topk": _pinned_oracle_sql(),
        "span_not_topk": _span_not_oracle_sql(),
        "synonym_topk": _synonym_oracle_sql(),
        "matched_queries_topk": _matched_queries_oracle_sql(),
        "split_requery": _bm25_oracle_sql(),
        "sibling_bucket_aggs": _sibling_bucket_oracle_sql(),
        "bucket_pipeline2": _bucket_pipeline2_oracle_sql(),
        "mget_api": _mget_oracle_sql(),
        "intervals_topk": _intervals_oracle_sql(),
    })
    return out
