"""``multi_match`` — one query scored across several analyzed fields.

The reference's indexed unit declares three independently analyzed text
fields (chunk_text_current/previous/next, opensearch_loader.py:210-237);
OpenSearch's ``multi_match`` scores one query string against any subset
of them with per-field boosts. Lucene executes it as a document-at-a-time
disjunction over per-field scorers — each field contributes its own BM25
(own postings, own norms/avgdl, own df) and the per-doc combination is

* ``most_fields`` — Σ over fields of ``boost_f · BM25_f(q, doc)``;
* ``best_fields`` — max over fields (tie_breaker 0, Lucene's
  DisjunctionMaxQuery default).

Spark-first shape: every field's posting space shares the SAME doc-range
partitioning (fields.build_field_index projects the root docs file-per-
range), so the union of the per-field term-pruned postings scans groups
by ``range_id`` into ONE ``applyInPandas`` kernel that scores all fields
of a range locally and emits a per-range top-k. No per-field match set
is ever materialized or shuffled across fields — the only shuffle is the
same postings→range group the single-field engine already pays, followed
by the global top-k window over ≤ ranges·k rows.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tablefs
from .analyzer import tokenize_text
from .fields import field_root
from .indexer import IndexPaths, _postings_arrow_schema, bucket_of
from .query import (
    RANKED,
    RESULT_SCHEMA,
    PostingsRange,
    _emit,
    _filter_in,
    _topk,
    load_stats,
    ranked_topk,
    term_stats,
)

_ROOT_NAMES = (None, "current", "text")


def _mm_kernel(qinfos: dict, boosts: dict, fparams: dict, k: int, mode: str,
               tie_breaker: float = 0.0):
    """Per-range multi-field scorer over one :class:`.query.PostingsRange`
    of every field's rows, keyed by (field, term) — the fields share the
    range's doc columns. ``qinfos``: {field: {query_id: {term:
    idf·count}}}; ``fparams``: {field: (avgdl, k1, b)} — per-field norms,
    exactly Lucene's per-field similarity state.

    The engine's one accumulation rule, per field: the field's term
    contributions (``boost · weight · tf_norm``) are added in term order
    into a zeroed array over the range's doc columns — Lucene sums clause
    scores inside each field's BooleanQuery. The fields' arrays then
    combine elementwise: sum (``most_fields``), max (``best_fields``), or
    with ``tie_breaker`` DisjunctionMaxQuery's max + tie_breaker·(sum −
    max). A doc with no posting in a field holds 0 there, which changes
    neither the sum nor the max of positive scores; a boost may be 0, so
    the hits are the docs with a posting of any of the query's terms."""

    best = mode == "best_fields"
    tb = float(tie_breaker)
    qids = sorted({qid for qi in qinfos.values() for qid in qi})

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rng = PostingsRange.from_pandas(
            pdf, keys=list(zip(pdf["fld"], pdf["term"])))
        width = rng.width
        hit = np.empty(width, dtype=bool)
        out: list = []
        for qid in qids:
            fields = []
            hit[:] = False
            for fld, qi in qinfos.items():
                live = [(t, w) for t, w in (qi.get(qid) or {}).items()
                        if (fld, t) in rng]
                if not live:
                    continue
                norm = rng.norm(*fparams[fld])
                acc = np.zeros(width)
                for t, w in live:
                    s = rng.span((fld, t))
                    cols = rng.col[s]
                    acc[cols] += boosts[fld] * w * norm[s]
                    hit[cols] = True
                fields.append(acc)
            if not fields:
                continue
            total = fields[0].copy()
            for acc in fields[1:]:
                total += acc
            if best:
                top = np.maximum.reduce(fields)
                total = top + tb * (total - top) if tb > 0.0 else top
            cols = np.flatnonzero(hit)
            _topk(qid, cols + rng.lo, total[cols], k, out)
        return _emit(out)

    return kernel


def multi_match(spark: SparkSession, index_dir: str,
                queries: list[tuple[int, str]], fields: dict[str, float],
                k: int = 10, mode: str = "most_fields",
                tie_breaker: float = 0.0) -> DataFrame:
    """``multi_match`` over the root index and its field posting spaces.

    ``fields``: {field_name: boost} — ``'text'``/``'current'`` (or None)
    addresses the root index; any other name must have been built with
    :func:`.fields.build_field_index`. ``mode``: ``most_fields`` (sum of
    per-field BM25) or ``best_fields`` (DisjunctionMaxQuery: max over
    fields plus ``tie_breaker`` × the runner-up fields' total — 0 is
    Lucene's pure dis_max default).
    """
    if mode not in ("most_fields", "best_fields"):
        raise ValueError(
            f"mode must be 'most_fields' or 'best_fields', got {mode!r}")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1]: {tie_breaker}")
    if not fields:
        raise ValueError("fields must name at least one analyzed field")
    froots = {f: (index_dir if f in _ROOT_NAMES else field_root(index_dir, f))
              for f in fields}
    stats = {f: load_stats(spark, froots[f]) for f in fields}
    q_terms = {int(qid): tokenize_text(text) for qid, text in queries}
    q_terms = {qid: ts for qid, ts in q_terms.items() if ts}
    terms = sorted({t for ts in q_terms.values() for t in ts})
    if not terms:
        return spark.createDataFrame([], RANKED)

    qinfos: dict[str, dict] = {}
    scans = []
    for f in fields:
        paths_f = IndexPaths(froots[f])
        _dfs, idfs = term_stats(spark, paths_f, stats[f], terms)
        qi = {}
        for qid, ts in q_terms.items():
            ti = {t: idfs[t] * c for t, c in Counter(ts).items() if t in idfs}
            if ti:
                qi[qid] = ti
        if not qi:
            continue
        qinfos[f] = qi
        live = sorted({t for ti in qi.values() for t in ti})
        buckets = sorted({bucket_of(t, stats[f].n_buckets) for t in live})
        scans.append(_filter_in(
            tablefs.spark_read(spark, paths_f.postings,
                               _postings_arrow_schema())
            .filter(F.col("bucket").isin(buckets)), "term", live)
            .withColumn("fld", F.lit(f)))
    if not scans:
        return spark.createDataFrame([], RANKED)
    postings = scans[0]
    for s in scans[1:]:
        postings = postings.unionByName(s)
    kern = _mm_kernel(qinfos, dict(fields),
                      {f: (s.avgdl, s.k1, s.b) for f, s in stats.items()},
                      k, mode, tie_breaker=tie_breaker)
    per_range = (postings.groupBy("range_id")
                 .applyInPandas(kern, schema=RESULT_SCHEMA))
    return ranked_topk(per_range, k)
