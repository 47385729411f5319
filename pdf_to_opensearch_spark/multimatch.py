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
from .codec import decode_postings, tf_norm
from .fields import field_root
from .indexer import IndexPaths, _postings_arrow_schema, bucket_of
from .query import (
    RANKED,
    RESULT_SCHEMA,
    _filter_in,
    load_stats,
    ranked_topk,
    result_frame,
    term_stats,
)

_ROOT_NAMES = (None, "current", "text")


def _mm_kernel(qinfos: dict, boosts: dict, fparams: dict, k: int, mode: str,
               tie_breaker: float = 0.0):
    """Per-range multi-field scorer. ``qinfos``: {field: {query_id: {term:
    idf·count}}}; ``fparams``: {field: (avgdl, k1, b)} — per-field norms,
    exactly Lucene's per-field similarity state. ``tie_breaker`` (best
    mode only) is DisjunctionMaxQuery's: max + tie_breaker·(sum − max)."""

    best = mode == "best_fields"
    tb = float(tie_breaker)

    def _segment(ids: np.ndarray, sc: np.ndarray, combine) -> tuple:
        order = np.argsort(ids, kind="stable")
        ids_s, sc_s = ids[order], sc[order]
        chg = np.empty(ids_s.size, dtype=bool)
        chg[0] = True
        chg[1:] = ids_s[1:] != ids_s[:-1]
        starts = np.flatnonzero(chg)
        return ids_s[starts], combine(sc_s, starts)

    def score_range(pdf: pd.DataFrame) -> pd.DataFrame:
        by_ft: dict[tuple, dict] = {}
        for rec in pdf.to_dict("records"):
            by_ft[(rec["fld"], rec["term"])] = rec
        dec: dict[tuple, tuple] = {}
        out_q, out_d, out_s = [], [], []
        qids = sorted({qid for qi in qinfos.values() for qid in qi})
        for qid in qids:
            f_ids, f_sc = [], []
            for fld, qi in qinfos.items():
                ti = qi.get(qid)
                if not ti:
                    continue
                avgdl, k1, b = fparams[fld]
                boost = boosts[fld]
                parts_i, parts_s = [], []
                for t, w in ti.items():
                    rec = by_ft.get((fld, t))
                    if rec is None:
                        continue
                    got = dec.get((fld, t))
                    if got is None:
                        got = dec[(fld, t)] = decode_postings(rec)
                    ids, tfs, dls = got
                    if not ids.size:
                        continue
                    parts_i.append(ids)
                    parts_s.append(boost * w * tf_norm(tfs, dls, avgdl,
                                                       k1, b))
                if not parts_i:
                    continue
                # per-field per-doc totals (term contributions sum within
                # the field regardless of mode — Lucene sums clause scores
                # inside each field's BooleanQuery)
                u, a = _segment(np.concatenate(parts_i),
                                np.concatenate(parts_s),
                                lambda s, st: np.add.reduceat(s, st))
                f_ids.append(u)
                f_sc.append(a)
            if not f_ids:
                continue
            if best and tb > 0.0:
                # DisjunctionMaxQuery with tie_breaker: the max field
                # score plus tb times the runner-up fields' total
                def combine(s, st):
                    mx = np.maximum.reduceat(s, st)
                    sm = np.add.reduceat(s, st)
                    return mx + tb * (sm - mx)
            else:
                combine = ((lambda s, st: np.maximum.reduceat(s, st))
                           if best
                           else (lambda s, st: np.add.reduceat(s, st)))
            uniq, acc = _segment(np.concatenate(f_ids),
                                 np.concatenate(f_sc), combine)
            top = min(k, uniq.size)
            if uniq.size > top:
                # tie-safe: keep every doc at or above the k-th score so
                # boundary ties break by doc_id, not argpartition order
                kth = np.partition(acc, acc.size - top)[acc.size - top]
                m = acc >= kth
                uniq, acc = uniq[m], acc[m]
            order = np.lexsort((uniq, -acc))[:top]
            out_q.extend([qid] * top)
            out_d.extend(uniq[order].tolist())
            out_s.extend(acc[order].tolist())
        return result_frame(out_q, out_d, out_s)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return score_range(pdf)

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
