"""Per-layer sweep of a traced run: every layer is called in a fixed order
on this workload's inputs, each call inside its own span, so the layer
numbers and their Spark job, stage and task counts repeat run to run.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

from pdf_to_opensearch_spark import boolquery
from pdf_to_opensearch_spark.analyzer import tokenize_text, with_tokens
from pdf_to_opensearch_spark.extract import extract_docs
from pdf_to_opensearch_spark.indexer import build_postings, prepare_docs
from pdf_to_opensearch_spark.maintenance import delete_from_index, force_merge
from pdf_to_opensearch_spark.ops.dedup import (duplicate_clusters,
                                               minhash_candidate_pairs,
                                               minhash_near_duplicates)
from pdf_to_opensearch_spark.ops.pipeline import clean_corpus
from pdf_to_opensearch_spark.ops.textstats import quality_scores
from pdf_to_opensearch_spark.query import Searcher, load_stats, lookup_dict_rows
from pdf_to_opensearch_spark.streaming import append_batch

from meter import dir_bytes
from workloads import K, read_docs

REPS = 3  # calls of each small read (stats, dictionary, Searcher)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ranges(index_dir: str) -> dict[int, frozenset]:
    docs = read_docs(index_dir, ["doc_id", "range_id"])
    out: dict[int, set] = {}
    for d, r in zip(docs["doc_id"], docs["range_id"]):
        out.setdefault(int(r), set()).add(int(d))
    return {r: frozenset(ds) for r, ds in out.items()}


def _rewritten(before: dict, after: dict) -> int:
    """Ranges of ``after`` whose doc set differs from the same range id
    before: the ranges a snapshot had to re-index."""
    return sum(1 for r, ds in after.items() if before.get(r) != ds)


def run_sweep(run) -> dict[str, float]:
    """Call every layer once (small reads ``REPS`` times); return its
    metrics."""
    spark, tr, inputs, cores = run.spark, run.tracer, run.inputs, run.cores
    tr.enabled = True
    first = len(tr.spans)  # the sweep's own spans start here
    out: dict[str, float] = {}
    root = os.path.join(run.work, "sweep")

    def timed(name, fn):
        with tr.span(name):
            return fn()

    pages = run.pages_df(inputs.pages, cores)
    timed("extract.extract_docs", lambda: noop(extract_docs(pages)))
    docs = extract_docs(pages).persist()
    docs.count()
    timed("analyzer.with_tokens", lambda: noop(with_tokens(docs)))

    timed("indexer.prepare_docs",
          lambda: prepare_docs(spark, docs, root, id_partitions=cores))
    paths = timed("indexer.build_postings",
                  lambda: build_postings(spark, root, num_ranges=cores))
    docs.unpersist()
    out["indexer.spimi_write_s"] = paths.timings["spimi_write"]
    out["indexer.derived_tables_s"] = paths.timings["derived_tables"]
    for key in ("jobs", "stages", "tasks"):
        out[f"indexer.{key}"] = sum(s[key] for s in tr.spans[first:]
                                    if s["name"].startswith("indexer."))
    out["indexer.ranges"] = len(_ranges(root))
    out["indexer.files"] = len([f for f in os.listdir(paths.postings)
                                if f.endswith(".parquet")])
    for table in ("postings", "dictionary", "docs"):
        out[f"indexer.{table}_bytes"] = dir_bytes(getattr(paths, table))
    sum_df = int(pq.read_table(paths.dictionary, columns=["df"])
                 .column("df").to_numpy().sum())
    out["codec.bytes_per_posting"] = out["indexer.postings_bytes"] / sum_df

    q = inputs.query_rounds[0]
    terms = sorted(set(tokenize_text(q["match"][0])))
    for _ in range(REPS):
        timed("query.searcher_init",
              lambda: Searcher(spark, root, preload_dictionary=True))
        timed("query.load_stats", lambda: load_stats(spark, root))
        timed("query.lookup_dict_rows",
              lambda: lookup_dict_rows(spark, paths.dictionary, terms))
    s = Searcher(spark, root, preload_dictionary=True)
    text, lang = q["filtered"]
    batch = list(enumerate(q["batch"][0], start=1))
    calls = {
        "query.match": lambda: s.search([(1, q["match"][0])], k=K),
        "query.batch": lambda: s.search(batch, k=K, prune=False),
        "query.filtered": lambda: s.search(
            [(1, text)], k=K, doc_filter=f"lang = '{lang}'"),
        "query.phrase": lambda: s.phrase_search([(1, q["phrase"])], k=K),
        "boolquery.fuzzy": lambda: boolquery.fuzzy_search(
            spark, root, [(1, q["fuzzy"])], k=K),
        "boolquery.prefix": lambda: boolquery.prefix_search(
            spark, root, [(1, q["prefix"])], k=K),
    }
    for name, plan in calls.items():
        df = timed(f"{name}.plan", plan)
        timed(f"{name}.exec", df.collect)

    before = _ranges(root)
    batch = run.pages_df(inputs.batches[-1], 2)
    timed("streaming.append_batch",
          lambda: append_batch(spark, extract_docs(batch), root))
    after = _ranges(root)
    out["streaming.ranges_added"] = len(after) - len(before)

    urls = [str(u) for u in inputs.delete_urls[-1]]
    timed("maintenance.delete_from_index",
          lambda: delete_from_index(spark, root, root + "-del", urls))
    out["maintenance.delete.bytes_written"] = dir_bytes(root + "-del")
    out["maintenance.delete.ranges_rewritten"] = _rewritten(
        after, _ranges(root + "-del"))
    timed("maintenance.force_merge",
          lambda: force_merge(spark, root + "-del", root + "-merged"))
    out["maintenance.merge.bytes_written"] = dir_bytes(root + "-merged")
    out["maintenance.merge.ranges_rewritten"] = _rewritten(
        _ranges(root + "-del"), _ranges(root + "-merged"))

    dd = run.dedup_frame()
    timed("ops.textstats.quality_scores", lambda: noop(quality_scores(dd)))
    pairs = timed("ops.dedup.minhash_near_duplicates",
                  lambda: minhash_near_duplicates(dd))
    timed("ops.dedup.duplicate_clusters",
          lambda: noop(duplicate_clusters(pairs)))
    verified = pairs.count()
    pairs.unpersist()
    candidates = minhash_candidate_pairs(dd).count()
    out["ops.dedup.candidate_pairs"] = candidates
    out["ops.dedup.verified_pairs"] = verified
    out["ops.dedup.pair_yield"] = verified / candidates if candidates else 0.0
    fates = {r["fate"]: r["n"] for r in
             clean_corpus(dd).groupBy("fate").count()
             .withColumnRenamed("count", "n").collect()}
    for fate in ("kept", "quality", "exact_dup", "near_dup"):
        out[f"ops.pipeline.{fate}"] = fates.get(fate, 0)

    out.update(_span_metrics(tr.spans[first:]))
    return out


def _span_metrics(spans: list[dict]) -> dict[str, float]:
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def med(name, key="ms"):
        return statistics.median(s[key] for s in by[name])

    out = {
        "extract.extract_docs_s": med("extract.extract_docs") / 1e3,
        "analyzer.with_tokens_s": med("analyzer.with_tokens") / 1e3,
        "indexer.prepare_docs_s": med("indexer.prepare_docs") / 1e3,
        "indexer.build_postings_s": med("indexer.build_postings") / 1e3,
        "query.searcher_init_ms": med("query.searcher_init"),
        "query.load_stats_ms": med("query.load_stats"),
        "query.lookup_dict_rows_ms": med("query.lookup_dict_rows"),
        "streaming.append_batch_ms": med("streaming.append_batch"),
        "maintenance.delete_from_index_ms":
            med("maintenance.delete_from_index"),
        "maintenance.force_merge_ms": med("maintenance.force_merge"),
        "ops.textstats.quality_scores_s":
            med("ops.textstats.quality_scores") / 1e3,
        "ops.dedup.minhash_near_duplicates_s":
            med("ops.dedup.minhash_near_duplicates") / 1e3,
        "ops.dedup.duplicate_clusters_s":
            med("ops.dedup.duplicate_clusters") / 1e3,
    }
    for key in ("jobs", "stages", "tasks"):
        out[f"streaming.{key}"] = med("streaming.append_batch", key)
    for name in ("query.match", "query.batch", "query.filtered",
                 "query.phrase", "boolquery.fuzzy", "boolquery.prefix"):
        out[f"{name}.plan_ms"] = med(f"{name}.plan")
        out[f"{name}.exec_ms"] = med(f"{name}.exec")
        for key in ("jobs", "stages", "tasks"):
            out[f"{name}.{key}"] = statistics.median(
                p[key] + e[key] for p, e in zip(by[f"{name}.plan"],
                                                by[f"{name}.exec"]))
    return out
