"""The two workloads: set-up, the calls of one round, and output checks.

A round is a fixed list of calls made by one closed-loop client: each
call starts when the previous one has returned. Checks run between calls
and are never inside a timed region.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from pdf_to_opensearch_spark import boolquery
from pdf_to_opensearch_spark.extract import extract_docs
from pdf_to_opensearch_spark.indexer import IndexPaths, build_index
from pdf_to_opensearch_spark.maintenance import delete_from_index, force_merge
from pdf_to_opensearch_spark.ops.pipeline import clean_corpus
from pdf_to_opensearch_spark.oracle import BruteForceBM25
from pdf_to_opensearch_spark.query import Searcher
from pdf_to_opensearch_spark.streaming import append_batch

from inputs import BATCH_QUERIES
from meter import dir_bytes

K = 10
SCORE_TOL = 1e-6   # the rank-identity rule of tests/test_index_query.py
BATCH_CHECKED = 8  # queries of each 64-query batch compared with the oracle
# the online churn period, one entry of steps per cycle: every cycle
# appends a micro-batch and then serves the read mix; the second cycle
# first deletes a url sample and force-merges the ranges the previous
# append added. So every read mix sees the same index shape, a compacted
# index plus one appended batch, and each read type's samples come from
# one population. A run makes at least one whole period, so every write
# path runs in every run.
CYCLE = (("append", "reads"), ("delete", "merge", "append", "reads"))


def read_docs(index_dir: str, columns: list[str]):
    """Read the docs table of an index directly from its parquet files."""
    return pq.read_table(IndexPaths(index_dir).docs, columns=columns).to_pandas()


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]
              ) -> bool:
    return ([d for d, _ in got] == [d for d, _ in want]
            and all(abs(a - b) <= SCORE_TOL
                    for (_, a), (_, b) in zip(got, want)))


def hits_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
    return out


class Run:
    """Call timing, failure counting and checks shared by both workloads."""

    def __init__(self, spark, tracer, inputs, work_dir: str, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work_dir
        self.cores = cores
        self.samples: dict[tuple[bool, str], list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.unclocked_s = 0.0   # checks and oracle builds, never timed
        self.report: dict = {}
        # in a traced run, make each read twice on the same index state,
        # once traced and once not, so the tracing overhead compares like
        # with like (set by workloads whose rounds change the index)
        self.paired = False
        self._pairs = 0
        self._dedup = None

    def unclocked(self, fn):
        """Run ``fn`` outside the clock (checks, oracle builds, cleanup)."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.unclocked_s += time.perf_counter() - t0

    def _check(self, kind: str, check, out) -> None:
        try:
            ok = self.unclocked(lambda: check(out))
        except Exception:  # a check that raises is a failed check
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: output check failed: {kind}", file=sys.stderr)
            self.failed += 1

    def call(self, kind: str, fn, check=None, layer: str = ""):
        """One timed call; its latency is a sample of ``kind``."""
        self.attempted += 1
        try:
            with self.tracer.span(layer or kind) as rec:
                out = fn()
        except Exception:  # the loop keeps running; the call counts failed
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.samples[(self.tracer.enabled, kind)].append(rec["ms"])
        if check is not None:
            self._check(kind, check, out)
        return out

    def query(self, kind: str, layer: str, plan, check=None):
        """A query call: plan (the DataFrame is returned) + exec (collect).

        Paired in a traced run (see ``paired``); the order of the two
        calls alternates, so neither side always runs second."""
        if not (self.paired and self.tracer.enabled):
            return self._query(kind, layer, plan, check)
        self._pairs += 1
        for traced in (False, True) if self._pairs % 2 else (True, False):
            self.tracer.enabled = traced
            rows = self._query(kind, layer, plan, check)
        self.tracer.enabled = True
        return rows

    def _query(self, kind: str, layer: str, plan, check):
        self.attempted += 1
        try:
            with self.tracer.span(f"{layer}.{kind}.plan") as p:
                df = plan()
            with self.tracer.span(f"{layer}.{kind}.exec") as e:
                rows = df.collect()
        except Exception:  # the loop keeps running; the call counts failed
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.samples[(self.tracer.enabled, kind)].append(p["ms"] + e["ms"])
        if check is not None:
            self._check(kind, check, rows)
        return rows

    def pages_df(self, pdf, partitions: int):
        cols = ["url", "warc_ts", "html", "text", "lang"]
        return self.spark.createDataFrame(pdf[cols]).repartition(partitions)

    def build(self, pages, out_dir: str):
        return build_index(self.spark, extract_docs(pages), out_dir,
                           num_ranges=self.cores, id_partitions=self.cores)

    def dedup_frame(self):
        """Extracted docs(doc_id, text) with planted duplicates, cached."""
        if self._dedup is None:
            dd = self.inputs.dedup_set[0]
            ids = self.spark.createDataFrame(dd[["url", "doc_id"]])
            self._dedup = (extract_docs(self.spark.createDataFrame(
                               dd[["url", "html", "lang"]]))
                           .join(ids, "url").select("doc_id", "text")
                           .persist())
            self._dedup.count()
        return self._dedup

    def index_ratio(self, index_dir: str) -> float:
        """On-disk bytes of an index ÷ UTF-8 bytes of the text it holds."""
        urls = read_docs(index_dir, ["url"])["url"]
        text = self.inputs.text_bytes(self.inputs.expected[u] for u in urls)
        return dir_bytes(index_dir) / text


class Bulk:
    """Offline corpus path: extract → build_index into a fresh directory,
    then clean_corpus (quality → exact dedup → near dedup) over docs with
    planted duplicates. No query layer runs."""

    headline = "build"
    kinds = ("build", "dedup")
    min_rounds = 3

    def __init__(self, run: Run):
        self.run = run
        self.n_docs = len(run.inputs.pages)
        self.fates0 = None
        self.last_dir = None

    def setup(self):
        run = self.run
        self.pages = run.pages_df(run.inputs.pages, run.cores).persist()
        self.pages.count()
        self.dedup = run.dedup_frame()
        # warm-up pass, untimed: the JVM and Python workers run every path
        self.run.build(self.pages, os.path.join(run.work, "bulk-warm"))
        clean_corpus(self.dedup).collect()
        shutil.rmtree(os.path.join(run.work, "bulk-warm"))

    def round(self, r: int):
        run = self.run
        out_dir = os.path.join(run.work, f"bulk-{r}")
        run.call("build", lambda: run.build(self.pages, out_dir),
                 check=self.check_build, layer="indexer.build_index")
        run.call("dedup", lambda: clean_corpus(self.dedup).collect(),
                 check=self.check_dedup, layer="ops.pipeline.clean_corpus")
        if self.last_dir:
            run.unclocked(lambda: shutil.rmtree(self.last_dir,
                                                ignore_errors=True))
        self.last_dir = out_dir

    def check_build(self, paths) -> bool:
        inputs = self.run.inputs
        docs = read_docs(paths.root, ["url", "text"])
        got = dict(zip(docs["url"], docs["text"]))
        if "index_bytes_per_text_byte" not in self.run.report:
            self.run.report["index_bytes_per_text_byte"] = \
                self.run.index_ratio(paths.root)
        return (len(docs) == self.n_docs
                and all(got.get(u) == inputs.expected[u]
                        for u in inputs.check_urls))

    def check_dedup(self, rows) -> bool:
        inputs = self.run.inputs
        fate = {int(r["doc_id"]): r["fate"] for r in rows}
        counts = dict(Counter(fate.values()))
        if self.fates0 is None:
            self.fates0 = counts
            self.run.report["dedup_fates"] = counts
        docs, exact_ids = inputs.dedup_set
        return (len(fate) == len(docs)
                and all(fate.get(i) == "exact_dup" for i in exact_ids)
                and counts == self.fates0)

    def items_per_s(self, med: dict) -> float:
        return self.n_docs / (med["build"] / 1e3)

    def final_index(self) -> str:
        return self.last_dir


class Online:
    """Writes beside reads on one live index, in cycles (see ``CYCLE``):
    each cycle appends, opens a fresh Searcher and serves the read mix
    through it; the appended ranges raise the read fan-out until the
    next period's merge compacts them."""

    headline = "match"
    # the end-to-end metrics come from the reads only: a run makes one or
    # two calls of each write, too few for a steady median, so the write
    # latencies are reported per layer and in the report line
    kinds = ("match", "batch", "filtered", "fuzzy", "prefix", "phrase")
    min_rounds = len(CYCLE)
    layers = {"append": "streaming.append_batch",
              "delete": "maintenance.delete_from_index",
              "merge": "maintenance.force_merge"}

    def __init__(self, run: Run):
        self.run = run
        run.paired = True
        self.n_batch = 0
        self.n_delete = 0
        self.version = 0
        self.deleted: set[str] = set()
        self.ids: dict[str, int] = {}

    def setup(self):
        run = self.run
        self.live = os.path.join(run.work, "online-0")
        run.build(run.pages_df(run.inputs.pages, run.cores), self.live)
        run.attempted += 1
        if not run.unclocked(lambda: self.check_state("build")):
            run.failed += 1
        run.unclocked(self.refresh_oracle)
        # warm-up, untimed: one unchecked call of each read type. The
        # writes are not warmed up; they enter no end-to-end metric.
        self.searcher = Searcher(run.spark, self.live, preload_dictionary=True)
        q = run.inputs.query_rounds[-1]
        self.reads(dict(q, match=q["match"][:1], batch=q["batch"][:1]),
                   checked=False)

    def write(self, kind: str):
        """The write call of ``kind``; it moves ``self.live`` on success."""
        run, spark, inputs = self.run, self.run.spark, self.run.inputs
        if kind == "append":
            batch = run.pages_df(inputs.batches[self.n_batch], 2)
            self.n_batch += 1
            return lambda: append_batch(spark, extract_docs(batch), self.live)
        self.version += 1
        out = os.path.join(run.work, f"online-{self.version}")
        if kind == "delete":
            urls = [str(u) for u in inputs.delete_urls[self.n_delete]]
            self.n_delete += 1
            self.deleted.update(urls)
            op = lambda: delete_from_index(spark, self.live, out, urls)  # noqa: E731
        else:
            op = lambda: force_merge(spark, self.live, out)  # noqa: E731

        def snapshot():
            paths = op()
            shutil.rmtree(self.live, ignore_errors=True)
            self.live = out
            return paths
        return snapshot

    def round(self, r: int):
        run = self.run
        for step in CYCLE[r % len(CYCLE)]:
            if step == "reads":
                run.unclocked(self.refresh_oracle)
                self.searcher = run.call(
                    "searcher_init",
                    lambda: Searcher(run.spark, self.live,
                                     preload_dictionary=True),
                    layer="query.searcher_init")
                if self.searcher is not None:
                    self.reads(run.inputs.query_rounds[r])
                continue
            run.call(step, self.write(step), layer=self.layers[step],
                     check=lambda _paths, kind=step: self.check_state(kind))
            if step == "merge":
                run.report["index_bytes_per_text_byte"] = run.unclocked(
                    lambda: run.index_ratio(self.live))

    def check_state(self, kind: str) -> bool:
        """Docs table after a write: deleted urls never come back, every
        surviving doc keeps its id and new docs get new ids."""
        docs = read_docs(self.live, ["url", "doc_id", "lang"])
        ids = dict(zip(docs["url"], docs["doc_id"].astype(int)))
        old_max = max(self.ids.values(), default=-1)
        ok = (len(ids) == len(docs)
              and not (self.deleted & ids.keys())
              and all(ids[u] == i for u, i in self.ids.items() if u in ids)
              and all(i > old_max for u, i in ids.items()
                      if u not in self.ids))
        if kind == "merge":
            ok = ok and ids == self.ids
        if not ok:
            print(f"perfbench: docs table check failed after {kind}",
                  file=sys.stderr)
        self.ids = ids
        self.lang = dict(zip(docs["doc_id"].astype(int), docs["lang"]))
        return ok

    def refresh_oracle(self):
        """Rebuild the oracle for the live doc set."""
        self.oracle = BruteForceBM25(
            list(self.ids.values()),
            [self.run.inputs.expected[u] for u in self.ids])

    def reads(self, q: dict, checked: bool = True):
        """One read mix (``inputs.READ_MIX``) through ``self.searcher``."""
        run, spark, s = self.run, self.run.spark, self.searcher
        oracle = self.oracle

        def topk(want, qids=(1,)):
            def chk(rows):
                got = hits_by_query(rows)
                return all(same_topk(got.get(qid, []), want(qid))
                           for qid in qids)
            return chk if checked else None

        for text in q["match"]:
            run.query("match", "query",
                      lambda: s.search([(1, text)], k=K, prune=True),
                      topk(lambda _q: oracle.search(text, K)))
        for queries in q["batch"]:
            batch = list(enumerate(queries, start=1))
            run.query("batch", "query",
                      lambda: s.search(batch, k=K, prune=False),
                      topk(lambda qid: oracle.search(batch[qid - 1][1], K),
                           qids=range(1, BATCH_CHECKED + 1)))
        text, lang = q["filtered"]
        allowed = {d for d, g in self.lang.items() if g == lang}
        run.query("filtered", "query",
                  lambda: s.search([(1, text)], k=K,
                                   doc_filter=f"lang = '{lang}'"),
                  topk(lambda _q: oracle.search(text, K, allowed=allowed)))
        run.query("fuzzy", "boolquery",
                  lambda: boolquery.fuzzy_search(spark, self.live,
                                                 [(1, q["fuzzy"])], k=K))
        run.query("prefix", "boolquery",
                  lambda: boolquery.prefix_search(spark, self.live,
                                                  [(1, q["prefix"])], k=K))
        run.query("phrase", "query",
                  lambda: s.phrase_search([(1, q["phrase"])], k=K),
                  topk(lambda _q: oracle.phrase_search(q["phrase"], K)))

    def items_per_s(self, med: dict) -> float:
        return BATCH_QUERIES / (med["batch"] / 1e3)

    def final_index(self) -> str:
        return self.live
