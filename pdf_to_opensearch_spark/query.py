"""BM25 top-k query engine (SURVEY.md J9, O5, W7, §3.3 query lifecycle).

Natively re-owns what the reference delegated to OpenSearch/Lucene
(opensearch_loader.py:873-890): analyze query → term dictionary lookup →
postings traversal → BM25 scores → per-shard top-k → global merge.

Physical plan:
1. Tokenize queries with the frozen analyzer; look up (df, idf) in the
   dictionary with a parquet scan *filtered by the query terms* (predicate
   pushdown; the per-query term set is tiny so this is a pruned point read,
   the broadcast-join analogue of Lucene's term-dictionary seek).
2. Scan only postings partitions whose term-bucket can contain a query term
   (``bucket IN (...)`` partition pruning) further filtered ``term IN (...)``
   (parquet row-group min/max pruning).
3. :func:`execute` — the one postings executor every single-index query
   surface calls — runs a per-range kernel on each WHOLE doc range's
   postings rows. Because every document lives in exactly one range,
   per-range scores are complete — no cross-range combine of partial
   scores is needed. A ranked call (``k`` given) first takes one sized
   decision (:func:`_runs_on_driver`): with B the compressed bytes of
   the pruned row groups (cached footer summaries), Q the queries and S
   the task slots, it runs on the driver iff (α·B + β·Q)·(1 − 1/S) ≤ F,
   with α, β and F measured (see the constants) and B capped; a
   filtered call also needs its allowed set, at most N docs, to fit the
   cap, and adds the driver's cost of collecting it, δ·N, to the left
   side. Then it picks one of four branches:

   * ranked and small: the driver reads the pruned postings with
     pyarrow, runs the same kernel per range, ranks in pandas and
     returns the page as a local relation. Unfiltered, the call runs no
     Spark job; filtered, one column-pruned job collects the allowed
     (doc_id, range_id) set first and each range's kernel gets its
     sorted allowed ids. Unranked calls (hit sets, full score sets under
     a join or aggregation) stay distributed: their output grows with
     the matching docs, a cost the model does not cover;
   * unfiltered, range-aligned postings: one ``mapInPandas`` task per
     bin of postings files reads them with pyarrow through the
     filesystem :func:`tablefs.resolve` returns (C++-side bucket/term
     row-group pruning) — no Exchange, and the postings bytes never
     cross the JVM↔Python Arrow socket;
   * filtered (``allowed`` doc set) and not on the driver: the
     pushed-down JVM postings scan ``cogroup``-ed with the allowed
     (doc_id, range_id) frame on ``range_id``, so each range sees only
     its own allowed ids;
   * postings whose ranges are not file-aligned: the same JVM scan
     grouped by ``range_id`` into ``applyInPandas``.

   Every branch hands the kernel one decoded range
   (:class:`PostingsRange`: each binary column decoded in one varint
   pass per range, ``tf_norm`` once per range). The BM25 kernel scores
   **term-at-a-time, fully vectorized**, under one accumulation rule:
   per query, each term's contributions are added in the query's term
   order into a zeroed range-local array over the range's doc columns,
   so a query's scores do not depend on its batch mates, bit for bit.
   Filter, bool, ``minimum_should_match`` and search_after constraints
   are masks over that array; the kernel keeps a per-range top-k.
   Optional block-max pruning drops whole 128-posting blocks whose
   summed upper bounds cannot reach the running threshold before they
   are added (sound: uses the per-block max stored at build time;
   differential-tested vs exhaustive).
4. Global top-k (``execute(..., k=k)``): per-range candidates are
   ≤ k·n_ranges rows → (score desc, doc_id asc) rank ≤ k per query, in
   pandas on the driver side and as the :func:`ranked_topk` window
   ``row_number() over (partition by query order by score desc,
   doc_id)`` on the distributed side (TakeOrderedAndProject-scale, not a
   full sort).

Rank identity: ties broken by ascending doc_id everywhere, scores f64.
"""

from __future__ import annotations

import bisect
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tablefs
from .analyzer import tokenize_text
from .codec import (
    BLOCK,
    decode_block_meta,
    decode_positions,
    decode_varint,
    tf_norm,
)
from .indexer import (
    IndexPaths,
    IndexStats,
    _Footer,
    _footers,
    _postings_arrow_schema,
    _spans_disjoint,
    bucket_of,
    load_stats,
)
from .oracle import idf as idf_fn

RESULT_SCHEMA = "query_id int, doc_id long, score double"
RANKED = "query_id int, rank int, doc_id long, score double"

# Above this many terms/keys, a literal IN-list bloats the plan (and its
# serialized size) — switch to a broadcast semi-join. Below it, keep isin:
# the literal predicate reaches the parquet reader as row-group min/max
# pruning, which a join cannot.
IN_LIST_MAX = 256


def _filter_in(df: DataFrame, col: str, values: list) -> DataFrame:
    """``col IN values`` — literal pushdown for small lists, broadcast
    semi-join for large ones (plan-size safe at thousands of keys)."""
    if len(values) <= IN_LIST_MAX:
        return df.filter(F.col(col).isin(values))
    spark = df.sparkSession
    vdf = spark.createDataFrame([(v,) for v in values], f"{col} string")
    return df.join(F.broadcast(vdf), col, "left_semi")


def lookup_dict_rows(spark: SparkSession, dict_path: str,
                     terms: list[str]) -> pd.DataFrame:
    """Dictionary point-lookup: the (term, df, …) rows of ``terms``.

    A driver-side pyarrow read with a C++-side ``term IN`` filter
    (parquet row-group min/max pruning) and NO Spark job: a search
    call's term set is tiny, and a per-call scan job spent more wall on
    scheduling than on I/O. The row-group pruning keeps this a point
    read at any dictionary size (Lucene's term-dict seek analogue runs
    on one node too). No terms, no read.
    """
    if not terms:
        return pd.DataFrame({"term": [], "df": []})
    return tablefs.read_small_table(
        spark, dict_path, filters=[("term", "in", list(terms))])


def idf_of(n_docs: int, df: int) -> float:
    """BM25 idf of one term. Every surface calls the vectorized
    :func:`.oracle.idf` in this one per-term form, so a term's weight is
    bit-identical wherever it is computed."""
    return float(idf_fn(n_docs, np.array([df]))[0])


def term_stats(spark: SparkSession, paths: IndexPaths, stats: IndexStats,
               terms: list[str]) -> tuple[dict[str, int], dict[str, float]]:
    """(dfs, idfs) of the ``terms`` the dictionary holds — one
    :func:`lookup_dict_rows` point-lookup; a term absent from the corpus
    is in neither dict."""
    rows = lookup_dict_rows(spark, paths.dictionary, terms)
    dfs = dict(zip(rows["term"], rows["df"].astype(int).tolist()))
    return dfs, {t: idf_of(stats.N, dfs[t]) for t in terms if t in dfs}


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """An empty frame of ``schema`` that Catalyst KNOWS is empty:
    ``limit(0)`` optimizes to an empty ``LocalRelation``, and
    ``PropagateEmptyRelation`` then folds every join, aggregation and
    window above it — a surface runs its one plan on it and scans no
    postings or docs file."""
    return spark.createDataFrame([], schema).limit(0)


def result_frame(query_ids, doc_ids, scores=None) -> pd.DataFrame:
    """A kernel's output rows: (query_id int32, doc_id int64[, score
    float64]) — :data:`RESULT_SCHEMA`, or the bare hit set without
    ``scores``."""
    cols = {"query_id": pd.Series(query_ids, dtype="int32"),
            "doc_id": pd.Series(doc_ids, dtype="int64")}
    if scores is not None:
        cols["score"] = pd.Series(scores, dtype="float64")
    return pd.DataFrame(cols)


# ------------------------------------------ postings footer summaries

def _aligned(feet: list[_Footer]) -> bool:
    """True iff every doc range's postings live WHOLLY in one file
    (pairwise-disjoint ``range_id`` spans in the cached footer summaries,
    :func:`.indexer._footers`) — the property that lets a per-file task
    score its ranges completely. Every builder writes range-aligned
    files, but an external rewrite (a crash-simulation overwrite, a
    third-party compaction) can scatter a range across files, and a
    kernel that sees only part of a range would emit wrong partial
    scores."""
    return (all(ft.range_stats for ft in feet)
            and _spans_disjoint(ft.span for ft in feet))


def _footprint(feet: list[_Footer], buckets: dict[str, int],
               cols: list[str]) -> int:
    """Compressed bytes of ``cols`` in the row groups whose bucket and
    term statistics admit one of the live terms (``buckets``: term →
    bucket) — what the bucket/term-pruned read decodes."""
    terms = sorted(buckets)
    total = 0
    for ft in feet:
        for b_lo, b_hi, t_lo, t_hi, nbytes in ft.groups:
            i = 0 if t_lo is None else bisect.bisect_left(terms, t_lo)
            j = (len(terms) if t_hi is None
                 else bisect.bisect_right(terms, t_hi))
            if any((b_lo is None or b_lo <= buckets[t] <= b_hi)
                   for t in terms[i:j]):
                total += sum(nbytes.get(c, 0) for c in cols)
    return total


# ------------------------------------------------- the sized decision
#
# A distributed call pays a fixed cost before any work (mapInPandas task
# turnaround, closure shipping, the top-k Window's shuffle job); a driver
# call does the work serially. With per-call work W = α·B + β·Q
# (B compressed postings bytes to decode, Q queries to score and rank)
# and S task slots, the driver wins iff W ≤ F + W/S, i.e.
# W·(1 − 1/S) ≤ F. Fitted by least squares to 11 same-session pairs on a
# 4-CPU box (local[4], Spark 4.1, pyarrow 16; synthetic indexes of 1,500
# and 6,000 pages, 4 ranges, B 1.2–6.5 MB, Q 1–1,024, median of 3 calls
# per side): driver call = 19 ms + α·B + β·Q, distributed call =
# 624 ms + W/4. The model puts 10 of the 11 on their faster side; the
# eleventh (1.2 MB, 1,024 queries) was a tie (821 vs 823 ms), and 6.5 MB
# at 1,024 queries stays distributed (1,175 vs 931 ms).
#
# Only RANKED calls (``k`` given) take this decision: their output is at
# most k rows per query, the traffic the fit covers. An unranked call's
# output (a hit set or a full score set that a join or aggregation then
# consumes) grows with matching docs × Q, and on the driver it would be
# concatenated and shipped back as a driver-built local relation — a
# per-row cost the model has no term for and no probe measured — so
# unranked calls always run distributed.
DRIVER_MS_PER_MB = 27.0       # α: pyarrow read + decode + kernel, per MB
DRIVER_MS_PER_QUERY = 0.85    # β: kernel + pandas rank, per query
DISTRIBUTED_FIXED_MS = 600.0  # F: distributed minus driver call at W = 0
# The driver never reads more than this many compressed postings bytes,
# whatever the cost model says (with one slot it always says driver): it
# bounds the driver's memory.
DRIVER_MAX_BYTES = 32 << 20


# A filtered ranked call on the driver first collects its allowed
# (doc_id, range_id) set: at most N rows of 8 + 4 bytes, so the call
# takes the driver side only when N of them fit under the driver's cap
# (N ≤ 2.79M). The collection is driver-only work of δ per doc on top of
# one job; the cogroup's own job and shuffle of the same rows offset
# that job. Measured on the 4-CPU box above, filter ``lang = 'en'``
# (half the docs), median of 5 calls per side; collection alone:
# 220 ms at N = 20,000, 305 ms at 1M, 350 ms at 2.7M, so δ ≈ 5e-5 –
# 8.5e-5 ms and the larger value, rounded up, is kept. Whole calls,
# driver vs distributed (B the postings footprint):
#   N 20,000     B 0.7 MB  3 terms    267 vs   913 ms
#   N 200,000    B 3.8 MB  3 terms    189 vs   681 ms, 10 terms 517 vs 1,325
#   N 1,000,000  B 13 MB   3 terms    278 vs   982 ms, 10 terms 532 vs 1,121
#   N 1,000,000  B 3.2 MB  3 terms    405 vs 1,243 ms
#   N 2,700,000  B 6.7 MB  3 terms    450 vs 1,179 ms, 10 terms 602 vs 1,530
# The model puts every one of them on the driver, their faster side.
ALLOWED_BYTES_PER_DOC = 12
DRIVER_MS_PER_ALLOWED_DOC = 1e-4  # δ


def _runs_on_driver(footprint: int, n_queries: int, slots: int,
                    n_allowed: int = 0) -> bool:
    """The one sized decision of :func:`execute` (see the constants):
    ``n_allowed`` bounds a filtered call's allowed set (0 unfiltered)."""
    if max(footprint, n_allowed * ALLOWED_BYTES_PER_DOC) > DRIVER_MAX_BYTES:
        return False
    work = (DRIVER_MS_PER_MB * footprint / (1 << 20)
            + DRIVER_MS_PER_QUERY * n_queries)
    return (work * (1.0 - 1.0 / max(1, slots))
            + DRIVER_MS_PER_ALLOWED_DOC * n_allowed) <= DISTRIBUTED_FIXED_MS


# The dictionary expansion (boolquery._expand) runs on the driver iff the
# dictionary's compressed (term, df) bytes fit DRIVER_MAX_BYTES, whatever
# the probe count: the driver pass matches each probe over the whole term
# column in pyarrow/numpy and is faster than the Spark pass at every
# measured point. On a 4-CPU box (local[4], Spark 4.1, numpy 1.26,
# pyarrow 16; synthetic dictionaries of 3–12-character terms, cut 50,
# median of 3 after a warm-up), driver vs Spark pass in ms:
#                     1 probe                  64 probes
#   terms       prefix  like   fuzzy    prefix   like    fuzzy
#   5,000       4/1068  7/783  7/758    18/946   40/1077  227/924
#   50,000      13/627  11/702 61/737   60/647   181/3850 1847/3163
#   500,000     54/636  56/982 485/980  537/1163 1690/25846 21759/27877
# (fuzzy at max_edits 2). Regexp has no driver form.

# The pins of the sized decisions, by side (module attributes to set):
# "driver" lifts the fixed cost F past any work, so every ranked call and
# every non-regexp expansion under the byte cap runs on the driver;
# "distributed" drops the byte cap below any footprint, so nothing does.
SIDE_PINS = {"driver": {"DISTRIBUTED_FIXED_MS": float("inf")},
             "distributed": {"DRIVER_MAX_BYTES": -1}}


# ------------------------------------------------------ the decoded range

_POS_SHIFT = np.uint64(24)  # doc_id<<24 | position keys: dl < 2^24 tokens,
#                             doc_id < 2^39 — both safe at 10^12-doc scale
_POS_MASK = (np.uint64(1) << _POS_SHIFT) - np.uint64(1)

# A column is decoded in chunks of rows of about this many encoded bytes,
# so the decode's temporaries (about 40 bytes per encoded byte) stay
# cache-sized and do not grow with the range: a decoder whose temporaries
# left the cache took 0.88 s on whole ranges of 200,000 docs × 4 ranges
# against 0.58 s per term.
DECODE_CHUNK_BYTES = 1 << 16


class PostingsRange:
    """One doc range's postings rows (an Arrow table), decoded once for
    every kernel that scores the range.

    * ``ids``, ``tfs`` and ``dls`` hold every row's postings back to
      back, in row order: each column is decoded in one varint pass over
      its Arrow data buffer (in cache-sized chunks of rows) and split by
      ``n``; doc ids come from one segmented cumsum seeded by each row's
      ``first_doc_id``. :meth:`span` is a row's slice of them, keyed by
      ``term`` (or by the ``keys`` given, e.g. (field, term) pairs).
      Rows with no postings are not keys.
    * A range's doc ids are one contiguous span, from ``lo``, ``width``
      wide, so each posting's column in a range-local array is a direct
      offset, ``col = doc_id − lo``. Every kernel accumulates into
      arrays over these columns, and :meth:`mask_of` turns a doc-id set
      into a mask over them.
    * :meth:`norm` is ``tf_norm`` over the whole range, once per
      (avgdl, k1, b).
    * Block metadata (:meth:`block_bound`), positions
      (:meth:`positions`) and per-key doc masks (:meth:`has`) are
      decoded lazily, per key, and cached for the batch.
    """

    def __init__(self, tbl, keys: list | None = None):
        self._tbl = tbl
        self.n = tbl.column("n").to_numpy().astype(np.int64)
        self.bounds = np.zeros(self.n.size + 1, dtype=np.int64)
        np.cumsum(self.n, out=self.bounds[1:])
        if keys is None:
            keys = tbl.column("term").to_pylist()
        self._row = {key: i for i, key in enumerate(keys) if self.n[i]}
        self._cache: dict[tuple, np.ndarray] = {}

    @classmethod
    def from_pandas(cls, pdf: pd.DataFrame,
                    keys: list | None = None) -> "PostingsRange":
        """The range of a pandas group of postings rows (the JVM scan's
        ``applyInPandas`` / ``cogroup`` groups and ``multi_match``)."""
        import pyarrow as pa

        schema = _postings_arrow_schema()
        return cls(pa.table({c: pa.array(pdf[c], type=schema.field(c).type)
                             for c in schema.names if c in pdf.columns}),
                   keys)

    def __contains__(self, key) -> bool:
        return key in self._row

    def span(self, key) -> slice:
        i = self._row[key]
        return slice(self.bounds[i], self.bounds[i + 1])

    def postings(self, key) -> tuple:
        """(doc_ids, tfs, dls) of one key — views of the range arrays."""
        s = self.span(key)
        return self.ids[s], self.tfs[s], self.dls[s]

    def _values(self, name: str) -> np.ndarray:
        """Every row's varints of binary column ``name``, decoded and
        concatenated (int64)."""
        out = np.empty(self.bounds[-1], dtype=np.int64)
        if not out.size:
            return out
        arr = self._tbl.column(name).combine_chunks()
        off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
            arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
        data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
        cuts = np.searchsorted(
            off, np.arange(off[0], off[-1], DECODE_CHUNK_BYTES), "right") - 1
        cuts = np.unique(np.concatenate([[0], cuts, [off.size - 1]]))
        vb = self.bounds
        for r0, r1 in zip(cuts[:-1], cuts[1:]):
            out[vb[r0]:vb[r1]] = decode_varint(
                data[off[r0]:off[r1]]).view(np.int64)
        return out

    @cached_property
    def ids(self) -> np.ndarray:
        deltas = self._values("doc_ids")
        csum = np.zeros(deltas.size + 1, dtype=np.int64)
        np.cumsum(deltas, out=csum[1:])
        first = self._tbl.column("first_doc_id").to_numpy().astype(np.int64)
        return csum[1:] + np.repeat(first - csum[self.bounds[:-1]], self.n)

    @cached_property
    def tfs(self) -> np.ndarray:
        return self._values("tfs") + 1

    @cached_property
    def dls(self) -> np.ndarray:
        return self._values("dls")

    @cached_property
    def lo(self) -> int:
        """The range's first doc id (0 without postings)."""
        return int(self.ids.min()) if self.ids.size else 0

    @cached_property
    def width(self) -> int:
        """Columns of the range-local arrays: its doc-id span."""
        return int(self.ids.max()) - self.lo + 1 if self.ids.size else 0

    @cached_property
    def col(self) -> np.ndarray:
        """Each posting's column: its direct offset ``doc_id − lo``."""
        return self.ids - self.lo

    def mask_of(self, doc_ids: np.ndarray) -> np.ndarray:
        """Bool mask over the columns: the given doc ids of the range."""
        m = np.zeros(self.width, dtype=bool)
        c = np.asarray(doc_ids, dtype=np.int64) - self.lo
        m[c[(c >= 0) & (c < self.width)]] = True
        return m

    def norm(self, avgdl: float, k1: float, b: float) -> np.ndarray:
        """``tf_norm`` of every posting of the range."""
        return self._cached(("norm", avgdl, k1, b), None, lambda: tf_norm(
            self.tfs, self.dls, avgdl, k1, b))

    def _blob(self, name: str, key) -> bytes:
        return self._tbl.column(name)[self._row[key]].as_py()

    def _cached(self, kind, key, make) -> np.ndarray:
        got = self._cache.get((kind, key))
        if got is None:
            got = self._cache[(kind, key)] = make()
        return got

    def has(self, key) -> np.ndarray:
        """Bool mask over the columns: the docs with a posting of
        ``key``."""
        def make():
            m = np.zeros(self.width, dtype=bool)
            m[self.col[self.span(key)]] = True
            return m
        return self._cached("has", key, make)

    def block_bound(self, key, avgdl: float, k1: float,
                    b: float) -> np.ndarray:
        """Per-128-posting-block upper bound of ``key``'s ``tf_norm``
        (unweighted): ``tf_norm(max_tf, min_dl)`` is valid at ANY avgdl;
        the (1 + 1e-9) pad absorbs float monotonicity edge cases."""
        def make():
            btf, bdl = decode_block_meta(self._blob("block_max_tf", key),
                                         self._blob("block_min_dl", key))
            return tf_norm(btf, bdl, avgdl, k1, b) * (1.0 + 1e-9)
        return self._cached(("bound", avgdl, k1, b), key, make)

    def positions(self, key) -> np.ndarray:
        """The positional view of ``key`` (read with ``poss``): one
        ``doc_id<<24 | position`` key per occurrence. The codec emits
        doc_ids and each doc's positions ascending, so the keys are
        sorted — positional kernels intersect with ``isin`` /
        ``searchsorted`` on them directly; ``keys & _POS_MASK`` recovers
        the positions, ``keys >> _POS_SHIFT`` the docs."""
        def make():
            ids, tfs, _dls = self.postings(key)
            poss = decode_positions(self._blob("poss", key), tfs)
            return ((np.repeat(ids, tfs).astype(np.uint64) << _POS_SHIFT)
                    | poss.astype(np.uint64))
        return self._cached("positions", key, make)


def _ranges_of(tbl):
    """(range_id, :class:`PostingsRange`) of each range in a postings
    Arrow table, ascending by range_id (a range split over several files
    is still whole)."""
    rid = tbl.column("range_id").to_numpy()
    if np.any(rid[1:] < rid[:-1]):
        order = np.argsort(rid, kind="stable")
        tbl, rid = tbl.take(order), rid[order]
    cuts = np.flatnonzero(rid[1:] != rid[:-1]) + 1
    for lo, hi in zip(np.concatenate([[0], cuts]),
                      np.concatenate([cuts, [rid.size]])):
        yield int(rid[lo]), PostingsRange(tbl.slice(lo, hi - lo))


def _topk(qid: int, docs: np.ndarray, sc: np.ndarray, k: int,
          out: list) -> None:
    """Append query ``qid``'s top-k (score desc, doc_id asc) of (docs,
    sc) to ``out`` as (query_ids, doc_ids, scores). Tie-safe: every doc
    at or above the k-th score is kept, then only those are ranked —
    argpartition alone would break boundary ties arbitrarily instead of
    by ascending doc_id (the rank-identity contract)."""
    top = min(k, docs.size)
    if docs.size > top:
        kth = np.partition(sc, sc.size - top)[sc.size - top]
        m = sc >= kth
        docs, sc = docs[m], sc[m]
    order = np.lexsort((docs, -sc))[:top]
    out.append((np.full(top, qid, dtype=np.int32), docs[order], sc[order]))


def _emit(out: list) -> pd.DataFrame:
    """One :func:`result_frame` of the (query_ids, doc_ids, scores)
    parts a kernel appended."""
    if not out:
        return result_frame([], [], [])
    return result_frame(*(np.concatenate(c) for c in zip(*out)))


# ---------------------------------------------------- the one executor

def _kernel_over(fs, files, cols: list[str], filters: list, kernel,
                 use_threads: bool, allowed: dict | None = None):
    """The one scan body: read ``files`` (one path or a list) with the
    bucket/term ``filters``, split the rows by ``range_id`` (across
    files, so a range split over several files is still whole) into
    :class:`PostingsRange` s — no pandas frame of the binary columns —
    and yield each non-empty ``kernel`` output — with ``allowed``
    ({range_id: doc_ids}, whose ranges ``filters`` keep), as
    ``kernel(rng, allowed[range_id])``."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(files, columns=cols, filters=filters,
                        use_threads=use_threads, filesystem=fs)
    if tbl.num_rows == 0:
        return
    for rid, rng in _ranges_of(tbl):
        out = kernel(rng) if allowed is None else kernel(rng, allowed[rid])
        if len(out):
            yield out


def execute(spark: SparkSession, paths: IndexPaths, stats: IndexStats,
            live_terms: list[str], kernel, *, n_queries: int,
            k: int | None = None, need_positions: bool = False,
            allowed: DataFrame | None = None,
            schema: str = RESULT_SCHEMA) -> DataFrame:
    """The one postings executor: run ``kernel`` on the bucket/term-pruned
    postings rows of ``live_terms``, one WHOLE doc range per call, and
    return the union of its outputs (``schema``) — or, with ``k``, the
    global top-k page of them (:data:`RANKED`, the :func:`ranked_topk`
    rule).

    ``kernel(rng)`` gets one range's postings rows as a
    :class:`PostingsRange`, built once per range on every branch (from
    the Arrow rows on the driver and pyio branches, from the pandas
    group on the JVM branches); with ``allowed`` (a (doc_id, range_id)
    frame, see :func:`_allowed_docs`) it is called as
    ``kernel(rng, allowed_ids)`` with that range's allowed doc_ids. The
    ``poss`` column is read only with ``need_positions=True``.
    ``n_queries`` is the number of queries the kernel scores (the Q of
    the sized decision).

    Branches (this is the only place that reads the postings table for a
    query):

    * ranked and small — the driver scan: when ``k`` is given and the
      sized decision (:func:`_runs_on_driver`) says the footprint of the
      pruned row groups (from the cached footer summaries,
      :func:`.indexer._footers`) and ``n_queries`` cost less on the
      driver than a distributed call's fixed cost, the driver reads the
      postings with pyarrow, runs the kernel per range, ranks in pandas
      and returns the page as a local relation: no Spark job at all.
      With ``allowed`` the decision also counts the allowed set's
      bound, ``stats.N`` rows (capped by :data:`DRIVER_MAX_BYTES`, priced
      at δ per row); the call then collects the allowed set in
      one column-pruned Spark job (:func:`_collect_allowed`), reads only
      the ranges holding an allowed id and calls ``kernel(rng,
      allowed_ids)`` with each range's sorted ids — the cogroup's call.
      Unranked calls never take it (see the constants);
    * unfiltered, range-aligned postings — the pyio scan: one
      ``mapInPandas`` task per bin of postings files reads them with
      pyarrow through the resolved filesystem (``filters=`` gives
      C++-side bucket/term row-group pruning) and runs the kernel on
      each range inside them. No Exchange, and
      the postings bytes never cross the JVM↔Python Arrow socket (BENCH.md
      §6 round-5 diagnosis: the kernel scales 1→4 cores like the
      Spark-free pool control, ~0.86, while the JVM→Arrow transfer path
      scales at ~0.60 — the boundary doubles memory traffic and hits the
      shared-bandwidth wall first);
    * filtered, not on the driver — the pushed-down JVM scan
      ``cogroup``-ed with ``allowed`` on ``range_id``: each range sees
      only its own allowed ids, never a global id broadcast;
    * a range split across files — the JVM scan grouped by
      ``range_id``. A per-file task would see part of a range and emit
      wrong partial scores, so this is the distributed path for that
      layout (the driver scan groups across files and is correct too).

    No ``live_terms`` (or ``k`` < 1) → :func:`empty_frame`: no postings
    are read.
    """
    if k is not None and k < 1:
        return empty_frame(spark, RANKED)
    if not live_terms:
        return empty_frame(spark, schema if k is None else RANKED)
    bucket = {t: bucket_of(t, stats.n_buckets) for t in live_terms}
    buckets = sorted(set(bucket.values()))
    terms = sorted(bucket)
    cols = [c for c in _postings_arrow_schema().names
            if need_positions or c != "poss"]
    fs, post_dir = tablefs.resolve(spark, paths.postings)
    files = tablefs.list_files(fs, post_dir)
    feet = _footers(fs, files)
    if k is not None and _runs_on_driver(
            _footprint(feet, bucket, cols), n_queries,
            spark.sparkContext.defaultParallelism,
            0 if allowed is None else stats.N):
        return _driver_scan(spark, fs, files, kernel, cols, buckets, terms,
                            k, None if allowed is None
                            else _collect_allowed(allowed))
    if allowed is None and files and _aligned(feet):
        return _ranked(_pyio_scan(spark, fs, files, kernel, buckets,
                                  terms, cols, schema), k)
    postings = _filter_in(                                    # row-group pruning
        tablefs.spark_read(spark, paths.postings, _postings_arrow_schema())
        .filter(F.col("bucket").isin(buckets)),               # partition pruning
        "term", terms).select(*cols)
    if allowed is not None:
        return _ranked(postings.groupBy("range_id")
                       .cogroup(allowed.groupBy("range_id"))
                       .applyInPandas(
                           lambda pdf, ok: kernel(
                               PostingsRange.from_pandas(pdf),
                               ok["doc_id"].to_numpy(np.int64)),
                           schema=schema), k)
    return _ranked(postings.groupBy("range_id")
                   .applyInPandas(
                       lambda pdf: kernel(PostingsRange.from_pandas(pdf)),
                       schema=schema), k)


def _ranked(per_range: DataFrame, k: int | None) -> DataFrame:
    return per_range if k is None else ranked_topk(per_range, k)


def _collect_allowed(allowed: DataFrame) -> dict[int, np.ndarray]:
    """The allowed (doc_id, range_id) frame collected to the driver in
    ONE column-pruned Spark job: {range_id: sorted allowed doc_ids}."""
    tbl = allowed.select("doc_id", "range_id").toArrow()
    rids = tbl.column("range_id").to_numpy().astype(np.int64)
    ids = tbl.column("doc_id").to_numpy().astype(np.int64)
    order = np.lexsort((ids, rids))
    rids, ids = rids[order], ids[order]
    cuts = np.flatnonzero(np.diff(rids)) + 1
    return {int(r[0]): d for r, d in zip(np.split(rids, cuts),
                                         np.split(ids, cuts)) if r.size}


def _driver_scan(spark: SparkSession, fs, files: list, kernel,
                 cols: list[str], buckets: list[int], terms: list[str],
                 k: int, allowed: dict | None = None) -> DataFrame:
    """:func:`execute`'s driver branch: ONE pyarrow read of every
    postings file (``FileInfo``s of ``fs``) with the bucket/term
    filters, the kernel per range, the pandas top-k page, and its rows
    as a local relation — ``createDataFrame`` of a pandas frame plans a
    ``LocalRelation``, which collects with no Spark job.

    ``allowed`` ({range_id: sorted doc_ids}, :func:`_collect_allowed`)
    makes the call filtered: only ranges with an allowed id are read
    (a ``range_id`` row-group filter), and the kernel is called as
    ``kernel(rng, allowed_ids)`` — the call the ``cogroup`` makes."""
    if not files or allowed == {}:
        return empty_frame(spark, RANKED)
    filters = [("bucket", "in", buckets), ("term", "in", terms)]
    if allowed is not None:
        filters.append(("range_id", "in", sorted(allowed)))
    outs = list(_kernel_over(fs, [f.path for f in files], cols, filters,
                             kernel, use_threads=True, allowed=allowed))
    if not outs:
        return empty_frame(spark, RANKED)
    pdf = _rank_pandas(pd.concat(outs, ignore_index=True), k)
    return spark.createDataFrame(
        pdf[["query_id", "rank", "doc_id", "score"]], RANKED)


def _rank_pandas(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """:func:`ranked_topk` in pandas: per query, (score desc, doc_id
    asc), ``rank`` int32 from 1, ranks ≤ ``k``."""
    pdf = pdf.sort_values(["query_id", "score", "doc_id"],
                          ascending=[True, False, True], kind="mergesort",
                          ignore_index=True)
    rank = pdf.groupby("query_id", sort=False).cumcount() + 1
    pdf = pdf.assign(rank=rank.astype("int32"))
    return pdf[pdf["rank"] <= k]


def _pyio_scan(spark: SparkSession, fs, files: list, kernel,
               buckets: list[int], terms: list[str], cols: list[str],
               schema: str) -> DataFrame:
    """:func:`execute`'s distributed branch over range-aligned postings
    ``files`` (``FileInfo``s of ``fs``; every range's rows live in
    exactly one file, by the build's range-alignment invariant)."""

    def task(it):
        import pyarrow as pa

        # Spark's task slots are the parallelism; Arrow's own pool
        # defaults to ALL host CPUs per process (oversubscription)
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        filters = [("bucket", "in", buckets), ("term", "in", terms)]
        for fdf in it:
            for path in (p for b in fdf["bin"] for p in bins[int(b)]):
                yield from _kernel_over(fs, path, cols, filters, kernel,
                                        use_threads=False)

    # task granularity (round 6): each mapInPandas task pays a fixed
    # JVM↔worker turnaround (closure deserialize — the query batch's
    # qinfo rides in the closure — plus scheduling), so one-file-per-task
    # charges that constant once per FILE. Pack files into
    # min(len(files), max(8, 2·slots)) LPT bins instead: the constant is
    # paid O(bins) times, and the parallelism-independent floor keeps the
    # physical task layout identical across core counts (the same
    # fixed-granularity choice as the bench's pool control), so scaling
    # ratios measure the kernel, not the task-count asymmetry.
    # Bin ids ride a spark.range frame (one id per partition, pure JVM —
    # no shuffle, no pickled-RDD evaluation under the Arrow runner); the
    # bins themselves travel in the task closure next to qinfo.
    slots = max(1, spark.sparkContext.defaultParallelism)
    n_bins = min(len(files), max(8, 2 * slots))
    bins = tablefs.lpt_bins(files, n_bins)
    return (spark.range(0, n_bins, 1, numPartitions=n_bins)
            .withColumnRenamed("id", "bin")
            .mapInPandas(task, schema=schema))


def ranked_topk(per_range: DataFrame, k: int) -> DataFrame:
    """The global top-k page over per-range candidates: rank each
    query's rows by (score desc, doc_id asc) — the engine's one
    tie-break rule — and keep ranks ≤ k. Returns :data:`RANKED` rows."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (per_range.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))


def _weighted_qinfo(q_terms: dict, idfs: dict) -> dict:
    """{query_id: {term: idf · occurrence-count}} — BM25 scores accumulate
    once per query-term OCCURRENCE (oracle.py:53-64 semantics), so repeated
    terms get proportionally larger weights."""
    from collections import Counter

    qinfo = {}
    for qid, toks in q_terms.items():
        ti = {t: idfs[t] * c for t, c in Counter(toks).items() if t in idfs}
        if ti:
            qinfo[int(qid)] = ti
    return qinfo


def _score_kernel(qinfo: dict, k: int, stats: IndexStats, prune: bool,
                  bool_spec: dict | None = None,
                  after_spec: dict | None = None,
                  msm_spec: dict | None = None):
    """Per-doc-range scorer. qinfo: {query_id: {term: weight}} where
    weight = idf · (occurrences of the term in the query) — BM25 accumulates
    per query-term occurrence (Lucene BooleanQuery / BruteForceBM25.search
    semantics), so 'the the cat' scores 'the' twice.

    The kernel is ``score_range(rng, allowed_ids=None)`` (the
    :func:`execute` contract, ``rng`` a :class:`PostingsRange`):
    ``allowed_ids`` carries the doc_ids of this range that pass the
    metadata filter (the Lucene bool/filter context: scores are
    corpus-global, the filter only restricts the candidate set —
    opensearch_loader.py:873-884 semantics).

    **One accumulation rule.** Per query, each term's contributions
    ``weight · tf_norm`` are added, in the query's term order, into a
    zeroed range-local array over the range's doc columns
    (:attr:`PostingsRange.col`, a direct offset). A doc's score is
    therefore the same left-to-right sum of the same floats whatever
    other queries share the batch, the range or the call — bit for bit.
    Weights are positive (idf > 0 as df ≤ N) and ``tf_norm`` > 0, so the
    hits are the columns above 0. Every constraint below is a mask over
    that array:

    ``allowed_ids`` — the docs passing the filter.

    ``after_spec``: {query_id: (score, doc_id)} — the search_after
    cursor: only docs sorting STRICTLY AFTER the cursor in the
    (score desc, doc_id asc) total order compete for the page's top-k.
    The mask is range-local, so a deep page never materializes more than
    k rows per range (the OpenSearch search_after contract, vs the
    from+size deep-paging trap). Cursor scores must come from the same
    engine (bit-identical f64); callers pass ``prune=False`` — block-max
    thresholds assume the unconstrained top-k, and the after-page lives
    below it.

    ``bool_spec``: {query_id: (must_terms, must_not_terms)} — Lucene
    BooleanQuery clause constraints (the reference's bool query builder,
    opensearch_loader.py:430-441). A doc qualifies only if it contains
    EVERY must term and NO must_not term; constraints are range-local
    because each doc lives in exactly one range. must terms also score
    (they are in qinfo); must_not terms only exclude. Callers must pass
    ``prune=False`` with a non-empty bool_spec: block-max thresholds are
    computed over unconstrained candidates, and clause filtering can push
    the true k-th score below that threshold (same soundness argument as
    the metadata filter, under which pruning is off).

    ``msm_spec``: {query_id: m} — the ``minimum_should_match`` parameter
    of the reference's match queries (the OpenSearch search body the
    repo's verify step issues, opensearch_loader.py:873-884): a doc
    qualifies only if it matches ≥ m DISTINCT query terms, counted by a
    per-doc hit counter filled in the same pass as the scores. Requires
    ``prune=False`` for the same soundness reason as bool_spec: block-max
    masks drop low-scoring postings, which would undercount a doc's
    matched-term tally.

    ``prune``: block-max masks (:func:`_block_prune`) drop a term's
    contributions before they are added.
    """
    k1, b, avgdl = stats.k1, stats.b, stats.avgdl

    def score_range(rng: PostingsRange,
                    allowed_ids: np.ndarray | None = None) -> pd.DataFrame:
        norm = rng.norm(avgdl, k1, b)
        acc = np.empty(rng.width)
        tally = None
        allowed = None if allowed_ids is None else rng.mask_of(allowed_ids)
        out: list = []
        for qid, term_idfs in qinfo.items():
            hits = [(t, w) for t, w in term_idfs.items() if t in rng]
            if not hits:
                continue
            spec = bool_spec.get(qid) if bool_spec else None
            if spec and any(t not in rng for t in spec[0]):
                continue  # a must term has no postings in this range
            m_req = msm_spec.get(qid) if msm_spec else None
            if m_req is not None and len(hits) < m_req:
                continue  # fewer live terms than the floor: nothing matches
            parts = [(rng.col[s], w * norm[s])
                     for s, w in ((rng.span(t), w) for t, w in hits)]
            # block maxes index a term's ORIGINAL posting positions and
            # bound the unfiltered top-k: no pruning under a filter
            if prune and len(hits) > 1 and allowed is None:
                parts = _block_prune(rng, hits, parts, k, avgdl, k1, b)
            acc[:] = 0.0
            count = m_req is not None and m_req > 1
            if count:
                if tally is None:
                    tally = np.empty(rng.width, dtype=np.int32)
                tally[:] = 0
            for cols, contrib in parts:
                acc[cols] += contrib
                if count:
                    tally[cols] += 1
            keep = acc > 0.0
            if count:
                keep &= tally >= m_req
            if spec:
                for t in spec[0]:           # must: every posting set
                    keep &= rng.has(t)
                for t in spec[1]:           # must_not: none of them
                    if t in rng:
                        keep &= ~rng.has(t)
            if allowed is not None:
                keep &= allowed
            cols = np.flatnonzero(keep)
            docs, sc = cols + rng.lo, acc[cols]
            aft = after_spec.get(qid) if after_spec else None
            if aft is not None:
                a_s, a_d = aft
                m = (sc < a_s) | ((sc == a_s) & (docs > a_d))
                docs, sc = docs[m], sc[m]
            if docs.size:
                _topk(qid, docs, sc, k, out)
        return _emit(out)

    return score_range


def _block_prune(rng: PostingsRange, hits: list, parts: list, k: int,
                 avgdl: float, k1: float, b: float) -> list:
    """Block-max pruning (BMW family; sound, vectorized): ``parts``, one
    (cols, contributions) pair per term of ``hits`` ((term, weight)
    pairs), with the postings of skippable blocks dropped.

    Threshold seeding: the *champion* term (largest weight·block-max) has
    its actual per-posting contributions already computed — each is a
    lower bound on that doc's final score, so the k-th largest
    contribution is a sound lower bound on the true k-th best total score
    in this range.

    Block prune rule: a 128-posting block b of term t is skippable iff
    ``w_t·block_max_t[b] + Σ_{t'≠t} max(w_t'·block_max_t') < threshold``
    — every doc in that block then provably misses top-k, so dropping its
    t-contribution cannot perturb the top-k set or the exact scores of its
    members (their own blocks are never prunable). Differential-tested
    against exhaustive scoring (prune=False).
    """
    ubs = [w * rng.block_bound(t, avgdl, k1, b) for t, w in hits]
    term_max = [u.max() if u.size else 0.0 for u in ubs]
    total_ub = float(sum(term_max))
    champ = parts[int(np.argmax(term_max))][1]
    if champ.size < k:
        return parts  # not enough evidence to seed a sound threshold
    thresh = float(np.partition(champ, champ.size - k)[champ.size - k])
    out = []
    for (cols, contrib), ub, t_max in zip(parts, ubs, term_max):
        if ub.size:
            keep_blocks = ub + (total_ub - t_max) >= thresh
            if not keep_blocks.all():
                keep = np.repeat(keep_blocks, BLOCK)[:contrib.size]
                cols, contrib = cols[keep], contrib[keep]
        out.append((cols, contrib))
    return out


def _allowed_docs(spark: SparkSession, paths: IndexPaths,
                  doc_filter: str | None,
                  filter_root: str | None = None) -> DataFrame | None:
    """(doc_id, range_id) of docs passing a SQL predicate over the docs
    table — the bool/filter context shared by every query type
    (opensearch_loader.py:386-408 builds term filters; 873-884 attaches
    them to ANY search, match and match_phrase alike) — or None without
    a predicate. Grouped by range_id for the cogroup with the postings
    scan (:func:`execute`): each doc-range kernel sees only its own
    allowed ids, never a global id broadcast.

    ``filter_root``: index root whose DOCS table resolves ``doc_filter``
    (default: ``paths``' own root). Field posting spaces project their
    docs down to (doc_id, text, range_id, dl), so metadata predicates
    must resolve against the ROOT index's docs — doc_ids and ranges are
    shared."""
    if doc_filter is None:
        return None
    if filter_root:
        paths = IndexPaths(filter_root)
    return (tablefs.spark_read(spark, paths.docs).filter(doc_filter)
            .select("doc_id", "range_id"))


def resolve_msm(spec: int | str, n_terms: int) -> int:
    """Resolve a ``minimum_should_match`` spec against a query's distinct
    analyzed-term count: an int is taken as-is (clamped to ≥1), a
    percentage string like ``"75%"`` floors (Lucene's rounding for
    positive percentages) over the distinct-term clause count."""
    if isinstance(spec, str):
        pct = float(spec.rstrip("%"))
        return max(1, int(n_terms * pct / 100.0))
    return max(1, int(spec))


def search(spark: SparkSession, index_dir: str, queries: list[tuple[int, str]],
           k: int = 10, prune: bool = True,
           doc_filter: str | None = None,
           filter_root: str | None = None,
           after: dict[int, tuple[float, int]] | None = None,
           minimum_should_match: int | str | None = None) -> DataFrame:
    """BM25 top-k: queries [(query_id, text)] → DataFrame(query_id, rank,
    doc_id, score). One-shot form of :meth:`Searcher.search`, which
    documents the options."""
    return Searcher(spark, index_dir).search(
        queries, k=k, prune=prune, doc_filter=doc_filter,
        filter_root=filter_root, after=after,
        minimum_should_match=minimum_should_match)


# --------------------------------------------------------- phrase queries

def _phrase_kernel(qinfo: dict, k: int, stats: IndexStats, slop: int = 0):
    """Per-doc-range phrase scorer (match_phrase semantics,
    opensearch_loader.py:386-408 / Lucene PhraseQuery):
    tf = exact-phrase frequency, idf = Σ per-term idfs,
    score = idf · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).

    ``slop > 0`` is the ``match_phrase`` slop option under an ORDERED
    WINDOW contract: an anchor position p₀ of the first term matches iff
    the remaining terms occur IN ORDER at positions
    p₀ < p₁ < … < pₙ₋₁ ≤ p₀ + (n−1) + slop; tf = count of matching
    anchors, each match weighing 1 (slop=0 degenerates to the exact
    contiguous phrase). This is deliberately simpler than Lucene's
    SloppyPhraseScorer (which admits reordering within an edit budget
    and weighs matches 1/(distance+1)) — the ordered-window form has a
    closed relational statement the SQL oracle reproduces exactly, and
    out-of-order matches at slop ≤ 2 are corner cases of repeated terms.
    The existence test per anchor is a greedy minimal-next-occurrence
    chain (greedy succeeds iff any in-order assignment exists).

    qinfo: {query_id: {"terms": [t0, t1, ...], "idf": float}}.

    ``allowed_ids`` is the metadata filter (same :func:`execute` contract
    as :func:`_score_kernel`): it only restricts the candidate set, phrase
    statistics stay corpus-global. The
    restriction is applied to the matched docs AFTER position intersection
    — phrase candidates are already tiny, so a per-term pre-filter buys
    nothing and would complicate the position-key bookkeeping.
    """
    k1, b, avgdl = stats.k1, stats.b, stats.avgdl

    def score_range(rng: PostingsRange,
                    allowed_ids: np.ndarray | None = None) -> pd.DataFrame:
        out: list = []
        for query_id, info in qinfo.items():
            terms = info["terms"]
            if not all(t in rng for t in terms):
                continue
            # anchor: (doc, pos) pairs of the first term
            d0, _tf0, dl0 = rng.postings(terms[0])
            keys0 = rng.positions(terms[0])
            if slop == 0:
                cand = keys0
                for i, t in enumerate(terms[1:], start=1):
                    if cand.size == 0:
                        break
                    cand = cand[np.isin(cand + np.uint64(i),
                                        rng.positions(t))]
            else:
                # greedy chain: for each anchor, repeatedly take the
                # SMALLEST next-term occurrence after the previous one
                # (searchsorted over the sorted doc<<S|pos keys — the
                # codec emits doc_ids and per-doc positions ascending);
                # anchor survives iff the chain stays in-doc and within
                # the p0 + (n-1) + slop window
                docs_a = keys0 >> _POS_SHIFT
                p0 = keys0 & _POS_MASK
                limit = p0 + np.uint64(len(terms) - 1 + slop)
                prev = p0.copy()
                alive = np.ones(keys0.size, dtype=bool)
                for t in terms[1:]:
                    if not alive.any():
                        break
                    keys_t = rng.positions(t)
                    lookup = (docs_a << _POS_SHIFT) | (prev + np.uint64(1))
                    idx = np.searchsorted(keys_t, lookup, side="left")
                    ok = idx < keys_t.size
                    found = keys_t[np.minimum(idx, keys_t.size - 1)]
                    fdoc = found >> _POS_SHIFT
                    fpos = found & _POS_MASK
                    alive &= ok & (fdoc == docs_a) & (fpos <= limit)
                    prev = np.where(alive, fpos, prev)
                cand = keys0[alive]
            if cand.size == 0:
                continue
            cand_docs = (cand >> _POS_SHIFT).astype(np.int64)
            uniq, pf = np.unique(cand_docs, return_counts=True)
            if allowed_ids is not None:
                keep = np.isin(uniq, allowed_ids)
                uniq, pf = uniq[keep], pf[keep]
                if uniq.size == 0:
                    continue
            # dl lookup from the anchor term's posting run
            dl_map = dl0[np.searchsorted(d0, uniq)]
            _topk(query_id, uniq,
                  info["idf"] * tf_norm(pf, dl_map, avgdl, k1, b), k, out)
        return _emit(out)

    return score_range


def phrase_search(spark: SparkSession, index_dir: str,
                  queries: list[tuple[int, str]], k: int = 10,
                  doc_filter: str | None = None,
                  filter_root: str | None = None,
                  slop: int = 0) -> DataFrame:
    """Exact-phrase top-k (the match_phrase surface of the reference).
    One-shot form of :meth:`Searcher.phrase_search`, which documents the
    options."""
    return Searcher(spark, index_dir).phrase_search(
        queries, k=k, doc_filter=doc_filter, filter_root=filter_root,
        slop=slop)


def explain_scores(spark: SparkSession, index_dir: str,
                   queries: list[tuple[int, str]], k: int = 10,
                   hits: DataFrame | None = None) -> DataFrame:
    """The ``explain=true`` surface: per-term BM25 contribution breakdown
    for each of the query's top-k hits —
    ``contribution = idf(t) · qcount(t) · tfnorm(tf, dl)`` with
    Σ contributions over terms == the hit's :func:`search` score (the
    invariant pytest pins bit-for-bit).

    Physical shape: :func:`search` produces the top-k (query, doc) pairs;
    only THOSE docs' text is re-analyzed (frozen Arrow tokenizer — tf
    identical to the postings by construction) via a join-pruned docs
    scan, then one explode + filter to the query's terms and a codegen
    formula. Cost is bounded by k·|queries| docs, never the corpus.

    ``hits``: optional (query_id, doc_id) frame naming the exact pairs
    to explain (the ``/_explain/{id}`` endpoint shape); default is the
    engine's own top-k.

    Returns DataFrame(query_id, doc_id, term, tf, contribution), ordered
    (query_id, doc_id, contribution desc, term).
    """
    from .analyzer import token_count_udf, with_tokens

    paths = IndexPaths(index_dir)
    stats = load_stats(spark, index_dir)
    q_terms = {int(qid): tokenize_text(text) for qid, text in queries}
    terms = sorted({t for ts in q_terms.values() for t in ts})
    out_schema = ("query_id int, doc_id long, term string, tf long, "
                  "contribution double")
    _dfs, idfs = term_stats(spark, paths, stats, terms)
    # per-(query, term) weight = idf · occurrence count (search semantics)
    from collections import Counter

    wrows = [(qid, t, idfs[t] * c) for qid, ts in q_terms.items()
             for t, c in Counter(ts).items() if t in idfs]
    if not wrows:
        return spark.createDataFrame([], out_schema)
    weights = spark.createDataFrame(
        sorted(wrows), "query_id int, term string, w double")

    if hits is None:
        hits = search(spark, index_dir, queries, k=k).select("query_id",
                                                             "doc_id")
    else:
        hits = hits.select("query_id", "doc_id")
    docs = tablefs.spark_read(spark, paths.docs).select("doc_id", "text")
    hit_docs = (hits.join(docs, "doc_id")
                .withColumn("dl", token_count_udf(F.col("text"))
                            .cast("double")))
    toks = (with_tokens(hit_docs)
            .select("query_id", "doc_id", "dl",
                    F.explode("tokens").alias("term")))
    tf = (toks.join(F.broadcast(weights), ["query_id", "term"])
          .groupBy("query_id", "doc_id", "term")
          .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"),
               F.first("w").alias("w")))
    k1, b, avgdl = stats.k1, stats.b, stats.avgdl
    contrib = (F.col("w") * F.col("tf") * (k1 + 1)
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)))
    return (tf.withColumn("contribution", contrib)
            .select("query_id", "doc_id", "term", "tf", "contribution")
            .orderBy("query_id", "doc_id",
                     F.col("contribution").desc(), "term"))


class Searcher:
    """Reusable query handle: caches stats + (optionally) the dictionary.

    The module-level :func:`search`/:func:`phrase_search` open a fresh
    handle per call, so they re-read the tiny stats/dictionary parquet
    every time — correct, but two extra driver round-trips per query. A
    serving deployment keeps stats resident (one row). The
    dictionary default is the per-query pruned parquet point-lookup:
    at web scale |vocab| is billions of rows and collecting it to the
    driver would OOM. ``preload_dictionary=True`` is an explicit opt-in
    for small corpora / latency-critical serving on bounded vocabularies.
    """

    def __init__(self, spark: SparkSession, index_dir: str,
                 preload_dictionary: bool = False):
        self.spark = spark
        self.index_dir = index_dir
        self.paths = IndexPaths(index_dir)
        self.stats = load_stats(spark, index_dir)
        self._dfs: dict[str, int] | None = None
        if preload_dictionary:
            pdf = tablefs.read_small_table(spark, self.paths.dictionary)
            self._dfs = dict(zip(pdf["term"],
                                 pdf["df"].astype(int).tolist()))

    def _idfs(self, terms: list[str]) -> dict[str, float]:
        """idfs as :func:`term_stats`, from the resident dictionary when
        preloaded."""
        if self._dfs is None:
            return term_stats(self.spark, self.paths, self.stats, terms)[1]
        return {t: idf_of(self.stats.N, self._dfs[t])
                for t in terms if t in self._dfs}

    def search(self, queries: list[tuple[int, str]], k: int = 10,
               prune: bool = True,
               doc_filter: str | None = None,
               filter_root: str | None = None,
               after: dict[int, tuple[float, int]] | None = None,
               minimum_should_match: int | str | None = None) -> DataFrame:
        """queries: [(query_id, text)] → DataFrame(query_id, rank, doc_id,
        score).

        ``after``: {query_id: (score, doc_id)} — search_after cursor
        pagination: return the top-k among docs sorting STRICTLY AFTER the
        cursor in (score desc, doc_id asc) order. Cursor values must be
        the engine's own previous-page last-row values (bit-identical
        f64). Forces ``prune=False`` (block-max thresholds assume the
        unconstrained top-k; the after-page lives below it). Queries
        without a cursor entry page from the top.

        ``doc_filter``: optional SQL predicate over the ``docs`` table
        columns (url, lang, ...) — the bool/filter context of the
        reference's search (opensearch_loader.py:873-884): restricts the
        candidate set without changing corpus-global BM25 statistics.
        ``filter_root``: index root whose docs table resolves it (see
        :func:`_allowed_docs`).

        ``minimum_should_match``: int or ``"N%"`` — a doc must match at
        least that many DISTINCT query terms (OpenSearch match-query
        semantics; percentage resolves per query by Lucene's
        positive-percentage floor). Forces ``prune=False`` when the
        resolved floor exceeds 1."""
        stats = self.stats
        if after:
            prune = False
            after = {int(q): (float(s), int(d))
                     for q, (s, d) in after.items()}
        q_terms = {qid: tokenize_text(text) for qid, text in queries}
        msm_spec = None
        if minimum_should_match is not None:
            # clause count = DISTINCT analyzed terms; terms absent from the
            # dictionary still count as clauses (Lucene builds the
            # TermQuery regardless — it just never matches), so resolve
            # BEFORE the df lookup. m > live-term count ⇒ the query
            # legitimately matches nothing.
            msm_spec = {qid: resolve_msm(minimum_should_match,
                                         len(set(toks)))
                        for qid, toks in q_terms.items()}
            if any(m > 1 for m in msm_spec.values()):
                prune = False  # block-max masks would undercount tallies
        terms = sorted({t for toks in q_terms.values() for t in toks})
        idfs = self._idfs(terms)
        qinfo = _weighted_qinfo(q_terms, idfs)
        live_terms = sorted({t for ti in qinfo.values() for t in ti})
        kern = _score_kernel(qinfo, k, stats, prune, after_spec=after,
                             msm_spec=msm_spec)
        allowed = _allowed_docs(self.spark, self.paths, doc_filter,
                                filter_root)
        return execute(self.spark, self.paths, stats, live_terms, kern,
                       n_queries=len(qinfo), k=k, allowed=allowed)

    def phrase_search(self, queries: list[tuple[int, str]], k: int = 10,
                      doc_filter: str | None = None,
                      filter_root: str | None = None,
                      slop: int = 0) -> DataFrame:
        """Exact-phrase top-k (the match_phrase surface of the reference).

        ``slop``: the match_phrase slop option under the ordered-window
        contract documented on :func:`_phrase_kernel` (0 = exact phrase).

        Same physical shape as :meth:`search`: dictionary point-lookup →
        bucket/term-pruned positional postings scan → per-range
        vectorized kernel → global top-k window.

        ``doc_filter`` / ``filter_root``: as for :meth:`search` — the
        reference attaches the same bool/filter context to every query
        type including match_phrase (opensearch_loader.py:386-408,
        873-884); the filter restricts candidates without changing
        corpus-global stats.
        """
        stats = self.stats
        q_terms = {qid: tokenize_text(text) for qid, text in queries}
        terms = sorted({t for toks in q_terms.values() for t in toks})
        idfs = self._idfs(terms)
        qinfo = {int(qid): {"terms": toks,
                            "idf": float(sum(idfs[t] for t in toks))}
                 for qid, toks in q_terms.items()
                 if toks and all(t in idfs for t in toks)}
        live_terms = sorted({t for i in qinfo.values() for t in i["terms"]})
        kern = _phrase_kernel(qinfo, k, stats, slop=slop)
        allowed = _allowed_docs(self.spark, self.paths, doc_filter,
                                filter_root)
        return execute(self.spark, self.paths, stats, live_terms, kern,
                       n_queries=len(qinfo), k=k, need_positions=True,
                       allowed=allowed)
