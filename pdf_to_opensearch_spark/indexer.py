"""SPIMI index build (SURVEY.md A10/A11, S12/S13, §3.3 restatement).

Replaces the Lucene segment build that sat behind the reference's bulk
index sink (opensearch_loader.py:372-384) with a document-range-sharded
inverted index:

1. **Deterministic dense doc_ids** — global rank over sorted ``url``
   (mirrors the reference's sorted-glob determinism, uploader.py:246;
   required for rank-identical tie-breaks). Implemented scale-correctly as
   range-repartition + per-partition offsets (zipWithIndex pattern), NOT a
   single-partition global window.
2. **Fixed-width doc ranges** — ``range_id = doc_id // docs_per_range``.
   Ranges are a pure function of doc_id (no sampled boundaries), which is
   what makes the build *resumable*: a restart recomputes identical ranges
   and anti-joins the manifest for pending ones.
3. **SPIMI per range** (``mapInPandas``): tokenize (frozen analyzer),
   accumulate (term, doc_id) → tf with pandas groupby, sort by
   (term, doc_id), delta+varint encode per-term runs with block-max
   metadata. Because each document lives in exactly one range, per-term
   runs across ranges are disjoint — the global index is the *union* of
   range outputs and needs **no posting-merge shuffle at all**; the only
   wide operations are the range repartition (by doc_id, balanced, never
   skewed regardless of Zipfian term skew) and the tiny dictionary
   aggregate (map-side combined sum — associative, skew-immune).
4. **Term buckets** — postings rows carry ``bucket = crc32(term) %
   n_buckets`` and are written sorted by (bucket, term), so query-time
   bucket/term filters prune parquet row groups by their min/max stats.
5. **Manifest + lineage** per range (the archive-sink analogue,
   opensearch_loader.py:608-702): docs, terms, bytes, wall-clock,
   analyzer version, commit timestamp.

Every table is read and written through the one pyarrow filesystem
:func:`tablefs.resolve` returns for its path; ``stats`` carries the
``format_version`` stamp that :func:`load_stats` checks.
"""

from __future__ import annotations

import time
import zlib
from collections.abc import Iterator
from dataclasses import asdict, dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ANALYZER_VERSION, BM25_B, BM25_K1, tablefs
from .analyzer import tokenize_arrow_batch
from .codec import encode_postings_batch

POSTINGS_SCHEMA = (
    "term string, range_id int, first_doc_id long, n long, cf long, "
    "doc_ids binary, tfs binary, dls binary, poss binary, "
    "block_max_tf binary, block_min_dl binary, max_tf long, "
    "n_bytes long, wall_ms long"
)

DEFAULT_BUCKETS = 16

# derived-tables epilogue fast path: at or below this many DOCS the fused
# dictionary+manifest result collects to the driver (one parallel job)
# instead of two distributed writes; above it (web-scale vocabularies) the
# Spark writers run. Doc count is the guard because it is known BEFORE the
# aggregation — a row-count probe would need its own job, and a LIMIT
# probe funnels through a single-task CollectLimit exchange.
SMALL_DERIVED_DOCS_MAX = 200_000


def term_bucket_col(term_col, n_buckets: int = DEFAULT_BUCKETS):
    """Deterministic term → bucket (crc32 mod n). Matches _bucket_of."""
    return F.pmod(F.crc32(term_col.cast("string")), F.lit(n_buckets)).cast("int")


def bucket_of(term: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def assign_doc_ids(docs_df: DataFrame, partitions: int = 32,
                   with_range_id: bool = False) -> DataFrame:
    """docs(url, ...) → +doc_id: dense global rank by url
    (+``range_id`` = the url-range partition id when requested).

    zipWithIndex pattern: range-repartition by url, sort within partitions,
    count per partition (one tiny job), then offset-add per partition.
    Avoids the single-partition bottleneck of a global window while
    producing the identical deterministic ordering.

    With ``with_range_id`` the partition id doubles as the SPIMI doc-range
    id: each range is a contiguous doc_id span fully contained in one
    partition — the property that lets :func:`build_postings` run with NO
    shuffle at all (the docs files written from these partitions are
    range-aligned).
    """
    ranged = (docs_df
              .repartitionByRange(partitions, "url")
              .sortWithinPartitions("url")
              .withColumn("_pid", F.spark_partition_id()))
    ranged = ranged.persist()
    counts = dict(
        (r["_pid"], r["cnt"])
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs_df.schema.fields
    ) + ", doc_id long" + (", range_id int" if with_range_id else "")

    def add_ids(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            base = offsets[pid] + seen
            seen += len(pdf)
            out = pdf.drop(columns=["_pid"])
            out["doc_id"] = np.arange(base, base + len(pdf), dtype=np.int64)
            if with_range_id:
                out["range_id"] = np.full(len(pdf), pid, dtype=np.int32)
            yield out

    result = ranged.mapInPandas(add_ids, schema=out_schema)
    # callers unpersist this after materializing `result` (repeated builds
    # in one session must not accumulate cached partitions)
    result._persisted_input = ranged
    return result


def _spimi_batches():
    """SPIMI kernel factory: per-Spark-partition posting-run builder.

    Ranges come from the input's ``range_id`` column (assigned once at
    prepare time) — a partition may hold SEVERAL whole ranges (packed
    files); the (term, range) grouping below keeps their outputs disjoint.
    """

    def spimi(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t0 = time.monotonic()
        # Arrow-C++ tokenization per batch (no per-token Python objects);
        # batch-local term codes are merged into partition-global codes via
        # one factorize over the (small) per-batch dictionaries
        parts = []           # (codes_local, doc_ids, dls, pos, ranges)
        dicts = []           # per-batch uniq term arrays
        for pdf in it:
            if len(pdf) == 0:
                continue
            tk = tokenize_arrow_batch(pdf["text"])
            if tk["codes"].size == 0:
                continue
            did = pdf["doc_id"].to_numpy(np.int64)
            rng = pdf["range_id"].to_numpy(np.int32)
            parts.append((tk["codes"], did[tk["doc_idx"]],
                          tk["dl"][tk["doc_idx"]], tk["pos"],
                          rng[tk["doc_idx"]]))
            dicts.append(tk["uniq"])
        if not parts:
            yield _empty_postings_frame()
            return
        all_uniq = np.concatenate(dicts)
        gcodes_of_dict, uniq_terms = pd.factorize(all_uniq, sort=False)
        gcodes_of_dict = gcodes_of_dict.astype(np.int64)
        codes_list = []
        off = 0
        for (codes_local, _d, _l, _p, _r), u in zip(parts, dicts):
            codes_list.append(gcodes_of_dict[off + codes_local])
            off += u.size
        codes = np.concatenate(codes_list)
        doc_ids = np.concatenate([p[1] for p in parts])
        dls = np.concatenate([p[2] for p in parts])
        pos = np.concatenate([p[3] for p in parts])
        range_col = np.concatenate([p[4] for p in parts])
        # single fused uint64 key sort (code | local_doc | pos) — ~2×
        # faster than the 3-key lexsort and (code, doc, pos) is unique so
        # an unstable sort is fine; falls back to lexsort when the
        # cardinalities can't pack into 64 bits
        dmin = doc_ids.min()
        local = (doc_ids - dmin).astype(np.uint64)
        pos_bits = max(int(pos.max()).bit_length(), 1)
        doc_bits = max(int(local.max()).bit_length(), 1)
        code_bits = int(codes.max()).bit_length() if codes.size else 1
        if pos_bits + doc_bits + code_bits <= 64:
            key = ((codes.astype(np.uint64) << (pos_bits + doc_bits)) |
                   (local << np.uint64(pos_bits)) | pos.astype(np.uint64))
            order = np.argsort(key)
        else:
            order = np.lexsort((pos, doc_ids, codes))
        codes, doc_ids, dls, pos = (codes[order], doc_ids[order],
                                    dls[order], pos[order])
        range_ids = range_col[order]
        # posting runs: adjacent (code, doc) equal
        chg = np.empty(codes.size, dtype=bool)
        chg[0] = True
        chg[1:] = (codes[1:] != codes[:-1]) | (doc_ids[1:] != doc_ids[:-1])
        run_starts = np.flatnonzero(chg)
        run_ends = np.append(run_starts[1:], codes.size)
        run_tf = run_ends - run_starts
        run_doc = doc_ids[run_starts]
        run_dl = dls[run_starts]
        run_code = codes[run_starts]
        run_range = range_ids[run_starts]
        # groups: adjacent (code, range) equal over runs
        gchg = np.empty(run_code.size, dtype=bool)
        gchg[0] = True
        gchg[1:] = ((run_code[1:] != run_code[:-1]) |
                    (run_range[1:] != run_range[:-1]))
        g_starts = np.flatnonzero(gchg)
        g_ends = np.append(g_starts[1:], run_code.size)
        enc = encode_postings_batch(run_doc, run_tf, run_dl, pos, run_starts,
                                    g_starts, g_ends)
        out = pd.DataFrame({
            "term": uniq_terms[run_code[g_starts]],
            "range_id": run_range[g_starts].astype(np.int32),
            "first_doc_id": enc["first_doc"],
            "n": enc["n"],
            "cf": enc["cf"],
            "doc_ids": enc["doc_ids"],
            "tfs": enc["tfs"],
            "dls": enc["dls"],
            "poss": enc["poss"],
            "block_max_tf": enc["block_max_tf"],
            "block_min_dl": enc["block_min_dl"],
            "max_tf": enc["max_tf"],
        })
        # payload size precomputed so the manifest aggregate never has to
        # re-read the binary columns (metadata-only derived-table pass)
        out["n_bytes"] = (out["doc_ids"].str.len() + out["tfs"].str.len()
                          + out["dls"].str.len()).astype("int64")
        out["wall_ms"] = int((time.monotonic() - t0) * 1000)
        yield out

    return spimi


def _empty_postings_frame() -> pd.DataFrame:
    return pd.DataFrame({
        "term": pd.Series(dtype="string"),
        "range_id": pd.Series(dtype="int32"),
        "first_doc_id": pd.Series(dtype="int64"),
        "n": pd.Series(dtype="int64"),
        "cf": pd.Series(dtype="int64"),
        "doc_ids": pd.Series(dtype=object),
        "tfs": pd.Series(dtype=object),
        "dls": pd.Series(dtype=object),
        "poss": pd.Series(dtype=object),
        "block_max_tf": pd.Series(dtype=object),
        "block_min_dl": pd.Series(dtype=object),
        "max_tf": pd.Series(dtype="int64"),
        "n_bytes": pd.Series(dtype="int64"),
        "wall_ms": pd.Series(dtype="int64"),
    })


FORMAT_VERSION = 1  # on-disk layout version, stamped in every stats row


class IndexPaths:
    def __init__(self, root: str):
        self.root = root
        self.docs = f"{root}/docs"
        self.postings = f"{root}/postings"
        self.dictionary = f"{root}/dictionary"
        self.doc_stats = f"{root}/doc_stats"
        self.docs_meta = f"{root}/docs_meta"
        self.stats = f"{root}/stats"
        self.manifest = f"{root}/manifest"
        self.fields = f"{root}/fields"  # per-field posting spaces


@dataclass(frozen=True)
class IndexStats:
    """One posting space's ``stats`` row: corpus statistics, BM25
    parameters and range geometry."""
    N: int
    avgdl: float
    avgdl_build: float
    docs_per_range: int
    num_ranges: int
    n_buckets: int
    k1: float
    b: float


def load_stats(spark: SparkSession, index_dir: str) -> IndexStats:
    """The ``stats`` row of ``index_dir`` (one driver-side read, no Spark
    job) — and the ONE on-disk format check: every layout older than
    the ``format_version`` stamp (``bucket=N/`` postings, docs without
    ``range_id``, no ``docs_meta``) lacks it, so it fails here, loudly,
    instead of taking a per-layout branch."""
    row = tablefs.read_small_table(spark, IndexPaths(index_dir).stats).iloc[0]
    version = row.get("format_version")
    if version is None or pd.isna(version) or int(version) != FORMAT_VERSION:
        raise ValueError(
            f"index {index_dir!r} has stats format_version {version}, but "
            f"this engine reads format_version {FORMAT_VERSION} only: "
            f"rebuild it with build_index")
    return IndexStats(
        N=int(row["N"]), avgdl=float(row["avgdl"]),
        avgdl_build=float(row["avgdl_build"]),
        docs_per_range=int(row["docs_per_range"]),
        num_ranges=int(row["num_ranges"]), n_buckets=int(row["n_buckets"]),
        k1=float(row["k1"]), b=float(row["b"]))


def write_stats(spark: SparkSession, paths: IndexPaths,
                stats: IndexStats) -> None:
    """The one stats writer: ``stats`` plus the analyzer version and the
    ``format_version`` stamp :func:`load_stats` checks."""
    row = asdict(stats) | {"analyzer_version": ANALYZER_VERSION,
                           "format_version": FORMAT_VERSION}
    tablefs.write_small_table(spark, pd.DataFrame([row]), paths.stats)


def prepare_docs(spark: SparkSession, docs_df: DataFrame, out_dir: str,
                 id_partitions: int = 32) -> IndexPaths:
    """Phase A: deterministic doc_ids + dl → write the ``docs`` table.

    Separated from :func:`build_postings` so the indexing job proper can be
    rerun/benchmarked/resumed against a fixed docs table (and at real scale
    the extract+prepare pass is I/O-bound while indexing is CPU-bound —
    different cluster shapes).

    FUSED write (guide §4.1/§2.4): the id-assign ``mapInPandas`` computes
    ``dl`` itself (one Arrow tokenize per batch) instead of a second
    ``token_count_udf`` ArrowEvalPython node — the text column crosses
    the JVM↔Python boundary ONCE, not twice. With a driver-sized corpus
    each task additionally side-writes its partition's ``doc_stats``
    (doc_id, dl) file with pyarrow (deterministic per-partition names —
    retries overwrite idempotently, the :func:`_spimi_python_io`
    pattern) and the N/sum_dl meta comes from one driver-side read — the
    separate doc_stats-write and aggregate Spark jobs disappear (3 jobs
    instead of 5 per build). Web-scale corpora keep the distributed
    writes.

    A new docs table reassigns doc_ids, so the field posting spaces
    built over the old one (``<root>/fields``) are removed."""
    paths = IndexPaths(out_dir)
    tablefs.delete_dir(*tablefs.resolve(spark, paths.fields))
    ranged = (docs_df
              .repartitionByRange(id_partitions, "url")
              .sortWithinPartitions("url")
              .withColumn("_pid", F.spark_partition_id()))
    ranged = ranged.persist()
    try:
        counts = dict(
            (r["_pid"], r["cnt"])
            for r in ranged.groupBy("_pid").agg(
                F.count("*").alias("cnt")).collect()
        )
        offsets = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        N = acc
        local_stats = N <= SMALL_DERIVED_DOCS_MAX
        fs, stats_dir = tablefs.resolve(spark, paths.doc_stats)
        if local_stats:
            tablefs.delete_dir(fs, stats_dir)
            fs.create_dir(stats_dir)

        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in docs_df.schema.fields
        ) + ", doc_id long, range_id int, dl int"

        def add_ids(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import pyarrow as pa
            import pyarrow.parquet as pq

            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
            seen = 0
            pid = None
            stat_chunks: list[pd.DataFrame] = []
            for pdf in it:
                if len(pdf) == 0:
                    continue
                pid = int(pdf["_pid"].iloc[0])
                base = offsets[pid] + seen
                seen += len(pdf)
                out = pdf.drop(columns=["_pid"])
                ids = np.arange(base, base + len(pdf), dtype=np.int64)
                out["doc_id"] = ids
                out["range_id"] = np.full(len(pdf), pid, dtype=np.int32)
                # dl computed HERE (same Arrow kernel as token_count_udf)
                # instead of a second Python crossing of the text column
                dl = tokenize_arrow_batch(pdf["text"])["dl"].astype("int32")
                out["dl"] = dl
                if local_stats:
                    stat_chunks.append(pd.DataFrame(
                        {"doc_id": ids, "dl": dl}))
                yield out
            if local_stats and stat_chunks:
                st = pd.concat(stat_chunks, ignore_index=True)
                pq.write_table(
                    pa.Table.from_pandas(st, preserve_index=False),
                    f"{stats_dir}/part-r{pid:05d}.parquet", filesystem=fs)

        # one file per id-partition → each docs file holds exactly one doc
        # range; build_postings exploits this to run with ZERO shuffle
        docs = ranged.mapInPandas(add_ids, schema=out_schema)
        docs.write.mode("overwrite").parquet(paths.docs)
    finally:
        # unpersist even when the write fails: repeated builds in one
        # session must not accumulate cached partitions
        ranged.unpersist()
    # docs-derived tables belong to phase A: they never change during the
    # indexing job, so the job itself doesn't pay for them (and doesn't
    # rescan docs for N/avgdl — docs_meta is a one-row point read)
    if not local_stats:
        docs_tbl = spark.read.parquet(paths.docs)
        (docs_tbl.select("doc_id", "dl")
         .write.mode("overwrite").parquet(paths.doc_stats))
        g = docs_tbl.agg(F.sum("dl").alias("sum_dl")).collect()[0]
        sum_dl = int(g["sum_dl"] or 0)
    elif tablefs.list_files(fs, stats_dir):
        sum_dl = int(tablefs.read_small_table(
            spark, paths.doc_stats, columns=["dl"])["dl"].sum())
    else:  # empty corpus: no side-written files
        tablefs.write_small_table(spark, pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"),
             "dl": pd.Series(dtype="int32")}), paths.doc_stats)
        sum_dl = 0
    meta = pd.DataFrame([{"N": N, "sum_dl": sum_dl,
                          "avgdl": (sum_dl / N) if N else 0.0}])
    tablefs.write_small_table(spark, meta, paths.docs_meta)
    return paths


_POSTINGS_ARROW_SCHEMA = None


def _postings_arrow_schema():
    """pyarrow schema EXACTLY matching the Spark writer's parquet footer
    (``maintenance`` snapshots write postings with Spark; parquet column
    resolution is by name + type per file, so a pyio file and a
    Spark-written file must agree field-for-field)."""
    global _POSTINGS_ARROW_SCHEMA
    if _POSTINGS_ARROW_SCHEMA is None:
        import pyarrow as pa

        _POSTINGS_ARROW_SCHEMA = pa.schema([
            ("term", pa.string()), ("range_id", pa.int32()),
            ("first_doc_id", pa.int64()), ("n", pa.int64()),
            ("cf", pa.int64()), ("doc_ids", pa.binary()),
            ("tfs", pa.binary()), ("dls", pa.binary()),
            ("poss", pa.binary()), ("block_max_tf", pa.binary()),
            ("block_min_dl", pa.binary()), ("max_tf", pa.int64()),
            ("n_bytes", pa.int64()), ("wall_ms", pa.int64()),
            ("bucket", pa.int32()),
        ])
    return _POSTINGS_ARROW_SCHEMA


class _Footer(NamedTuple):
    """The summary of one parquet file's footer that the engine plans
    with: ``span``, the (min, max) ``range_id`` over the file (None: no
    rows); ``range_stats``, every row group carries ``range_id``
    min/max; ``groups``, per row group, ``(bucket_lo, bucket_hi,
    term_lo, term_hi, {column: compressed bytes})`` — a None bound means
    the row group has no statistics for that column and may hold any
    value."""

    span: tuple[int, int] | None
    range_stats: bool
    groups: tuple


_FOOTERS: dict[tuple, _Footer] = {}
_FOOTERS_MAX = 4096


def _read_footer(fs, path: str) -> _Footer:
    import pyarrow.parquet as pq

    md = pq.read_metadata(path, filesystem=fs)
    names = [md.schema.column(i).path for i in range(md.num_columns)]

    def bounds(rg, col):
        st = rg.column(names.index(col)).statistics if col in names else None
        return (st.min, st.max) if st is not None and st.has_min_max \
            else (None, None)

    lo = hi = None
    range_stats = True
    groups = []
    for r in range(md.num_row_groups):
        rg = md.row_group(r)
        r_lo, r_hi = bounds(rg, "range_id")
        if r_lo is None:
            range_stats = False
        else:
            lo = r_lo if lo is None else min(lo, r_lo)
            hi = r_hi if hi is None else max(hi, r_hi)
        groups.append((*bounds(rg, "bucket"), *bounds(rg, "term"),
                       {n: rg.column(i).total_compressed_size
                        for i, n in enumerate(names)}))
    return _Footer(None if lo is None else (lo, hi), range_stats,
                   tuple(groups))


def _footers(fs, infos: list) -> list[_Footer]:
    """The footer summary of each parquet file (``FileInfo``s of
    ``fs``), cached per file snapshot (path, mtime, size): an append
    adds files and re-reads only theirs."""
    out = []
    for i in infos:
        key = (i.path, i.mtime_ns, i.size)
        ft = _FOOTERS.get(key)
        if ft is None:
            if len(_FOOTERS) >= _FOOTERS_MAX:
                _FOOTERS.clear()
            ft = _FOOTERS[key] = _read_footer(fs, i.path)
        out.append(ft)
    return out


def _range_spans(fs, infos: list) -> list[tuple[int, int] | None]:
    """(min, max) ``range_id`` of each parquet file (``FileInfo``s of
    ``fs``), from the cached footer summaries (None for a file without
    rows). Raises ValueError when a row group carries no ``range_id``
    min/max."""
    feet = _footers(fs, infos)
    for info, ft in zip(infos, feet):
        if not ft.range_stats:
            raise ValueError(f"{info.path}: no range_id statistics")
    return [ft.span for ft in feet]


def _spans_disjoint(spans) -> bool:
    """True iff no two (min, max) range_id spans overlap — i.e. every
    range lives wholly in one file (None spans are empty files)."""
    spans = sorted(sp for sp in spans if sp)
    return all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def _spimi_python_io(spark: SparkSession, paths: IndexPaths,
                     n_buckets: int,
                     completed_ranges: set[int] | None = None,
                     collect_meta: bool = False) -> pd.DataFrame | None:
    """The one SPIMI writer (build, resume and streaming append): Spark
    schedules one task per bin of range-aligned docs FILES; the task
    reads its files with pyarrow, runs the :func:`_spimi_batches`
    kernel, and writes its postings parquet directly with pyarrow — the
    document bytes never cross the JVM↔Python Arrow socket in either
    direction. All I/O goes through the filesystem :func:`tablefs.resolve`
    returns for the index root, which rides in the task closure.

    Why: the measured single-machine envelope (BENCH.md §6, round-5
    diagnosis) shows the pure kernel scaling 1→4 cores at ~0.86 — like
    the Spark-free pool control — while the JVM scan→Arrow→socket
    transfer scales at ~0.60 and the Arrow-return→JVM-sort→write path at
    ~0.62: the boundary crossings double memory traffic and hit the
    shared-bandwidth wall first. Removing them makes the Spark stage the
    pool control plus a scheduler.

    Output contract: the columns and types of
    :func:`_postings_arrow_schema`, rows sorted by (bucket, term) within
    each file (row-group pruning), deterministic per-file names (task
    retries overwrite idempotently — the manifest remains the commit
    record). Without ``completed_ranges`` the postings dir is cleaned
    first; with them (resume, append) only the docs files holding a
    range outside the set are read — chosen from footer ``range_id``
    stats — and only those ranges are written, under names that cannot
    collide with existing files.

    ``collect_meta=True`` (small-index builds only): each task also
    writes the two derived-tables grouping-set partials it can compute
    locally — the manifest row of every range it wrote (complete: a
    range never spans files) and its per-term (df, cf) partial sums —
    and the function returns the collected partials DataFrame (None
    otherwise). :func:`refresh_derived_tables` then finishes the
    dictionary/manifest with a pandas groupby, so the whole build is
    ONE Spark job: the epilogue's separate scan+aggregate job (the
    serial Amdahl term of whole-job scaling) disappears. The collect
    is bounded by Σ per-file vocabulary, which the
    SMALL_DERIVED_DOCS_MAX guard keeps driver-sized; web-scale builds
    keep the distributed epilogue.
    """
    import pyarrow.parquet as pq

    fs, root = tablefs.resolve(spark, paths.root)
    post_dir = f"{root}/postings"
    files = tablefs.list_files(fs, f"{root}/docs")
    skip = sorted(int(r) for r in (completed_ranges or ()))
    if skip:
        done = set(skip)
        todo = [(f, sp) for f, sp in
                zip(files, _range_spans(fs, files))
                if sp and not set(range(sp[0], sp[1] + 1)) <= done]
        if not _spans_disjoint(sp for _f, sp in todo):
            raise ValueError(
                f"{paths.docs}: a doc range to build spans several docs "
                f"files; the per-file SPIMI writer needs range-aligned "
                f"docs files")
        files = [f for f, _sp in todo]
    else:
        tablefs.delete_dir(fs, post_dir)
    fs.create_dir(post_dir)
    # derived-table partials return via SIDE FILES under _partials/ (a
    # "_"-prefixed dir is invisible to both the Spark reader and
    # tablefs.list_files): the Arrow collect of bins×vocab partial rows
    # through mapInPandas→toPandas cost ~0.1-0.3 s of pure serial driver
    # time per build; a pyarrow write per task + ONE driver read
    # replaces it and the job's action shrinks to one ack row per task
    partials_dir = f"{post_dir}/_partials"
    tablefs.delete_dir(fs, partials_dir)
    if collect_meta:
        fs.create_dir(partials_dir)
    nb = int(n_buckets)
    spimi = _spimi_batches()

    def task(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        # one C++ thread per task: Arrow's pool defaults to ALL host
        # CPUs PER PROCESS, so N concurrent tasks would run N×cpus
        # threads — oversubscription that erases the scaling win.
        # Parallelism here comes from Spark's task slots, not Arrow.
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        partials: list[pd.DataFrame] = []
        seen_bins: list[int] = []

        def _paths_of(b: int) -> list[str]:
            seen_bins.append(b)
            return bins[b]

        for fdf in it:
            for path in (p for b in fdf["bin"]
                         for p in _paths_of(int(b))):
                tbl = pq.read_table(
                    path, columns=["doc_id", "text", "range_id"],
                    use_threads=False, filesystem=fs)
                dpdf = tbl.to_pandas()
                if skip:
                    dpdf = dpdf[~dpdf["range_id"].isin(skip)]
                if not len(dpdf):
                    continue
                out = pd.concat(list(spimi(iter([dpdf]))),
                                ignore_index=True)
                if not len(out):
                    continue
                uniq, inv = np.unique(out["term"].to_numpy(str),
                                      return_inverse=True)
                b_u = np.fromiter(
                    (zlib.crc32(t.encode("utf-8")) % nb for t in uniq),
                    dtype=np.int32, count=uniq.size)
                out["bucket"] = b_u[inv]
                out = out.sort_values(["bucket", "term"],
                                      kind="mergesort",
                                      ignore_index=True)
                out["range_id"] = out["range_id"].astype("int32")
                ranges = out["range_id"].to_numpy()
                lo, hi = int(ranges.min()), int(ranges.max())
                patbl = pa.Table.from_pandas(
                    out, schema=_postings_arrow_schema(),
                    preserve_index=False)
                pq.write_table(
                    patbl, f"{post_dir}/part-pyio-r{lo:05d}-{hi:05d}.parquet",
                    compression="snappy", filesystem=fs)
                if not collect_meta:
                    continue
                # retain ONLY the metadata columns per file; the actual
                # partial aggregation runs once per TASK below (the
                # per-file pandas groupbys measured ~25 ms each — 0.8 s
                # of serialized overhead across a 32-file build)
                partials.append(out[["term", "range_id", "n", "cf",
                                     "n_bytes", "wall_ms"]])
        if collect_meta and partials:
            # derived-tables partials, ONE aggregation pass per task:
            # gid=2 manifest rows (complete — a range never spans files
            # or tasks), gid=1 per-term dictionary partial sums folded
            # across this task's files. Written as a SIDE FILE under
            # _partials/ (deterministic per-bin name — retries overwrite
            # idempotently) and read back with ONE driver pyarrow read.
            # n_terms=('term','size') relies on the one-row-per-
            # (term, range) invariant of the SPIMI kernel; sum_cf is
            # computed for real so no column carries placeholder values
            # a future consumer could misread; dropna=False keeps a
            # genuinely-NULL term alive (the fused Spark epilogue's
            # gid-split preserves it too).
            m = pd.concat(partials, ignore_index=True)
            man = (m.groupby("range_id", sort=False)
                   .agg(sum_n=("n", "sum"), sum_cf=("cf", "sum"),
                        n_terms=("term", "size"),
                        bytes=("n_bytes", "sum"),
                        wall_ms=("wall_ms", "max"))
                   .reset_index())
            man["gid"] = 2
            man["term"] = None
            dic = (m.groupby("term", sort=False, dropna=False)
                   .agg(sum_n=("n", "sum"), sum_cf=("cf", "sum"))
                   .reset_index())
            dic["gid"] = 1
            dic["range_id"] = -1
            dic["n_terms"] = 0
            dic["bytes"] = 0
            dic["wall_ms"] = 0
            cols = ["gid", "term", "range_id", "sum_n", "sum_cf",
                    "n_terms", "bytes", "wall_ms"]
            folded = pd.concat([man[cols], dic[cols]], ignore_index=True)
            pq.write_table(
                pa.Table.from_pandas(folded, preserve_index=False),
                f"{partials_dir}/part-b{min(seen_bins):05d}.parquet",
                filesystem=fs)
        yield pd.DataFrame({"ok": [1]})

    # task granularity: ONE wave of slots. Each mapInPandas task costs a
    # fixed JVM↔worker turnaround (~140 ms measured on this sandbox —
    # socket-heavy task protocol), so one-file-per-task serializes
    # len(files) of that overhead through the scheduler when files
    # outnumber slots — pack files into min(len(files), slots) LPT bins:
    # the per-task constant is paid once per slot and there is no
    # wave-boundary barrier (round 6; the previous 2·slots granularity
    # cost an extra ~0.2 s at the scaling bench's local[4] level for no
    # measurable balance win on near-uniform range files). On a real
    # cluster slots ≫ files keeps one file per task.
    slots = max(1, spark.sparkContext.defaultParallelism)
    n_bins = max(1, min(len(files), slots))
    bins = tablefs.lpt_bins(files, n_bins)
    # bin ids distributed via spark.range (one id per partition, pure
    # JVM): the previous parallelize(...).flatMap path evaluated a
    # pickled Python RDD under the mapInPandas stage, and the FIRST such
    # chain in a JVM pays ~1s of plain-pickle worker/serializer init
    # that the Arrow runner warm-up never touches (measured round 6:
    # first-job task lag 1.21s vs 0.20s warm) — a pure constant inside
    # the timed build. The bins list rides in the task closure.
    # action = collect() of the n_bins one-row acks, NOT count(): count
    # adds a partial/final aggregate pair whose one-row exchange AQE
    # materializes as an extra query stage — measured ~80 ms of pure
    # scheduling per job on this sandbox; collect is a single stage
    (spark.range(0, n_bins, 1, numPartitions=n_bins)
     .withColumnRenamed("id", "bin")
     .mapInPandas(task, schema="ok long")
     .collect())
    if not collect_meta:
        return None
    pfiles = [f.path for f in tablefs.list_files(fs, partials_dir)]
    if pfiles:
        meta = pq.read_table(pfiles, filesystem=fs).to_pandas()
    else:  # empty corpus: no task produced postings
        meta = pd.DataFrame({
            "gid": pd.Series(dtype="int64"),
            "term": pd.Series(dtype=object),
            "range_id": pd.Series(dtype="int64"),
            "sum_n": pd.Series(dtype="int64"),
            "sum_cf": pd.Series(dtype="int64"),
            "n_terms": pd.Series(dtype="int64"),
            "bytes": pd.Series(dtype="int64"),
            "wall_ms": pd.Series(dtype="int64"),
        })
    tablefs.delete_dir(fs, partials_dir)
    return meta


def build_postings(spark: SparkSession, out_dir: str,
                   num_ranges: int = 16, n_buckets: int = DEFAULT_BUCKETS,
                   completed_ranges: set[int] | None = None) -> IndexPaths:
    """Phase B: the indexing job — docs table → postings (the
    :func:`_spimi_python_io` writer) + dictionary + stats + manifest.

    ``completed_ranges`` (from :func:`resume_info`) skips already-committed
    ranges — the resumable-checkpoint path (manifest anti-join); only the
    docs files holding a pending range are read. A resume onto an index
    whose ``stats`` predates the current format raises ``ValueError``
    (:func:`load_stats`); a first build that crashed before writing
    ``stats`` has none yet, and its resume runs.
    """
    import os

    timing = os.environ.get("SPARK_GRAFT_TIMING") == "1"
    t0 = time.monotonic()
    timings: dict[str, float] = {}

    def tick(label):
        nonlocal t0
        now = time.monotonic()
        timings[label] = timings.get(label, 0.0) + (now - t0)
        if timing:
            print(f"[indexer] {label}: {now - t0:.2f}s", flush=True)
        t0 = now

    paths = IndexPaths(out_dir)
    if completed_ranges and tablefs.exists(
            *tablefs.resolve(spark, paths.stats)):
        load_stats(spark, out_dir)
    m = tablefs.read_small_table(spark, paths.docs_meta).iloc[0]
    N, avgdl = int(m["N"]), float(m["avgdl"])
    docs_per_range = max(1, -(-N // num_ranges))  # ceil
    tick("stats_read")

    # piggy-back the derived-tables partials on the SPIMI job itself
    # only when the whole index is being (re)built small enough for
    # the driver-side epilogue — on resume the partials would miss the
    # already-committed ranges.
    want_meta = N <= SMALL_DERIVED_DOCS_MAX and not completed_ranges
    meta_partials = _spimi_python_io(spark, paths, n_buckets,
                                     completed_ranges,
                                     collect_meta=want_meta)
    tick("spimi_write")

    refresh_derived_tables(spark, paths, N=N, avgdl=avgdl,
                           docs_per_range=docs_per_range,
                           num_ranges=num_ranges, n_buckets=n_buckets,
                           meta_partials=meta_partials, _tick=tick)
    # stage wall-clock breakdown (spimi_write = the parallel kernel+write;
    # the rest is the small derived-tables epilogue) — bench.py reads this
    # to report kernel-level scaling next to whole-job scaling
    paths.timings = dict(timings)
    return paths


def refresh_derived_tables(spark: SparkSession, paths: IndexPaths, *,
                           N: int, avgdl: float, docs_per_range: int,
                           num_ranges: int, n_buckets: int,
                           refresh_doc_stats: bool = False,
                           meta_partials: pd.DataFrame | None = None,
                           _tick=None) -> None:
    """dictionary / stats / manifest from the postings table (shared by
    build, maintenance, and streaming rollback).

    Reads ONLY the metadata columns of postings (term, range_id, n, cf,
    n_bytes, wall_ms — the binary payloads are never touched: parquet
    column pruning) and caches that one small scan for both aggregates.
    ``refresh_doc_stats=True`` additionally rewrites doc_stats from docs
    (needed after deletes/rollbacks; the plain build produces it in
    :func:`prepare_docs`)."""
    def tick(label):
        if _tick is not None:
            _tick(label)

    from concurrent.futures import ThreadPoolExecutor

    # ONE pass over the postings metadata computes BOTH derived tables:
    # GROUPING SETS ((term), (range_id)) — the dictionary rows are the
    # term set, the manifest rows the range set, split by grouping_id.
    # The grouped result is tiny (|vocab| + |ranges| rows), so it is
    # persisted and the two writes are cache reads. This epilogue is the
    # serial Amdahl term of whole-job scaling at toy corpus sizes — one
    # scan + one aggregation is the floor for it.
    use_small = N <= SMALL_DERIVED_DOCS_MAX
    fused = None
    if meta_partials is not None and use_small:
        # the SPIMI tasks already returned the two grouping-set partials
        # (piggy-backed on the build job): finish them with a pandas
        # groupby — NO epilogue Spark job at all. Manifest (gid=2) rows
        # arrive complete (a range never spans files); dictionary
        # (gid=1) partial sums fold across files here.
        mp = meta_partials[meta_partials["gid"] != 0]
        d = (mp[mp["gid"] == 1]
             .groupby("term", sort=False, as_index=False)
             .agg(sum_n=("sum_n", "sum"), sum_cf=("sum_cf", "sum")))
        d["gid"] = 1
        d["range_id"] = None
        d["n_terms"] = 0
        d["bytes"] = 0
        d["wall_ms"] = 0
        m = mp[mp["gid"] == 2].copy()
        probe = pd.concat([d, m], ignore_index=True)
    else:
        meta_cols = spark.read.parquet(paths.postings).select(
            "term", "range_id", "n", "cf", "n_bytes", "wall_ms")
        fused = (meta_cols
                 .groupingSets([["term"], ["range_id"]],
                               "term", "range_id")
                 .agg(F.sum("n").alias("sum_n"),
                      F.sum("cf").alias("sum_cf"),
                      F.countDistinct("term").alias("n_terms"),
                      F.sum("n_bytes").alias("bytes"),
                      F.max("wall_ms").alias("wall_ms"),
                      F.grouping_id().alias("gid")))
        if not use_small:
            # two write jobs read the aggregate → materialize it once
            fused = fused.persist()
        # small path: ONE parallel collect of the aggregate (scan+agg
        # tasks still run at full parallelism; only the tiny result
        # crosses to the driver) — no persist, no second job, no
        # CollectLimit funnel
        probe = fused.toPandas() if use_small else None

    # split the grouping-sets result by grouping_id, NOT column nullness:
    # gid = grouping(term)·2 + grouping(range_id), so the (term) set is
    # gid=1 and the (range_id) set gid=2 — a genuinely-NULL term or
    # range_id value would survive here, where an isNotNull filter would
    # silently drop it (indistinguishable from the placeholder NULL)
    def _dictionary_job():
        (fused.filter(F.col("gid") == 1)
         .select("term", F.col("sum_n").alias("df"),
                 F.col("sum_cf").alias("cf"))
         .write.mode("overwrite").parquet(paths.dictionary))

    def _manifest_job():
        (fused.filter(F.col("gid") == 2)
         .select("range_id", F.col("sum_n").alias("n_postings"),
                 "n_terms", "bytes", "wall_ms")
         .withColumn("status", F.lit("committed"))
         .withColumn("analyzer_version", F.lit(ANALYZER_VERSION))
         .withColumn("committed_at", F.current_timestamp())
         .write.mode("overwrite").parquet(paths.manifest))

    def _small_derived_job():
        # small-corpus fast path: the fused frame fits on the driver, so
        # ONE collect replaces the two parquet-write Spark jobs — this
        # epilogue is the serial Amdahl term of whole-job scaling at
        # small corpus sizes, and every Spark job scheduling round-trip
        # in it shows up directly in the measured scaling efficiency.
        # The row-count guard keeps web-scale vocabularies (billions of
        # dictionary rows) on the distributed writers.
        pdf = probe
        d = pdf[pdf["gid"] == 1]
        dict_pdf = pd.DataFrame({
            "term": d["term"].astype(object),
            "df": d["sum_n"].astype("int64"),
            "cf": d["sum_cf"].astype("int64"),
        })
        tablefs.write_small_table(spark, dict_pdf, paths.dictionary)
        m = pdf[pdf["gid"] == 2]
        man_pdf = pd.DataFrame({
            "range_id": m["range_id"].astype("int32"),
            "n_postings": m["sum_n"].astype("int64"),
            "n_terms": m["n_terms"].astype("int64"),
            "bytes": m["bytes"].astype("int64"),
            "wall_ms": m["wall_ms"].astype("int64"),
            "status": "committed",
            "analyzer_version": ANALYZER_VERSION,
            "committed_at": pd.Timestamp.now().floor("us"),
        })
        man_pdf["committed_at"] = man_pdf["committed_at"].astype(
            "datetime64[us]")  # Spark's parquet reader rejects NANOS
        tablefs.write_small_table(spark, man_pdf, paths.manifest)

    def _stats_job():
        write_stats(spark, paths, IndexStats(
            N=N, avgdl=avgdl, avgdl_build=avgdl,
            docs_per_range=docs_per_range, num_ranges=num_ranges,
            n_buckets=n_buckets, k1=BM25_K1, b=BM25_B))

    if use_small:
        jobs = [_small_derived_job, _stats_job]
    else:
        jobs = [_dictionary_job, _manifest_job, _stats_job]
    if refresh_doc_stats:
        jobs.append(lambda: (spark.read.parquet(paths.docs)
                             .select("doc_id", "dl")
                             .write.mode("overwrite")
                             .parquet(paths.doc_stats)))
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = [ex.submit(j) for j in jobs]
        for f in futures:
            f.result()
    tick("derived_tables")
    if not use_small:
        fused.unpersist()


def build_index(spark: SparkSession, docs_df: DataFrame, out_dir: str,
                num_ranges: int = 16, n_buckets: int = DEFAULT_BUCKETS,
                id_partitions: int = 32,
                completed_ranges: set[int] | None = None) -> IndexPaths:
    """Full index build: docs(url, text, lang) → index tables at ``out_dir``
    (= :func:`prepare_docs` + :func:`build_postings`). On resume
    (``completed_ranges``) the existing docs table is reused."""
    if not completed_ranges:
        prepare_docs(spark, docs_df, out_dir, id_partitions=id_partitions)
    return build_postings(spark, out_dir, num_ranges=num_ranges,
                          n_buckets=n_buckets,
                          completed_ranges=completed_ranges)


def resume_info(spark: SparkSession, out_dir: str) -> set[int]:
    """Committed range_ids from the manifest (empty set if no manifest)."""
    try:
        man = tablefs.read_small_table(spark, IndexPaths(out_dir).manifest,
                                       columns=["range_id", "status"])
    except FileNotFoundError:
        return set()
    return {int(r) for r in man.loc[man["status"] == "committed",
                                    "range_id"]}
