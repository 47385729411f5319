"""Index maintenance (SURVEY.md J8, §2.9): delete-by-metadata + resume.

The reference's incremental story is delete-then-reinsert keyed by source
metadata (uploader.py:152-167, 218-229 → opensearch_loader.py:410-451):
idempotent re-ingestion of one source. Here:

- :func:`delete_from_index` — copy-on-write snapshot: postings of
  *affected doc ranges only* are rebuilt from the surviving docs (doc_ids
  preserved), unaffected ranges' parquet rows are carried over unchanged;
  stats are recomputed (N, avgdl shift). Block-max pruning stays SOUND
  across the shift because blocks store raw (max_tf, min_dl) and the
  query engine recomputes upper bounds at the CURRENT avgdl — the bound
  is valid at any avgdl, no rebuild needed.
- :func:`reingest` — the full delete-then-reinsert idempotency path: drop
  matching docs from the source, rebuild from scratch; byte-identical
  output for identical input (tested).
"""

from __future__ import annotations

from dataclasses import replace

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ANALYZER_VERSION, tablefs
from .indexer import (
    POSTINGS_SCHEMA,
    IndexPaths,
    IndexStats,
    _spimi_batches,
    build_index,
    load_stats,
    term_bucket_col,
    write_stats,
)


def _snapshot_space(spark: SparkSession, src: IndexPaths, dst: IndexPaths,
                    survivors, affected: set[int], stats: IndexStats,
                    num_ranges: int | None = None,
                    docs_per_range: int | None = None) -> None:
    """Copy-on-write snapshot of ONE posting space (the root index or a
    per-field space): write the surviving docs, rebuild postings of the
    affected ranges only (unaffected ranges' parquet rows carry over
    unchanged), and recompute the space's derived tables (dictionary,
    doc_stats, docs_meta, stats, manifest). ``survivors`` must carry
    (doc_id, text, range_id, dl); ``stats`` is the source space's."""
    docs_per_range = docs_per_range or stats.docs_per_range
    num_ranges = num_ranges or stats.num_ranges
    n_buckets = stats.n_buckets

    # keep range_id in the snapshot: the ranges remain the SPIMI unit
    survivors.write.mode("overwrite").parquet(dst.docs)

    old_postings = spark.read.parquet(src.postings)
    untouched = old_postings.filter(~F.col("range_id").isin(*affected)) \
        if affected else old_postings
    if affected:
        rebuild_in = (spark.read.parquet(dst.docs)
                      .filter(F.col("range_id").isin(*affected))
                      .select("doc_id", "text", "range_id")
                      .repartitionByRange(max(len(affected), 1), "range_id"))
        rebuilt = rebuild_in.mapInPandas(
            _spimi_batches(), schema=POSTINGS_SCHEMA)
        rebuilt = rebuilt.withColumn(
            "bucket", term_bucket_col(F.col("term"), n_buckets))
        new_postings = untouched.unionByName(rebuilt)
    else:
        new_postings = untouched
    (new_postings.sortWithinPartitions("bucket", "term")
     .write.mode("overwrite").parquet(dst.postings))

    built = spark.read.parquet(dst.postings).select(
        "term", "range_id", "n", "cf", "n_bytes", "wall_ms").persist()
    (built.groupBy("term")
     .agg(F.sum("n").alias("df"), F.sum("cf").alias("cf"))
     .write.mode("overwrite").parquet(dst.dictionary))
    surv_tbl = spark.read.parquet(dst.docs)
    (surv_tbl.select("doc_id", "dl")
     .write.mode("overwrite").parquet(dst.doc_stats))
    g = surv_tbl.agg(F.count("*").alias("N"), F.sum("dl").alias("s")).collect()[0]
    N_s = int(g["N"])
    sum_dl = int(g["s"] or 0)
    avgdl = (sum_dl / N_s) if N_s else 0.0
    meta = pd.DataFrame([{"N": N_s, "sum_dl": sum_dl, "avgdl": avgdl}])
    tablefs.write_small_table(spark, meta, dst.docs_meta)
    write_stats(spark, dst, replace(stats, N=N_s, avgdl=avgdl,
                                    docs_per_range=docs_per_range,
                                    num_ranges=num_ranges))
    (built.groupBy("range_id")
     .agg(F.sum("n").alias("n_postings"),
          F.countDistinct("term").alias("n_terms"),
          F.sum("n_bytes").alias("bytes"),
          F.max("wall_ms").alias("wall_ms"))
     .withColumn("status", F.lit("committed"))
     .withColumn("analyzer_version", F.lit(ANALYZER_VERSION))
     .withColumn("committed_at", F.current_timestamp())
     .write.mode("overwrite").parquet(dst.manifest))
    built.unpersist()


def delete_from_index(spark: SparkSession, index_dir: str, out_dir: str,
                      urls: list[str]) -> IndexPaths:
    """Snapshot ``index_dir`` minus documents with the given urls into
    ``out_dir``, rebuilding only the affected doc ranges.

    Field posting spaces under ``<root>/fields/*`` are carried through
    the snapshot the same way (affected ranges rebuilt from the field's
    surviving docs, untouched ranges copied) — matching the reference's
    all-fields-consistent delete (opensearch_loader.py:410-451): a
    snapshot on which ``search_field`` silently served stale docs would
    be corrupt, not merely incomplete."""
    from .fields import field_root, list_field_roots

    src = IndexPaths(index_dir)
    dst = IndexPaths(out_dir)
    stats = load_stats(spark, index_dir)
    docs = spark.read.parquet(src.docs)
    from .query import IN_LIST_MAX

    if len(urls) <= IN_LIST_MAX:
        doom_pred = F.col("url").isin(urls)
        doomed = docs.filter(doom_pred)
        survivors = docs.filter(~doom_pred)
    else:
        # thousands of urls: literal IN-lists bloat the plan — broadcast
        # semi/anti joins instead
        udf_ = spark.createDataFrame([(u,) for u in urls], "url string")
        doomed = docs.join(F.broadcast(udf_), "url", "left_semi")
        survivors = docs.join(F.broadcast(udf_), "url", "left_anti")
    affected = {int(r["range_id"]) for r in
                doomed.select("range_id").distinct().collect()}
    _snapshot_space(spark, src, dst, survivors, affected, stats)

    # field spaces: same doc_ids, same ranges → same affected set. The
    # deleted doc_id set is the doomed subset (small — one source's docs
    # in the reference's delete-then-reinsert flow), broadcast against
    # each field's own docs table.
    fnames = list_field_roots(spark, index_dir)
    if fnames:
        doomed_ids = doomed.select("doc_id")
        for fname in fnames:
            fsrc = IndexPaths(field_root(index_dir, fname))
            fdst = IndexPaths(field_root(out_dir, fname))
            f_surv = (spark.read.parquet(fsrc.docs)
                      .join(F.broadcast(doomed_ids), "doc_id", "left_anti"))
            _snapshot_space(spark, fsrc, fdst, f_surv, affected,
                            load_stats(spark, fsrc.root))
    return dst


def force_merge(spark: SparkSession, index_dir: str, out_dir: str,
                docs_per_range: int | None = None) -> IndexPaths:
    """Lucene force-merge analogue for the :func:`~.streaming.append_batch`
    path: every micro-batch appends fresh trailing ranges (tiny segments),
    and a long append history degrades query fan-out exactly like Lucene
    segment proliferation. Compaction re-assigns ranges densely
    (``range_id = doc_id // docs_per_range``) while PRESERVING doc_ids —
    external references stay valid, unlike :func:`reingest`, which
    renumbers from the source of truth.

    Copy-on-write like :func:`delete_from_index`: only ranges whose doc
    membership CHANGED are re-SPIMI'd; a range whose membership is
    identical under the new assignment carries its postings parquet rows
    over untouched (the common case for the original build's full
    ranges). Field posting spaces compact the same way — same doc_ids,
    same new range map, same affected set.

    The changed-range detection is three O(num_ranges) aggregates
    collected to the driver — at 10^12 docs / 10^6 ranges that is
    megabytes, not a data-scale collect.
    """
    src = IndexPaths(index_dir)
    dst = IndexPaths(out_dir)
    stats = load_stats(spark, index_dir)
    dpr = docs_per_range or stats.docs_per_range
    docs = spark.read.parquet(src.docs)
    remapped = docs.withColumn(
        "new_range", (F.col("doc_id") / F.lit(dpr)).cast("int"))
    # a range value r carries over iff its membership is unchanged:
    # |old r| == |new r| == |docs where old == new == r|
    pairs = remapped.select("range_id", "new_range").persist()
    old_c = {int(r["range_id"]): int(r["c"]) for r in
             pairs.groupBy("range_id").agg(F.count("*").alias("c"))
             .collect()}
    new_c = {int(r["new_range"]): int(r["c"]) for r in
             pairs.groupBy("new_range").agg(F.count("*").alias("c"))
             .collect()}
    same_c = {int(r["range_id"]): int(r["c"]) for r in
              pairs.filter(F.col("range_id") == F.col("new_range"))
              .groupBy("range_id").agg(F.count("*").alias("c"))
              .collect()}
    pairs.unpersist()
    affected = {r for r in set(old_c) | set(new_c)
                if not (old_c.get(r, 0) == new_c.get(r, 0)
                        == same_c.get(r, 0))}
    n_ranges = max(new_c) + 1 if new_c else 0

    survivors = (remapped.drop("range_id")
                 .withColumnRenamed("new_range", "range_id"))
    _snapshot_space(spark, src, dst, survivors, affected, stats,
                    num_ranges=n_ranges, docs_per_range=dpr)

    from .fields import field_root, list_field_roots

    for fname in list_field_roots(spark, index_dir):
        fsrc = IndexPaths(field_root(index_dir, fname))
        fdst = IndexPaths(field_root(out_dir, fname))
        f_docs = spark.read.parquet(fsrc.docs)
        f_surv = f_docs.withColumn(
            "range_id", (F.col("doc_id") / F.lit(dpr)).cast("int"))
        _snapshot_space(spark, fsrc, fdst, f_surv, affected,
                        load_stats(spark, fsrc.root),
                        num_ranges=n_ranges, docs_per_range=dpr)
    return dst


def reingest(spark: SparkSession, source_docs: DataFrame, out_dir: str,
             **build_kwargs) -> IndexPaths:
    """Delete-then-reinsert idempotency (uploader.py:218-229 semantics):
    a full rebuild from the current source of truth."""
    return build_index(spark, source_docs, out_dir, **build_kwargs)


def reindex(spark: SparkSession, index_dir: str, out_dir: str,
            where: str | None = None,
            transform: dict[str, str] | None = None,
            **build_kwargs) -> IndexPaths:
    """The ``_reindex`` API: rebuild a NEW index from the stored docs of
    an existing one, optionally filtered (``where`` — the reindex body's
    query clause) and column-transformed (``transform``: column → SQL
    expression, the painless ``script`` analogue, Catalyst-compiled).

    Doc_ids are REASSIGNED by the destination build (url order), exactly
    as reindexing into a fresh OpenSearch index re-ingests documents;
    pair with :func:`update_aliases` for the blue/green alias swap that
    makes the rebuilt index live atomically. The source is read from its
    column-pruned docs table — engine-assigned columns (doc_id,
    range_id, dl) are dropped so the destination recomputes them; one
    distributed read → :func:`~pdf_to_opensearch_spark.indexer.build_index`,
    nothing collects."""
    paths = IndexPaths(index_dir)
    docs = (spark.read.parquet(paths.docs)
            .drop("doc_id", "range_id", "dl"))
    if where:
        docs = docs.filter(where)
    if transform:
        for col, expr in transform.items():
            docs = docs.withColumn(col, F.expr(expr))
    return build_index(spark, docs, out_dir, **build_kwargs)


# ------------------------------------------------------------- aliases
#
# OpenSearch index aliases: a name → index indirection resolved at
# request time, updated atomically (the `_aliases` actions API). The
# registry is one JSON file swapped with os.replace (atomic on POSIX) —
# readers see the old or the new mapping, never a partial write. This is
# driver-side metadata (bytes, not data): at cluster scale it lives on
# the shared FS next to the indexes it names.


def read_aliases(registry_path: str) -> dict[str, str]:
    """Current alias → index-root mapping ({} if no registry yet)."""
    import json
    import os

    if not os.path.exists(registry_path):
        return {}
    with open(registry_path, encoding="utf-8") as fh:
        return json.load(fh)


def update_aliases(registry_path: str,
                   actions: list[dict[str, dict[str, str]]]) -> dict[str, str]:
    """Apply an ``_aliases``-style action list ATOMICALLY — the
    OpenSearch contract is all-or-nothing, so a [remove old, add new]
    pair is the zero-downtime blue/green swap:

        update_aliases(reg, [
            {"remove": {"alias": "live", "index": old_root}},
            {"add": {"alias": "live", "index": new_root}},
        ])

    ``remove`` with a non-matching index raises (alias points elsewhere
    — the remove would not have matched, same as OpenSearch's 404).
    Returns the new mapping."""
    import json
    import os
    import tempfile

    aliases = read_aliases(registry_path)
    for action in actions:
        (verb, body), = action.items()
        alias, index = body["alias"], body.get("index")
        if verb == "add":
            aliases[alias] = index
        elif verb == "remove":
            if alias not in aliases:
                raise KeyError(f"alias not found: {alias!r}")
            if index is not None and aliases[alias] != index:
                raise ValueError(
                    f"alias {alias!r} points at {aliases[alias]!r}, "
                    f"not {index!r}")
            del aliases[alias]
        else:
            raise ValueError(f"unknown alias action: {verb!r}")
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(registry_path) or ".",
                               suffix=".aliases")
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        json.dump(aliases, fh, indent=1, sort_keys=True)
    os.replace(tmp, registry_path)
    return aliases


def resolve_alias(registry_path: str, name: str) -> str:
    """Index root for ``name``: an alias if registered, else the name
    itself (OpenSearch resolves concrete index names the same way)."""
    return read_aliases(registry_path).get(name, name)


def rollover(spark: SparkSession, registry_path: str, alias: str,
             max_docs: int) -> dict:
    """The ``_rollover`` API: when the index behind ``alias`` has grown
    past ``max_docs``, advance the alias to the NEXT GENERATION root
    (``<base>-000001`` → ``<base>-000002``; a bare root starts the
    series at -000002) and report both names — the write-alias rotation
    that keeps any one index's doc count bounded (OpenSearch ILM's
    size/age-based rollover, age conditions being the caller's cron).
    The new generation is NOT built here — exactly like OpenSearch,
    rollover creates/points at a fresh empty target and the ingest
    pipeline (build_index / streaming append) fills it; the alias swap
    itself is the atomic action list of :func:`update_aliases`.

    The doc count is the stats table's N — a one-row point read, no
    scan. Returns {"rolled": bool, "old_index", "new_index",
    "doc_count"}."""
    import re

    old = resolve_alias(registry_path, alias)
    n = int(load_stats(spark, old).N)
    if n < int(max_docs):
        return {"rolled": False, "old_index": old, "new_index": old,
                "doc_count": n}
    m = re.match(r"^(.*)-(\d{6})$", old)
    if m:
        new = f"{m.group(1)}-{int(m.group(2)) + 1:06d}"
    else:
        new = f"{old}-000002"
    actions: list[dict[str, dict[str, str]]] = []
    if alias in read_aliases(registry_path):
        actions.append({"remove": {"alias": alias, "index": old}})
    actions.append({"add": {"alias": alias, "index": new}})
    update_aliases(registry_path, actions)
    return {"rolled": True, "old_index": old, "new_index": new,
            "doc_count": n}
