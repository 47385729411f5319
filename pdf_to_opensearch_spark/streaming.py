"""Structured-Streaming incremental ingestion (beyond-reference extension).

The reference's incremental story is batch delete-then-reinsert
(uploader.py:218-229). At web scale new pages arrive continuously, so this
module adds a streaming path: ``readStream`` over a pages source →
``foreachBatch`` → :func:`append_batch`, which extends the existing index
*without touching committed ranges*:

- new doc_ids continue after the current max (append-only dense ids;
  batch-local sort keeps them deterministic per micro-batch)
- new documents form NEW doc ranges (range_id continues past the current
  max), so committed postings files are immutable — the same property that
  makes the batch build resumable makes the stream exactly-once-append
  (an idempotent retry of a failed batch overwrites only its own ranges)
- dictionary / stats / manifest are maintained INCREMENTALLY: only the
  new ranges' postings are aggregated (parquet row-group ``range_id``
  stats skip committed data), merged into the dictionary with a
  union-aggregate swap-rewrite (the Iceberg-MERGE analogue on a local FS),
  and appended to doc_stats/manifest; N/avgdl update from the batch's own
  (count, Σdl). Nothing reprocesses the existing index — O(batch), not
  O(index), per micro-batch.
- ``avgdl`` drifts as documents arrive; block-max pruning stays SOUND
  regardless because block metadata stores raw (max_tf, min_dl) and upper
  bounds are recomputed with the current avgdl at query time — no
  avgdl-build comparison is needed (the bound is valid at any avgdl).

Event-time watermarking is not needed for index append (arrival order is
irrelevant to BM25); the ``events`` streaming patterns live here as
operators: :func:`windowed_event_counts` (watermarked tumbling-window
aggregation) and :func:`running_user_totals` (custom stateful operator
via ``applyInPandasWithState``).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ANALYZER_VERSION, tablefs
from .analyzer import token_count_udf
from .indexer import (
    IndexPaths,
    IndexStats,
    _spimi_python_io,
    assign_doc_ids,
    load_stats,
    refresh_derived_tables,
    write_stats,
)


def _refresh_derived_full(spark: SparkSession, paths: IndexPaths,
                          st: IndexStats) -> None:
    """Full recompute after a rollback rewrite (rare crash-recovery path):
    docs changed, so N/avgdl/doc_stats/docs_meta are re-derived from the
    surviving docs, everything else from the surviving postings."""
    import pandas as pd

    g = (spark.read.parquet(paths.docs)
         .agg(F.count("*").alias("N"), F.sum("dl").alias("s")).collect()[0])
    N = int(g["N"])
    sum_dl = int(g["s"] or 0)
    avgdl = (sum_dl / N) if N else 0.0
    meta = pd.DataFrame([{"N": N, "sum_dl": sum_dl, "avgdl": avgdl}])
    tablefs.write_small_table(spark, meta, paths.docs_meta)
    refresh_derived_tables(spark, paths, N=N, avgdl=avgdl,
                           docs_per_range=st.docs_per_range,
                           num_ranges=st.num_ranges, n_buckets=st.n_buckets,
                           refresh_doc_stats=True)


def _batch_log_path(paths: IndexPaths) -> str:
    return f"{paths.root}/stream_batches"


def _read_batch_log(spark: SparkSession, paths: IndexPaths):
    """→ (committed batch_ids, pending [(batch_id, base)])."""
    try:
        rows = spark.read.parquet(_batch_log_path(paths)).collect()
    except Exception:
        return set(), []
    by_batch: dict[int, dict] = {}
    for r in rows:
        e = by_batch.setdefault(int(r["batch_id"]),
                                {"base": int(r["base"]),
                                 "base_range": int(r["base_range"]),
                                 "committed": False})
        if r["status"] == "committed":
            e["committed"] = True
    committed = {b for b, e in by_batch.items() if e["committed"]}
    pending = [(b, e["base"], e["base_range"]) for b, e in by_batch.items()
               if not e["committed"]]
    return committed, pending


def _log_batch(spark: SparkSession, paths: IndexPaths, batch_id: int,
               base: int, base_range: int, status: str) -> None:
    spark.createDataFrame(
        [(int(batch_id), int(base), int(base_range), status)],
        "batch_id long, base long, base_range long, status string") \
        .write.mode("append").parquet(_batch_log_path(paths))


def _swap_rewrite(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Rewrite a parquet dir from a filtered read: Spark writes a staging
    dir, committed through the resolved filesystem
    (:func:`tablefs.replace_dir`). On a production object store this is
    an Iceberg snapshot commit with the same semantics.
    """
    df.write.mode("overwrite").parquet(path + ".staging")
    fs, p = tablefs.resolve(spark, path)
    tablefs.replace_dir(fs, p + ".staging", p)


def rollback_incomplete(spark: SparkSession, index_dir: str) -> list[int]:
    """Drop artifacts of begin-without-commit batches (crash recovery).

    A failed batch's docs all have ``doc_id >= base`` and its postings all
    have ``range_id >= base_range`` (both recorded in the begin log entry;
    appended ranges are strictly above every committed one), so rollback
    is a pair of filtered rewrites. Returns rolled-back ids.
    """
    paths = IndexPaths(index_dir)
    _committed, pending = _read_batch_log(spark, paths)
    if not pending:
        return []
    st = load_stats(spark, index_dir)
    min_base = min(b for _i, b, _r in pending)
    min_range = min(r for _i, _b, r in pending)
    _swap_rewrite(spark, paths.docs,
                  spark.read.parquet(paths.docs)
                  .filter(F.col("doc_id") < min_base))
    _swap_rewrite(spark, paths.postings,
                  spark.read.parquet(paths.postings)
                  .filter(F.col("range_id") < min_range))
    # mark as committed-with-rollback so they are not retried against
    for bid, base, brange in pending:
        _log_batch(spark, paths, bid, base, brange, "rolled_back")
        _log_batch(spark, paths, bid, base, brange, "committed")
    _refresh_derived_full(spark, paths, st)
    return [bid for bid, _b, _r in pending]


def append_batch(spark: SparkSession, new_docs: DataFrame, index_dir: str,
                 batch_id: int | None = None) -> int:
    """Append a micro-batch of docs(url, text, lang) to an existing index.

    Exactly-once: the commit log records ``begin`` before any write and
    ``committed`` after all writes; a replayed ``batch_id`` that already
    committed is skipped, and a crashed batch is rolled back (its doc_ids
    AND range_ids are strictly above every committed one — appended docs
    get fresh ranges, so committed postings files are never touched).
    The new ranges' postings come from the one SPIMI writer
    (:func:`indexer._spimi_python_io`), which reads only the new docs
    files.
    """
    paths = IndexPaths(index_dir)
    if batch_id is not None:
        committed, pending = _read_batch_log(spark, paths)
        if batch_id in committed:
            return 0
        if pending:
            rollback_incomplete(spark, index_dir)
    st = load_stats(spark, index_dir)
    cur = (spark.read.parquet(paths.docs)
           .agg(F.max("doc_id").alias("m"), F.max("range_id").alias("r"))
           .collect()[0])
    base = int(cur["m"]) + 1 if cur["m"] is not None else 0
    base_range = int(cur["r"]) + 1 if cur["r"] is not None else 0

    n_parts = max(new_docs.rdd.getNumPartitions(), 1)
    ided = assign_doc_ids(new_docs.select("url", "text", "lang"),
                          partitions=n_parts, with_range_id=True)
    try:
        with_ids = (ided
                    .withColumn("doc_id", F.col("doc_id") + F.lit(base))
                    .withColumn("range_id",
                                (F.col("range_id") + F.lit(base_range))
                                .cast("int"))
                    .withColumn("dl", token_count_udf(F.col("text"))))
        n_new = with_ids.count()
        if n_new == 0:
            return 0
        if batch_id is not None:
            _log_batch(spark, paths, batch_id, base, base_range, "begin")
        # pack the batch's ranges into about docs_per_range-sized docs
        # files: the SPIMI writer emits one postings file per docs file,
        # and one tiny file per batch partition would multiply the query
        # fan-out. Range partitioning keeps each range whole and each
        # file's ranges contiguous, so the files stay range-aligned.
        n_files = min(n_parts, -(-n_new // st.docs_per_range))
        (with_ids.repartitionByRange(n_files, "range_id")
         .write.mode("append").parquet(paths.docs))
    finally:
        ided._persisted_input.unpersist()
    # batch-local Σdl for the incremental N/avgdl update (O(batch) agg
    # over the just-written rows, pruned by the doc_id >= base predicate)
    dl_row = (spark.read.parquet(paths.docs)
              .filter(F.col("doc_id") >= base)
              .agg(F.sum("dl").alias("s")).collect()[0])
    batch_dl_sum = int(dl_row["s"] or 0)

    # every range below base_range is committed: the writer reads only
    # the docs files this batch just wrote
    _spimi_python_io(spark, paths, st.n_buckets, set(range(base_range)))

    _incremental_refresh(spark, paths, st, base, base_range, n_new,
                         batch_dl_sum)
    if batch_id is not None:
        _log_batch(spark, paths, batch_id, base, base_range, "committed")
    return n_new


def _incremental_refresh(spark: SparkSession, paths: IndexPaths,
                         st: IndexStats,
                         base: int, base_range: int, n_new: int,
                         batch_dl_sum: int) -> None:
    """O(batch) derived-table maintenance after an append.

    Only the NEW ranges' postings are aggregated (``range_id >=
    base_range`` — committed files are skipped via parquet row-group
    min/max stats since appended ranges are strictly above committed
    ones); the dictionary is merged with a union-aggregate swap-rewrite
    (the local-FS analogue of an Iceberg MERGE commit), doc_stats and the
    manifest are APPENDED, and N/avgdl roll forward from the batch's own
    (count, Σdl). Nothing rescans the committed index."""
    import pandas as pd

    new_posts = (spark.read.parquet(paths.postings)
                 .filter(F.col("range_id") >= base_range))
    new_dict = (new_posts.groupBy("term")
                .agg(F.sum("n").alias("df"), F.sum("cf").alias("cf")))
    merged = (spark.read.parquet(paths.dictionary)
              .unionByName(new_dict)
              .groupBy("term")
              .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")))
    _swap_rewrite(spark, paths.dictionary, merged)
    # filter on the batch's OWN first doc_id: with prepare-assigned ranges
    # base_range is a partition ordinal unrelated to doc_id arithmetic, so
    # base_range * docs_per_range would silently drop or duplicate rows
    (spark.read.parquet(paths.docs)
     .filter(F.col("doc_id") >= base)
     .select("doc_id", "dl")
     .write.mode("append").parquet(paths.doc_stats))
    N_new = st.N + n_new
    avgdl_new = (st.N * st.avgdl + batch_dl_sum) / N_new if N_new else 0.0
    meta = pd.DataFrame([{"N": N_new,
                          "sum_dl": int(round(N_new * avgdl_new)),
                          "avgdl": avgdl_new}])
    tablefs.write_small_table(spark, meta, paths.docs_meta)
    write_stats(spark, paths, replace(st, N=N_new, avgdl=avgdl_new))
    (new_posts.groupBy("range_id")
     .agg(F.sum("n").alias("n_postings"),
          F.countDistinct("term").alias("n_terms"),
          F.sum("n_bytes").alias("bytes"),
          F.max("wall_ms").alias("wall_ms"))
     .withColumn("status", F.lit("committed"))
     .withColumn("analyzer_version", F.lit(ANALYZER_VERSION))
     .withColumn("committed_at", F.current_timestamp())
     .write.mode("append").parquet(paths.manifest))


def start_ingest_stream(spark: SparkSession, source_dir: str, schema,
                        index_dir: str, checkpoint_dir: str,
                        trigger_seconds: int = 5):
    """File-source streaming ingest: new parquet files of pages appended to
    ``source_dir`` flow into the index via foreachBatch."""
    from .extract import extract_docs

    stream = (spark.readStream.schema(schema).parquet(source_dir))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df
        if "html" in docs.columns and "text" not in docs.columns:
            docs = extract_docs(docs)
        # batch_id MUST flow through: Structured Streaming replays the last
        # uncommitted micro-batch after a restart, and the begin/commit log
        # keyed by batch_id is what makes that replay idempotent
        append_batch(spark, docs.select("url", "text", "lang"), index_dir,
                     batch_id=batch_id)

    return (stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .foreachBatch(handle)
            .start())


def windowed_event_counts(events: DataFrame, window: str = "5 minutes",
                          watermark: str = "10 minutes",
                          ts_col: str = "ts",
                          key_col: str = "event_type") -> DataFrame:
    """Watermarked tumbling-window counts over an event stream (the
    SURVEY §2.9 streaming-aggregation pattern): late rows beyond
    ``watermark`` are dropped, state for closed windows is evicted.
    Works identically on a batch DataFrame (watermark is a no-op there),
    which is what the DuckDB-comparable test exploits."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"),
                     F.col(key_col))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"),
                    key_col, "n"))


def running_user_totals(events) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the X-surface the reference has no analogue for — per-key state that
    survives micro-batches): running per-user event totals and the number
    of micro-batches that touched the key.

    ``events`` is a STREAMING DataFrame with (user_id long, ...); output
    mode must be ``update``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        total, batches = state.get if state.exists else (0, 0)
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        total += int(n)
        batches += 1
        state.update((total, batches))
        yield pd.DataFrame({"user_id": [key[0]], "total": [total],
                            "batches": [batches]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, total long, batches long",
                stateStructType="total long, batches long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
