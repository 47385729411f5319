"""Per-field BM25 posting spaces — the multi-field ``match`` surface.

The reference's indexed unit declares THREE analyzed text fields —
``chunk_text_current`` / ``chunk_text_previous`` / ``chunk_text_next``
(reference: opensearch_loader.py:210-237) — each independently scorable
by a ``match`` query with its own statistics. Lucene's model for this is
a separate terms dictionary, posting lists and length norms PER FIELD;
this module reproduces exactly that shape: every extra analyzed field
gets its own posting space under ``<root>/fields/<name>/`` built from
the SAME docs table (same doc_ids, same prepare-assigned ranges), so

- the build stays ZERO-shuffle (the field projection is written one file
  per range under the no-split read conf, preserving range alignment);
- per-field (df, avgdl, per-doc dl) fall out by construction — each
  posting space carries its own dictionary and stats tables;
- the query path is the UNCHANGED block-max BM25 engine pointed at the
  field's posting space; the root index itself is the "current" field.

Scale note (100 TB): per-field spaces multiply index size by the number
of analyzed fields, exactly as Lucene does; each field's build is an
independent zero-shuffle job over the shared docs table, so fields can
be built serially (bounded peak resources) or concurrently.

Maintenance interplay: ``maintenance.delete_from_index`` writes a NEW
index root (snapshot isolation) and carries every ``fields/*`` space
through it — affected ranges are rebuilt from the field's surviving
docs, untouched ranges are copied — matching the reference's
all-fields-consistent delete (opensearch_loader.py:410-451).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tablefs
from .indexer import IndexPaths, build_postings, load_stats


def field_root(index_dir: str, field: str) -> str:
    return f"{IndexPaths(index_dir).fields}/{field}"


def list_field_roots(spark: SparkSession, index_dir: str) -> list[str]:
    """Names of the field posting spaces present under ``<root>/fields/``
    (empty when the index has no extra analyzed fields). Used by
    maintenance to carry field spaces through snapshots."""
    from pyarrow import fs as pafs

    fs, p = tablefs.resolve(spark, IndexPaths(index_dir).fields)
    infos = fs.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    return sorted(i.base_name for i in infos
                  if i.type == pafs.FileType.Directory)


def _project_field_files(field: str, fs):
    """mapInPandas kernel over a file-list frame: each task reads its
    docs parquet file(s) of ``fs`` directly (pyarrow) and emits the
    projected field docs — one output file per source file, so the
    docs-file ↔ doc-range alignment that makes the posting build
    shuffle-free is preserved by construction, with NO session-conf
    involvement."""
    import pandas as pd

    def project(it):
        import pyarrow.parquet as pq

        from .analyzer import tokenize_arrow_batch

        for pdf in it:
            for path in pdf["path"]:
                sub = pq.read_table(
                    path, filesystem=fs,
                    columns=["doc_id", field, "range_id"]).to_pandas()
                # NULL field values analyze as empty documents (dl 0),
                # matching an absent optional field
                text = sub[field].fillna("").astype(str)
                dl = tokenize_arrow_batch(text)["dl"].astype("int32")
                yield pd.DataFrame({
                    "doc_id": sub["doc_id"].astype("int64"),
                    "text": text,
                    "range_id": sub["range_id"].astype("int32"),
                    "dl": dl,
                })

    return project


def build_field_index(spark: SparkSession, index_dir: str, field: str,
                      num_ranges: int | None = None,
                      n_buckets: int | None = None) -> str:
    """Build the posting space for one analyzed field of the indexed unit.

    ``field`` is a string column of the root docs table (it rode through
    :func:`indexer.assign_doc_ids`, which preserves all input columns —
    same mechanism the embedding column uses). NULL field values analyze
    as empty documents (dl 0), matching an absent optional field.
    Returns the field root path.
    """
    import pandas as pd

    import pyarrow.parquet as pq

    paths = IndexPaths(index_dir)
    froot = field_root(index_dir, field)
    fpaths = IndexPaths(froot)
    st = load_stats(spark, index_dir)
    if num_ranges is None:
        num_ranges = st.num_ranges
    if n_buckets is None:
        n_buckets = st.n_buckets

    # zero-shuffle field projection via an EXPLICIT per-file read (the
    # round-5 fix for the session-global no-split conf toggle, which
    # raced with concurrent reads in the same session): one task per
    # docs file reads it directly and writes the projected field docs in
    # the same layout — range alignment is preserved by construction, so
    # build_postings over the field space needs no repartition either
    fs, docs_dir = tablefs.resolve(spark, paths.docs)
    files = [f.path for f in tablefs.list_files(fs, docs_dir)]
    have = pq.read_schema(files[0], filesystem=fs).names if files else []
    if field not in have:
        raise ValueError(
            f"field {field!r} is not a column of the docs table "
            f"(have: {have})")
    file_rows = spark.sparkContext.parallelize(
        [(p,) for p in files], max(len(files), 1))
    fl = spark.createDataFrame(file_rows, "path string")
    sub = fl.mapInPandas(
        _project_field_files(field, fs),
        schema="doc_id long, text string, range_id int, dl int")
    sub.write.mode("overwrite").parquet(fpaths.docs)

    # per-field corpus statistics: same N, field-specific avgdl (Lucene
    # norms are per field — a short 'previous' context must not be scored
    # with the current field's average length)
    g = (spark.read.parquet(fpaths.docs)
         .agg(F.count("*").alias("N"), F.sum("dl").alias("sum_dl"))
         .collect()[0])
    n_docs, sum_dl = int(g["N"]), int(g["sum_dl"] or 0)
    meta = pd.DataFrame([{"N": n_docs, "sum_dl": sum_dl,
                          "avgdl": (sum_dl / n_docs) if n_docs else 0.0}])
    tablefs.write_small_table(spark, meta, fpaths.docs_meta)

    build_postings(spark, froot, num_ranges=num_ranges, n_buckets=n_buckets)
    return froot


def search_field(spark: SparkSession, index_dir: str, field: str,
                 queries: list[tuple[int, str]], k: int = 10,
                 prune: bool = True, mode: str = "match",
                 doc_filter: str | None = None, slop: int = 0,
                 minimum_should_match: int | str | None = None) -> DataFrame:
    """``match`` / ``match_phrase`` on one analyzed field: the unchanged
    BM25 / phrase engine pointed at the field's posting space — the
    reference's schema-typed per-field query surface
    (opensearch_loader.py:386-408 builds both kinds against any analyzed
    field). ``field`` in (None, 'current', 'text') scores the root index
    itself.

    ``doc_filter`` resolves against the ROOT index's docs table (field
    docs are projected down to doc_id/text/range_id/dl and carry no
    metadata; doc_ids and ranges are shared, so the allowed set maps 1:1
    onto the field space's ranges).
    """
    from .query import phrase_search, search

    is_root = field in (None, "current", "text")
    root = index_dir if is_root else field_root(index_dir, field)
    froot = None if is_root else index_dir
    if mode == "match":
        return search(spark, root, queries, k=k, prune=prune,
                      doc_filter=doc_filter, filter_root=froot,
                      minimum_should_match=minimum_should_match)
    if mode == "phrase":
        return phrase_search(spark, root, queries, k=k,
                             doc_filter=doc_filter, filter_root=froot,
                             slop=slop)
    raise ValueError(f"mode must be 'match' or 'phrase', got {mode!r}")
