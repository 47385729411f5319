"""pdf_to_opensearch_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Re-owns the capabilities of the reference `yourffiesta/pdf-to-opensearch`
(extract → normalize → chunk → index → query, where indexing/search was
delegated to OpenSearch/Lucene behind opensearch_loader.py:377, 873-890)
as idiomatic Spark DataFrame dataflow plus vectorized Arrow/pandas kernels:

- ``analyzer``  — frozen, versioned text analysis (NFC → lower → word segmentation)
- ``codec``     — delta + varint block compression with block-max metadata (numpy)
- ``extract``   — html → text vectorized extraction (byte-identical per url)
- ``chunking``  — deterministic sentence-packing chunker + prev/next context
- ``indexer``   — SPIMI per-partition posting build + doc-range-partitioned merge
- ``tablefs``   — the one I/O path: every index table through a pyarrow filesystem
- ``query``     — BM25 top-k with block-max pruning; rank-identical to the oracle
- ``oracle``    — brute-force single-node BM25 reference implementation
- ``maintenance`` — delete-by-metadata + resumable manifest semantics
- ``ops``       — large-scale training-data pipeline operators (dedup, similarity,
                  text stats, multimodal plumbing)
"""

__version__ = "0.1.0"

ANALYZER_VERSION = "nfc-lower-word-v1"
BM25_K1 = 1.2
BM25_B = 0.75
