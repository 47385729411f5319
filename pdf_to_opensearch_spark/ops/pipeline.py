"""Composed training-corpus cleaning pass — the pipeline users actually
run over raw web text before pre-training: quality gates → exact-dup
keeper → near-dup cluster keeper, in one call with a per-doc verdict.

Stage order is frozen (and mirrored in the SQL oracle):
1. quality — token count / stopword ratio / alpha ratio thresholds over
   :func:`ops.textstats.quality_scores` features;
2. exact dedup among quality passers — md5(text) groups, keeper = min id;
3. near dedup among exact survivors — MinHash-LSH pairs closed into
   clusters, keeper = min id per cluster.

Where each stage runs: all three are ONE per-doc frame, built in one
pass and localCheckpoint'ed once — doc_id, the quality gate (the
:func:`ops.textstats.quality_columns` expressions), the exact-dup flag
(min id over a window on the md5 digest) and, for exact survivors only,
the distinct shingle set and its MinHash signatures. It never keeps the
text. Band keys and the Jaccard verification join read it
(:mod:`ops.dedup`); the verified pairs go to the driver once for
union-find (:func:`ops.dedup.duplicate_clusters`, distributed star
contraction above its ``small_max``), and the non-keeper members come
back as a small local relation that the fates, projected from the same
frame, join.

Scale notes (100 TB): stage 1 is pure whole-stage-codegen column math;
stage 2's window exchange is the one shuffle of the text, on a uniform
128-bit key; stage 3 is the banded LSH pipeline (never all-pairs), whose
shingle and signature work runs per doc after that exchange, for exact
survivors only; its verification join is sized as in :mod:`ops.dedup`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (_near_pairs, _shingle_set, _with_signatures,
                    duplicate_clusters)
from .textstats import quality_columns


def clean_corpus(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 min_tokens: int = 20,
                 min_stopword_ratio: float = 0.0,
                 min_alpha_ratio: float = 0.4,
                 near_threshold: float = 0.7,
                 hash_family: str = "xxhash64") -> DataFrame:
    """One row per input doc: (doc_id, fate) with fate ∈
    {'kept', 'quality', 'exact_dup', 'near_dup'} — 'kept' docs are the
    cleaned corpus; the other fates say which stage removed the doc and
    why (auditable attrition, the thing corpus reports are made of).
    """
    spark = docs.sparkSession
    q_ok = ((F.col("n_tokens") >= min_tokens) &
            (F.col("stopword_ratio") >= min_stopword_ratio) &
            (F.col("alpha_ratio") >= min_alpha_ratio))
    # exact keeper = min id per content digest among quality passers
    # (equal text ⇒ equal gate, so a digest group never straddles it)
    keeper = F.min(id_col).over(Window.partitionBy("_h", "q_ok"))
    survivor = F.col("q_ok") & ~F.col("_exact")
    # the window's exchange is given its partition count: AQE would
    # coalesce a few MB into one partition, and the shingle and signature
    # work after it would run on one core
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    frame = (docs.select(id_col, text_col, *quality_columns(text_col),
                         F.md5(F.col(text_col)).alias("_h"))
             .select(id_col, text_col, q_ok.alias("q_ok"), "_h")
             .repartition(parts, "_h", "q_ok")
             .withColumn("_exact", F.col("q_ok") & (F.col(id_col) != keeper))
             .select(F.col(id_col).alias("id"), "q_ok", "_exact",
                     _shingle_set(F.when(survivor, F.col(text_col)))
                     .alias("sh")))
    # one materialization; a checkpointed frame is an RDD scan, while each
    # read of a persisted one would be a query stage of its own (one more
    # Spark job per read under AQE)
    frame = _with_signatures(frame, num_hashes=32,
                             hash_family=hash_family).localCheckpoint(
                                 eager=True)
    # minhash_near_duplicates' defaults
    pairs = _near_pairs(frame, num_hashes=32, bands=8,
                        threshold=near_threshold, max_bucket=1000,
                        hash_family=hash_family)
    clusters = duplicate_clusters(pairs)
    near = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
            .select(F.col("doc_id").alias(id_col))
            .withColumn("_near", F.lit(True)))

    fate = (F.when(~F.col("q_ok"), F.lit("quality"))
            .when(F.col("_exact"), F.lit("exact_dup"))
            .when(F.col("_near"), F.lit("near_dup"))
            .otherwise(F.lit("kept")))
    return (frame.withColumnRenamed("id", id_col)
            .join(F.broadcast(near), id_col, "left")
            .select(F.col(id_col), fate.alias("fate")))
