"""Deduplication operators for web-scale corpora.

Where each MinHash stage runs:
- shingles: one Arrow-batch pandas UDF call per partition, one DISTINCT
  shingle array per doc (no explode);
- signatures: ``array_min(transform(sh, hash_i))`` inside the same per-doc
  row (xxhash64, or the md5-60 oracle family) — the frame of id, set and
  signatures is localCheckpoint'ed once and read by both later stages;
- candidates: band keys → one groupBy per (band, bucket), behind a
  partial-aggregated bucket-size guard and a broadcast anti-join;
- verification, one form for every input size: each candidate pair's
  endpoints join the per-doc sets and regroup by pair; a size filter
  (min/max ≥ threshold, exact since J ≤ min/max) runs before the
  ``array_intersect``;
- clustering: pairs go to the driver once for a vectorized union-find;
  above ``small_max`` pairs, distributed star contraction.
SimHash bit-unpacking uses a vectorized numpy kernel.

Scale notes (100 TB):
- exact dedup: one shuffle on a 128-bit digest — uniformly distributed
  keys, no skew by construction.
- MinHash-LSH: the shingle and signature work is map-side, per doc;
  candidate generation shuffles only band keys; hot buckets (boiler-
  plate shingles) are bounded by banding width, and the guard drops
  degenerate buckets larger than ``max_bucket`` (like Spark's own
  MinHashLSH behavior on trivial signatures). Verification joins the
  candidate endpoints to the per-doc frame: AQE broadcasts the endpoints
  while they fit its broadcast threshold (the per-doc frame then stays
  in place); beyond that the join shuffles the frame by id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..analyzer import tokenize_udf


def md5_60(col: Column, seed: int | None = None) -> Column:
    """60-bit integer hash from the md5 hex prefix — the SHARED hash family
    both Spark and DuckDB can compute exactly:

        Spark:  conv(substring(md5(x), 1, 15), 16, 10)::long
        DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

    Seeded variants append ``:{seed}`` to the input. Used by the
    oracle-checked minhash/simhash entries; the xxhash64 family remains the
    production default (one JVM hash call vs md5+substr+conv)."""
    x = F.concat(col.cast("string"), F.lit(f":{seed}")) if seed is not None \
        else col.cast("string")
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


def _spread(df: DataFrame) -> DataFrame:
    """Widen a narrow input (e.g. one small parquet file) to the session's
    default parallelism BEFORE the per-row tokenize/hash/vector work —
    otherwise the whole map side runs single-threaded. At real scale
    inputs have plenty of partitions and this is a no-op (no shuffle
    added). The partition count comes from the physical plan's output
    partitioning, which runs no Spark job (``df.rdd.getNumPartitions()``
    runs an adaptive plan's shuffle as a job of its own)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    parts = (df._jdf.queryExecution().executedPlan()
             .outputPartitioning().numPartitions())
    if parts < min(target, 16):
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5(text).

    Returns (content_hash, n_docs, keeper_id) for groups with ≥2 docs;
    keeper = min id (deterministic survivor).
    """
    return (df
            .withColumn("content_hash", F.md5(F.col(text_col)))
            .groupBy("content_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("keeper_id"))
            .filter(F.col("n_docs") >= 2))


def _shingle_udf(n: int):
    """Arrow-batch shingle kernel: text → array<string> of word n-grams
    (space-joined analyzer tokens). Tokenization runs in Arrow C++
    (analyzer.tokenize_arrow_batch — no per-token Python strings during
    split); only the ~|shingles| join step touches Python objects. ~3×
    faster than tokenize_udf + JVM slice/concat at bench scale, and
    byte-identical output (space-joined tokens of the frozen analyzer)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..analyzer import tokenize_arrow_batch

    # no type hints: `from __future__ import annotations` makes them
    # strings that pandas_udf can't resolve against the local pd import
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def kernel(texts):
        tk = tokenize_arrow_batch(texts)
        toks = tk["uniq"][tk["codes"]]                  # object[ntok]
        dl, doc_idx = tk["dl"], tk["doc_idx"]
        nsh = np.maximum(dl - (n - 1), 0)               # shingles per doc
        if toks.size == 0 or int(nsh.sum()) == 0:
            return pd.Series([[] for _ in range(len(texts))])
        # a flat position is a shingle START iff its n-1 successors are in
        # the same doc: position-within-doc < dl - (n-1)
        starts_ok = tk["pos"] < (dl[doc_idx] - (n - 1))
        idx = np.flatnonzero(starts_ok)
        sh = toks[idx]
        for j in range(1, n):
            sh = sh + " " + toks[idx + j]               # object concat, C loop
        counts = np.bincount(doc_idx[idx], minlength=len(texts))
        offsets = np.cumsum(counts) - counts
        return pd.Series([sh[offsets[i]:offsets[i] + counts[i]].tolist()
                          for i in range(len(texts))])

    return kernel


def shingles(df: DataFrame, text_col: str = "text", n: int = 3,
             out_col: str = "shingle") -> DataFrame:
    """Explode word n-gram shingles (analyzer-tokenized, space-joined)."""
    sh = _shingle_udf(n)
    return (_spread(df)
            .withColumn(out_col, F.explode(sh(F.col(text_col)))))


def raw_shingles(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", shingle_n: int = 3) -> DataFrame:
    """(id, shingle) pairs WITH duplicates — the exploded form, for the
    all-pairs :func:`jaccard_pairs` self-join and for callers that want
    one row per shingle. The MinHash stages read :func:`_shingle_sets`
    (one set per doc) instead."""
    return (shingles(df.select(id_col, text_col), text_col, n=shingle_n)
            .select(F.col(id_col).alias("id"), "shingle"))


def distinct_shingles(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", shingle_n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs — a full shuffle on (id, shingle)."""
    return raw_shingles(df, id_col, text_col, shingle_n).distinct()


def _shingle_set(text: Column, shingle_n: int = 3) -> Column:
    """A doc's DISTINCT word n-gram set as an array (empty below
    ``shingle_n`` tokens or for a null text)."""
    return F.array_distinct(_shingle_udf(shingle_n)(text))


def _shingle_sets(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 3,
                  shingle_df: DataFrame | None = None) -> DataFrame:
    """(id, sh): one row per doc, ``sh`` its :func:`_shingle_set` — no
    explode, a doc's set stays one row. A caller's (id, shingle) table,
    raw or distinct, is folded into the same frame instead."""
    if shingle_df is not None:
        return shingle_df.groupBy("id").agg(
            F.collect_set("shingle").alias("sh"))
    return (_spread(df.select(id_col, text_col))
            .select(F.col(id_col).alias("id"),
                    _shingle_set(F.col(text_col), shingle_n).alias("sh")))


def _seeded_hash(hash_family: str, seed: int):
    """hash_seed(shingle) as a one-argument column function. A factory, not
    ``lambda s, i=i: …``: ``F.transform`` passes the element INDEX as a
    two-parameter lambda's second argument, which would silently hash with
    the index instead of the seed."""
    if hash_family == "md5":
        return lambda s: md5_60(s, seed=seed)
    return lambda s: F.xxhash64(s, F.lit(seed))


def _with_signatures(sets: DataFrame, num_hashes: int,
                     hash_family: str) -> DataFrame:
    """``sets`` plus sig_0..sig_{h-1}: sig_i = min over the doc's set of
    hash_i (null for an empty set), computed inside the per-doc row as
    ``array_min(transform(sh, hash_i))`` — no explode, no exchange.

    The other form, explode + a partial-aggregated ``groupBy(id)`` min, is
    codegen but adds an exchange, and a consumer that reads the
    signatures twice (the bucket guard and the bucket grouping) either
    reuses that exchange or recomputes. Measured on the perfbench bulk
    dedup corpus (480 docs, 4 CPUs), the signature stage alone:
    xxhash64 0.52 s here vs 0.38 s exploded, md5 1.73 vs 1.78 s. A whole
    ``clean_corpus`` call: xxhash64 2.0–2.6 s in 10 Spark jobs here vs
    1.9–2.9 s in 11 exploded; md5 2.6–3.3 s vs 2.9–3.2 s. This form is
    kept for both families: the signatures are materialized with the
    per-doc frame, and the candidate stage starts from them."""
    return sets.select("*", *[
        F.array_min(F.transform("sh", _seeded_hash(hash_family, i)))
        .alias(f"sig_{i}") for i in range(num_hashes)])


def _lsh_candidates(frame: DataFrame, num_hashes: int, bands: int,
                    max_bucket: int, hash_family: str) -> DataFrame:
    """(id_a, id_b), id_a < id_b, of docs sharing a band bucket, from a
    per-doc (id, sh, sig_*) frame — once per shared band, so a pair may
    repeat. Docs with no shingle take no part. Buckets larger than
    ``max_bucket`` are dropped first (degenerate boilerplate guard)."""
    rows = num_hashes // bands
    if hash_family == "md5":
        # equality-only band key: the plain concat of the band's signature
        # values (no re-hash needed → byte-reproducible in SQL)
        band_arr = F.array(*[
            F.concat_ws(",", *[F.col(f"sig_{b*rows+r}").cast("string")
                               for r in range(rows)])
            for b in range(bands)
        ])
    else:
        band_arr = F.array(*[
            F.xxhash64(*[F.col(f"sig_{b*rows+r}") for r in range(rows)],
                       F.lit(b))
            for b in range(bands)
        ])
    # one posexplode + one grouping (vs a union of per-band joins, which
    # would recompute the signature DAG per band)
    banded = (frame.filter(F.size("sh") > 0)
              .select("id", F.posexplode(band_arr).alias("band", "bucket")))
    # degenerate-bucket guard as a map-side-combinable groupBy count +
    # broadcast anti-join of the (rare) oversized buckets — a count(*)
    # OVER (PARTITION BY band, bucket) window would shuffle and sort EVERY
    # banded row
    big = (banded.groupBy("band", "bucket")
           .agg(F.count("*").alias("bn"))
           .filter(F.col("bn") > max_bucket)
           .select("band", "bucket"))
    kept = banded.join(F.broadcast(big), ["band", "bucket"], "left_anti")
    # pair generation via ONE groupBy + in-row combination explode: a
    # bucket's ids (bounded at max_bucket by the guard) explode into their
    # i<j combinations inside the row — one exchange, no self-join
    grp = (kept.groupBy("band", "bucket")
           .agg(F.collect_list("id").alias("ids"))
           .filter(F.size("ids") >= 2))
    return (grp.select(F.explode("ids").alias("id_a"), "ids")
            .select("id_a",
                    F.explode(F.filter(F.col("ids"),
                                       lambda x: x > F.col("id_a")))
                    .alias("id_b")))


def _verify(cands: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Distinct (id_a, id_b, jaccard) of the (id_a < id_b) candidate pairs
    — repeats allowed — whose exact shingle-set Jaccard is ≥
    ``threshold``, rounded to 6 dp. One form for every input size: each
    pair's two endpoints join the per-doc (id, sh) sets and regroup by
    pair, which also folds repeated pairs. Koios' size filter runs before
    the intersection and is exact: J ≤ min(|A|,|B|)/max(|A|,|B|), and f64
    division is monotone, so no pair it drops can reach the threshold."""
    ends = cands.select("id_a", "id_b",
                        F.explode(F.array("id_a", "id_b")).alias("id"))
    pairs = (ends.join(sets.filter(F.size("sh") > 0).select("id", "sh"), "id")
             .groupBy("id_a", "id_b")
             .agg(F.min_by("sh", "id").alias("sh_a"),
                  F.max_by("sh", "id").alias("sh_b"),
                  F.min("id").alias("lo"), F.max("id").alias("hi"))
             # both endpoints found (a pair with a doc missing from
             # ``sets``, or with no shingle, would otherwise compare one
             # set with itself)
             .filter(F.col("lo") < F.col("hi")))
    n_a, n_b = F.size("sh_a"), F.size("sh_b")
    inter = F.col("inter")
    return (pairs
            .filter(F.least(n_a, n_b) / F.greatest(n_a, n_b) >= threshold)
            .select("id_a", "id_b",
                    F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
                    (n_a + n_b).alias("n"))
            .withColumn("jaccard", inter / (F.col("n") - inter))
            .filter((inter > 0) & (F.col("jaccard") >= threshold))
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def _near_pairs(frame: DataFrame, num_hashes: int, bands: int,
                threshold: float, max_bucket: int,
                hash_family: str) -> DataFrame:
    """Verified MinHash-LSH pairs (lazy) of a per-doc (id, sh, sig_*)
    frame; the frame is read twice (band keys, verification sets), so
    callers materialize it first."""
    cands = _lsh_candidates(frame, num_hashes, bands, max_bucket,
                            hash_family)
    return _verify(cands, frame, threshold)


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 16,
                       shingle_n: int = 3,
                       shingle_df: DataFrame | None = None,
                       hash_family: str = "xxhash64") -> DataFrame:
    """MinHash signatures: sig_i = min over shingles of hash_i(shingle).

    Output: (id, sig_0..sig_{h-1}), one row per doc with ≥1 shingle.
    ``shingle_df``: optional precomputed (id, shingle) table, raw or
    distinct (min is idempotent under duplicate shingles).
    ``hash_family``: 'xxhash64' (production default) or 'md5'
    (:func:`md5_60`, exactly reproducible in the DuckDB oracle).
    """
    sets = _shingle_sets(df, id_col, text_col, shingle_n, shingle_df)
    return (_with_signatures(sets.filter(F.size("sh") > 0), num_hashes,
                             hash_family)
            .drop("sh").withColumnRenamed("id", id_col))


def minhash_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", num_hashes: int = 32,
                            bands: int = 8, shingle_n: int = 3,
                            max_bucket: int = 1000,
                            shingle_df: DataFrame | None = None,
                            hash_family: str = "xxhash64",
                            materialize: bool = True) -> DataFrame:
    """LSH candidate pairs: same band-bucket in any band → candidate.

    Returns distinct (id_a, id_b) with id_a < id_b. Buckets larger than
    ``max_bucket`` are dropped (degenerate boilerplate guard).

    With ``materialize=True`` (default) the per-doc signature frame and
    then the candidate set — tiny by construction: it is bounded by the
    near-duplicate pair count — are localCheckpoint'ed (materialized AND
    lineage-truncated, so downstream consumers never re-analyze the
    signature DAG). ``materialize=False`` returns the lazy plan — for plan
    inspection/tests only.
    """
    frame = _with_signatures(
        _shingle_sets(df, id_col, text_col, shingle_n, shingle_df),
        num_hashes, hash_family)
    if materialize:
        frame = frame.localCheckpoint(eager=True)
    out = _lsh_candidates(frame, num_hashes, bands, max_bucket,
                          hash_family).distinct()
    return out.localCheckpoint(eager=True) if materialize else out


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 3,
                  threshold: float = 0.7,
                  candidates: DataFrame | None = None,
                  shingle_df: DataFrame | None = None,
                  shingles_distinct: bool = True) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs.

    WARNING — scale foot-gun: with ``candidates=None`` this degenerates to
    an all-pairs join over every doc pair sharing ≥1 shingle, which is
    quadratic in hot-shingle frequency. At scale ALWAYS pass the LSH
    ``candidates`` (the verification stage of MinHash-LSH) — or call
    :func:`minhash_near_duplicates`, which wires the two together over one
    per-doc shingle frame.

    Jaccard = |A∩B| / |A∪B| over distinct shingle sets, rounded to 6 dp
    (Spark's HALF_UP ``round``). With ``candidates``, its canonical
    (id_a < id_b) pairs join the per-doc shingle sets (:func:`_verify`); a
    given ``shingle_df`` is folded into sets, so its duplicates never
    count whatever the flag. Without ``candidates`` the shingle table
    self-joins; ``shingles_distinct`` then describes the PROVIDED
    ``shingle_df`` (True = "my frame is already per-doc distinct") and is
    trusted as given.
    """
    if candidates is not None:
        sets = _shingle_sets(df, id_col, text_col, shingle_n, shingle_df)
        return _verify(candidates.filter(F.col("id_a") < F.col("id_b")),
                       sets, threshold)
    sh = (shingle_df if shingle_df is not None
          else raw_shingles(df, id_col, text_col, shingle_n))
    if shingle_df is None or not shingles_distinct:
        sh = sh.distinct()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.withColumnRenamed("id", "id_a")
                  .withColumnRenamed("sz", "sz_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b")
                  .withColumnRenamed("sz", "sz_b"), "id_b")
            .withColumn("jaccard",
                        F.col("inter") /
                        (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def minhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", num_hashes: int = 32,
                            bands: int = 8, shingle_n: int = 3,
                            threshold: float = 0.7,
                            max_bucket: int = 1000,
                            hash_family: str = "xxhash64") -> DataFrame:
    """MinHash-LSH near-duplicate pairs, Jaccard-verified: ONE per-doc
    frame (id, shingle set, signatures) is built and localCheckpoint'ed,
    and both the band keys and the verification join read it.

    Returns (id_a, id_b, jaccard) with jaccard ≥ threshold, materialized
    (localCheckpoint'ed: its blocks, like the per-doc frame's, are freed
    by the context cleaner once unreferenced).
    """
    frame = _with_signatures(_shingle_sets(df, id_col, text_col, shingle_n),
                             num_hashes, hash_family).localCheckpoint(
                                 eager=True)
    return _near_pairs(frame, num_hashes, bands, threshold, max_bucket,
                       hash_family).localCheckpoint(eager=True)


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text",
            hash_family: str = "xxhash64") -> DataFrame:
    """SimHash per doc (64-bit with xxhash64, 60-bit with the md5 shared
    family — :func:`md5_60` is exactly reproducible in the DuckDB oracle).

    Token hashes are computed JVM-side; the per-doc weighted bit-vote runs
    in a vectorized numpy kernel over grouped token hashes.
    """
    import numpy as np
    import pandas as pd

    bits_n = 60 if hash_family == "md5" else 64
    hash_col = (md5_60(F.col("token")) if hash_family == "md5"
                else F.xxhash64("token"))
    toks = (_spread(df)
            .select(id_col, tokenize_udf(F.col(text_col)).alias("t"))
            .select(id_col, F.explode("t").alias("token"))
            .groupBy(id_col, "token")
            .agg(F.count("*").alias("tf"))
            .withColumn("h", hash_col)
            # coarse grouping key: one kernel call handles ~1/64 of docs
            # (per-doc applyInPandas would mean one Python call per doc)
            .withColumn("_gk", F.pmod(F.col(id_col), F.lit(64))))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(np.int64)
        h = pdf["h"].to_numpy(np.int64).astype(np.uint64)
        tf = pdf["tf"].to_numpy(np.float64)
        order = np.argsort(ids, kind="stable")
        ids, h, tf = ids[order], h[order], tf[order]
        bits = ((h[:, None] >> np.arange(bits_n, dtype=np.uint64)) &
                np.uint64(1)).astype(np.float64)  # (n_tokens, bits_n)
        votes = (2.0 * bits - 1.0) * tf[:, None]
        # fully vectorized per-doc bit vote: reduceat over sorted groups
        # (no per-doc Python loop — one segmented sum for the whole batch)
        starts = np.flatnonzero(np.concatenate(
            ([True], ids[1:] != ids[:-1])))
        summed = np.add.reduceat(votes, starts, axis=0)  # (n_docs, bits_n)
        sig_bits = (summed > 0).astype(np.uint64)
        sigs = (sig_bits << np.arange(bits_n, dtype=np.uint64)).sum(
            axis=1, dtype=np.uint64)
        # reinterpret uint64→int64 (two's complement view; np.int64(scalar)
        # raises OverflowError on numpy>=2.0 when bit 63 is set)
        return pd.DataFrame({id_col: ids[starts],
                             "simhash": sigs.view(np.int64)})

    return toks.groupBy("_gk").applyInPandas(
        kernel, schema=f"{id_col} long, simhash long")


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_hamming: int = 3,
                       hash_family: str = "xxhash64",
                       materialize: bool = True) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation: split the signature into 4 chunks (16 bits for
    the 64-bit family, 15 for the 60-bit md5 family); by pigeonhole, any
    pair within Hamming ≤3 shares at least one exact chunk → equi-join per
    chunk, then exact popcount filter (JVM-side bit_count). EXACT under
    max_hamming ≤ 3 (4 chunks, 3 flips can't touch all chunks).

    ``s`` (the signature table) feeds BOTH sides of all 4 chunk joins —
    Spark has no cross-branch common-subexpression elimination, so without
    a persist the tokenize→explode→groupBy→applyInPandas simhash pipeline
    would re-run up to 8×. ``materialize=True`` (default) persists ``s``,
    materializes the (tiny) pair result, and releases the signature cache
    deterministically; ``materialize=False`` returns the lazy plan with
    ``s`` persisted (plan inspection/tests only).
    """
    from pyspark import StorageLevel

    sigs = simhash(df, id_col, text_col, hash_family=hash_family)
    cw = 15 if hash_family == "md5" else 16
    mask = (1 << cw) - 1
    chunks = [F.shiftrightunsigned(F.col("simhash"), cw * c)
              .bitwiseAND(F.lit(mask)).alias(f"c{c}") for c in range(4)]
    s = (sigs.select(F.col(id_col).alias("id"), "simhash", *chunks)
         .persist(StorageLevel.MEMORY_AND_DISK))
    pairs = None
    for c in range(4):
        a = s.select(F.col("id").alias("id_a"),
                     F.col("simhash").alias("sig_a"), F.col(f"c{c}").alias("ck"))
        b = s.select(F.col("id").alias("id_b"),
                     F.col("simhash").alias("sig_b"), F.col(f"c{c}").alias("ck"))
        p = (a.join(b, "ck").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sig_a", "sig_b"))
        pairs = p if pairs is None else pairs.unionByName(p)
    out = (pairs.distinct()
           .withColumn("hamming", F.bit_count(
               F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
           .filter(F.col("hamming") <= max_hamming)
           .select("id_a", "id_b", "hamming"))
    if materialize:
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        s.unpersist()
    return out


def _union_find(ids_a, ids_b):
    """Connected components of the edges (ids_a[i], ids_b[i]) on the
    driver: returns (node, root) int64 arrays over every endpoint, root =
    the component's minimum id. Vectorized hooking with full pointer
    jumping: each round hooks every edge's larger root onto its smaller
    one (``minimum.at`` over all edges at once) and then jumps every
    pointer to its root; pointers only ever go to smaller ids, so roots
    are component minima, and a round with no hook is the fixed point."""
    nodes, idx = np.unique(np.concatenate([np.asarray(ids_a, np.int64),
                                           np.asarray(ids_b, np.int64)]),
                           return_inverse=True)
    a, b = idx[:len(idx) // 2], idx[len(idx) // 2:]
    root = np.arange(len(nodes))
    while True:
        ra, rb = root[a], root[b]
        hook = ra != rb
        if not hook.any():
            return nodes, nodes[root]
        np.minimum.at(root, np.maximum(ra, rb)[hook], np.minimum(ra, rb)[hook])
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped


def duplicate_clusters(pairs: DataFrame, max_iters: int = 20,
                       small_max: int = 500_000) -> DataFrame:
    """Near-duplicate pair set → duplicate CLUSTERS (connected components):
    the step a real dedup pipeline needs after pair generation — transitive
    closure turns chains (A~B, B~C, A!~C) into one keep-group.

    Returns (cluster_id, doc_id): one row per member of a ≥2-doc cluster;
    cluster_id = min doc_id of the component (the deterministic keeper).

    Pair sets are tiny relative to the corpus (they are the near-dup
    graph, not the doc set), so at or below ``small_max`` pairs the
    closure runs as driver-side union-find (:func:`_union_find`) — one
    Arrow-batched toPandas of at most ``small_max`` + 1 rows, zero
    iterative Spark jobs. The default is sized against a default-sized
    driver (~16 bytes/edge in two int64 numpy columns).

    Above ``small_max``, the distributed path runs alternating
    LARGE-STAR / SMALL-STAR contraction — the published MapReduce
    connected-components algorithm (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC 2014): each round re-points every
    node's larger neighbors at its smallest known neighbor (large-star)
    and then contracts each node's smaller neighbors onto their minimum
    (small-star). The edge set's fixed points are exactly star forests
    rooted at component minima, and convergence is O(log n) rounds on ANY
    graph shape — min-label propagation (the previous implementation) is
    O(diameter), which an adversarial chain turns into O(n).
    Deterministic. Every round localCheckpoints (lineage truncation —
    Catalyst plan growth is exponential across iterative joins).

    If ``max_iters`` rounds pass without reaching the fixed point, a
    RuntimeWarning is raised and the best-effort labels are returned
    (with max_iters=20 that takes a component needing >20 star rounds —
    beyond any realistic graph; the previous min-label loop hit its bound
    silently at diameter 20 and returned wrong labels with no signal).

    The result DataFrame carries ``_cc_rounds`` (rounds executed) and
    ``_cc_converged`` attributes as instrumentation.
    """
    pdf = pairs.select("id_a", "id_b").limit(small_max + 1).toPandas()
    if len(pdf) <= small_max:
        nodes, roots = _union_find(pdf["id_a"], pdf["id_b"])
        order = np.lexsort((nodes, roots))
        out = pairs.sparkSession.createDataFrame(
            pd.DataFrame({"cluster_id": roots[order],
                          "doc_id": nodes[order]}),
            "cluster_id long, doc_id long")
        out._cc_rounds = 0
        out._cc_converged = True
        return out

    # canonical undirected edges (hi > lo), deduped
    e = (pairs.select(F.greatest("id_a", "id_b").alias("hi"),
                      F.least("id_a", "id_b").alias("lo"))
         .filter(F.col("hi") != F.col("lo"))
         .distinct()
         .localCheckpoint(eager=True))
    n_e = e.count()
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # LARGE-STAR: for every node u, re-point each STRICTLY LARGER
        # neighbor v at m = min(neighbors(u) ∪ {u}). Emitted (v, m) stays
        # canonical: v > u ≥ m.
        sym = (e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
               .unionByName(
                   e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("mn")))
        large = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("hi"), F.col("mn").alias("lo"))
                 .distinct())
        # SMALL-STAR: group each edge at its LARGER endpoint; contract
        # all smaller neighbors (and the node itself) onto their minimum.
        smins = large.groupBy("hi").agg(F.min("lo").alias("mn"))
        small = (large.join(smins, "hi")
                 .filter(F.col("lo") != F.col("mn"))
                 .select(F.col("lo").alias("hi"), F.col("mn").alias("lo"))
                 .unionByName(smins.select("hi", F.col("mn").alias("lo")))
                 .distinct()
                 .localCheckpoint(eager=True))
        n_new = small.count()
        if n_new == n_e and small.join(
                e, ["hi", "lo"], "left_anti").limit(1).count() == 0:
            e = small
            converged = True
            break
        e, n_e = small, n_new
    if not converged:
        import warnings

        warnings.warn(
            f"duplicate_clusters: star contraction did not reach its "
            f"fixed point within max_iters={max_iters} rounds; labels "
            f"may be partially propagated", RuntimeWarning, stacklevel=2)
    # converged edge set = star forest rooted at component minima:
    # members are the hi side, roots label themselves
    out = (e.select(F.col("lo").alias("cluster_id"),
                    F.col("hi").alias("doc_id"))
           .unionByName(e.select(F.col("lo").alias("cluster_id"),
                                 F.col("lo").alias("doc_id")))
           .distinct())
    out._cc_rounds = rounds
    out._cc_converged = converged
    return out
