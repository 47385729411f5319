"""Training-data pipeline ops: dedup, similarity, textstats, multimodal."""

import numpy as np
import pandas as pd
import pytest

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def docs_df(spark):
    base = [
        "the quick brown fox jumps over the lazy dog and runs away fast",
        "an entirely different document about spark query engines and joins",
        "numbers one two three four five six seven eight nine ten eleven",
    ]
    rows = []
    # 0/1: exact dupes; 2/3: near dupes (one word changed); others distinct
    rows.append((0, base[0]))
    rows.append((1, base[0]))
    rows.append((2, base[1]))
    rows.append((3, base[1].replace("joins", "windows")))
    rows.append((4, base[2]))
    for i in range(5, 30):
        rows.append((i, f"unique filler document number {i} with words "
                        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} "
                        f"zeta{i} eta{i} theta{i}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    from pdf_to_opensearch_spark.ops.dedup import exact_dedup

    out = exact_dedup(docs_df).toPandas()
    assert len(out) == 1
    assert out["n_docs"].iloc[0] == 2
    assert out["keeper_id"].iloc[0] == 0


def test_minhash_finds_near_dupes(spark, docs_df):
    from pdf_to_opensearch_spark.ops.dedup import (
        jaccard_pairs,
        minhash_candidate_pairs,
    )

    cands = minhash_candidate_pairs(docs_df).toPandas()
    got = {tuple(r) for r in cands[["id_a", "id_b"]].itertuples(index=False)}
    assert (0, 1) in got  # exact dupes always collide
    assert (2, 3) in got  # near dupes (high jaccard)
    verified = jaccard_pairs(
        docs_df, threshold=0.5,
        candidates=minhash_candidate_pairs(docs_df)).toPandas()
    pairs = {tuple(r) for r in verified[["id_a", "id_b"]].itertuples(index=False)}
    assert (0, 1) in pairs and (2, 3) in pairs
    j01 = verified.set_index(["id_a", "id_b"]).loc[(0, 1), "jaccard"]
    assert j01 == 1.0


def test_jaccard_candidates_equal_all_pairs_rows(spark, docs_df):
    """Candidate-restricted verification (the candidate pairs joined to
    per-doc shingle sets) must emit exactly the rows, values included, of
    the all-pairs shingle self-join filtered to the candidate pairs —
    whatever the candidates' order or repeats, and with a candidate doc
    (102) too short for a shingle. Docs 100/101 share 13 of 70 and 71
    shingles: J = 13/128 = 0.1015625 sits on a 6-dp boundary, which
    Spark's HALF_UP round takes to 0.101563 (half-even: 0.101562)."""
    from pdf_to_opensearch_spark.ops import dedup

    common = [f"c{i}" for i in range(15)]
    docs = docs_df.unionByName(spark.createDataFrame(
        [(100, " ".join(common + [f"a{i}" for i in range(57)])),
         (101, " ".join(common + [f"b{i}" for i in range(58)])),
         (102, "c0 c1")],
        "doc_id long, text string"))
    cands = dedup.minhash_candidate_pairs(docs).unionByName(
        spark.createDataFrame([(101, 100), (100, 101), (100, 101),
                               (100, 102), (102, 102)],
                              "id_a long, id_b long"))
    want_pairs = {(min(a, b), max(a, b))
                  for a, b in cands.toPandas().itertuples(index=False)}
    key = ["id_a", "id_b"]
    got = (dedup.jaccard_pairs(docs, threshold=0.1, candidates=cands)
           .toPandas().sort_values(key, ignore_index=True))
    full = dedup.jaccard_pairs(docs, threshold=0.1).toPandas()
    full = (full[[p in want_pairs for p in zip(full["id_a"], full["id_b"])]]
            .sort_values(key, ignore_index=True))
    assert len(got) > 1
    pd.testing.assert_frame_equal(got, full, check_exact=True)
    assert got.set_index(key).loc[(100, 101), "jaccard"] == 0.101563


def test_jaccard_matches_python_reference(spark, docs_df):
    from pdf_to_opensearch_spark.analyzer import tokenize_text
    from pdf_to_opensearch_spark.ops.dedup import jaccard_pairs

    pdf = docs_df.toPandas()
    out = jaccard_pairs(docs_df, threshold=0.01).toPandas()
    texts = dict(zip(pdf["doc_id"], pdf["text"]))

    def ref_jaccard(a, b):
        def sh(t):
            toks = tokenize_text(t)
            return {" ".join(toks[i:i+3]) for i in range(len(toks) - 2)}
        A, B = sh(texts[a]), sh(texts[b])
        return len(A & B) / len(A | B) if A | B else 0.0

    for r in out.itertuples(index=False):
        assert abs(r.jaccard - round(ref_jaccard(r.id_a, r.id_b), 6)) < 1e-9


def test_simhash_near_pairs(spark, docs_df):
    from pdf_to_opensearch_spark.ops.dedup import simhash_near_pairs

    out = simhash_near_pairs(docs_df, max_hamming=3).toPandas()
    pairs = {tuple(r) for r in out[["id_a", "id_b"]].itertuples(index=False)}
    assert (0, 1) in pairs  # identical text → hamming 0
    h01 = out.set_index(["id_a", "id_b"]).loc[(0, 1), "hamming"]
    assert h01 == 0


def test_cosine_topk_exact(spark):
    from pdf_to_opensearch_spark.ops.similarity import cosine_topk

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((50, 8))
    rows = [(i, vecs[i].tolist()) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk(emb, [0, 1], k=5).toPandas()
    # numpy reference
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for q in [0, 1]:
        sims = vn @ vn[q]
        sims[q] = -np.inf
        want = np.lexsort((np.arange(50), -sims))[:5]
        got = out[out["query_id"] == q].sort_values("rank")["vec_id"].tolist()
        assert got == want.tolist()


def test_lsh_topk_recall(spark):
    from pdf_to_opensearch_spark.ops.similarity import cosine_topk, lsh_topk

    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((200, 16))
    rows = [(i, vecs[i].tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = cosine_topk(emb, [0], k=10).toPandas()
    approx = lsh_topk(emb, [0], k=10, n_planes=4, dim=16).toPandas()
    inter = set(exact["vec_id"]) & set(approx["vec_id"])
    # 4 planes → 16 buckets over 200 vecs: recall is partial but nonzero,
    # and every returned neighbor must be a true co-bucket vector
    assert len(approx) > 0
    assert len(inter) >= 1


def test_quality_and_fingerprints(spark, docs_df):
    from pdf_to_opensearch_spark.ops.textstats import (
        fingerprints,
        lang_id,
        quality_scores,
    )

    q = quality_scores(docs_df).toPandas().set_index("doc_id")
    assert q.loc[0, "n_tokens"] == 13
    assert q.loc[0, "stopword_ratio"] > 0  # contains 'the' twice
    fp = fingerprints(docs_df).toPandas().set_index("doc_id")
    assert fp.loc[0, "fingerprint"] == fp.loc[1, "fingerprint"]  # dupes
    assert fp.loc[0, "fingerprint"] != fp.loc[2, "fingerprint"]
    lang = lang_id(docs_df).toPandas().set_index("doc_id")
    assert lang.loc[0, "lang_guess"] == "en"


def test_multimodal_plumbing(spark):
    from pdf_to_opensearch_spark.ops.multimodal import (
        FEATURE_DIM,
        decode_features,
        frame_sample_plan,
        make_media,
    )

    media = make_media(spark, n=30)
    feats = decode_features(media, fake=True).toPandas()
    assert len(feats) == 30
    assert all(len(f) == FEATURE_DIM for f in feats["features"])
    # determinism: same payload → same features
    again = decode_features(media, fake=True).toPandas()
    a = [list(f) for f in feats.sort_values("media_id")["features"]]
    b = [list(f) for f in again.sort_values("media_id")["features"]]
    assert a == b
    plan = frame_sample_plan(media, every_ms=5000).toPandas()
    assert (plan["frame_ts_ms"] % 5000 == 0).all()
    assert plan["media_id"].nunique() == 10  # every 3rd row is video


def test_multimodal_real_decode(spark):
    """REAL numpy-only decoders: P6 PPM images, 16-bit PCM WAV audio,
    concatenated-PPM video — features verified against independently
    computed ground truth; compressed formats still raise."""
    import numpy as np

    from pdf_to_opensearch_spark.ops.multimodal import (
        decode_bmp,
        decode_features,
        decode_image,
        encode_ppm,
        make_media,
        resize_nearest,
    )

    media = make_media(spark, n=30)
    feats = (decode_features(media, fake=False).toPandas()
             .set_index("media_id").sort_index())
    # video 2 is constant-valued frames: gray grid cells == channel means
    vid = feats.loc[2]
    assert vid["kind"] == "video"
    v = list(vid["features"])
    np.testing.assert_allclose(v[6:15], [v[0]] * 9, atol=1e-6)
    # audio 1: 0.5-amplitude sine → rms ≈ 0.5/sqrt(2)
    aud = list(feats.loc[1, "features"])
    assert abs(aud[0] - 0.5 / np.sqrt(2)) < 0.01
    # image roundtrip: encode → decode is exact
    img = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    np.testing.assert_array_equal(decode_image(encode_ppm(img)), img)
    # nearest resize picks exact source pixels
    r = resize_nearest(img, 2, 2)
    np.testing.assert_array_equal(r, img[[0, 2]][:, [0, 2]])
    # 24-bit BMP roundtrip (hand-built header, bottom-up rows + padding)
    import struct

    h, w = 3, 2
    rows = []
    for y in range(h - 1, -1, -1):          # bottom-up
        row = bytes()
        for x in range(w):
            rgb = img[y, x % 5]
            row += bytes([rgb[2], rgb[1], rgb[0]])  # BGR
        row += b"\x00" * ((4 - (w * 3) % 4) % 4)
        rows.append(row)
    pix = b"".join(rows)
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                            0, 0, 0, 0))
    got = decode_bmp(header + pix)
    np.testing.assert_array_equal(got, img[:3, :2])
    # compressed formats are honestly unsupported
    with pytest.raises(Exception, match="NotImplementedError|compressed"):
        bad = spark.createDataFrame(
            [(99, "u", "image", b"\x89PNG\r\n", (1, 1, None, "image/png"))],
            media.schema)
        decode_features(bad, fake=False).count()


def test_cosine_near_duplicates(spark):
    """Embedding-cosine near-dup: exact all-pairs vs LSH-bucketed path —
    planted exact copies must be found by BOTH (copies always share every
    hyperplane bucket)."""
    import numpy as np

    from pdf_to_opensearch_spark.ops.similarity import cosine_near_duplicates

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((80, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    rows += [(100 + i, [float(x) for x in vecs[i]]) for i in range(0, 80, 10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = {(i, 100 + i) for i in range(0, 80, 10)}
    exact = cosine_near_duplicates(df, 0.95, method="exact", dim=16).toPandas()
    assert set(map(tuple, exact[["id_a", "id_b"]].to_numpy())) == want
    lsh = cosine_near_duplicates(df, 0.95, method="lsh", dim=16).toPandas()
    assert set(map(tuple, lsh[["id_a", "id_b"]].to_numpy())) == want


def test_xxhash64_families_agree_on_planted_corpus(spark):
    # planted corpus designed so the TRUE near-dup pair set is unambiguous
    # for any decent hash family: dup docs differ by one word in ~60,
    # all other docs share no vocabulary. The production xxhash64 family
    # and the oracle-checked md5 family must both emit exactly the
    # planted pairs — this pins the xxhash64 outputs that the driver's
    # DuckDB gate cannot reproduce (no xxhash64 in SQL).
    from pdf_to_opensearch_spark.ops.dedup import (
        minhash_near_duplicates,
        simhash_near_pairs,
    )

    rng = np.random.default_rng(21)
    words = [f"w{i:03d}" for i in range(2000)]
    docs, planted = [], set()
    did = 0
    for g in range(4):  # 4 near-dup groups of 2
        base = list(rng.choice(words, size=60, replace=False))
        var = list(base)
        var[7] = "zzz" + str(g)
        docs.append((did, " ".join(base)))
        docs.append((did + 1, " ".join(var)))
        planted.add((did, did + 1))
        did += 2
    for _ in range(12):  # unrelated docs: disjoint vocab draws
        docs.append((did, " ".join(rng.choice(words, size=60, replace=False))))
        did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")

    for fam in ("xxhash64", "md5"):
        mh = minhash_near_duplicates(df, threshold=0.7, hash_family=fam) \
            .toPandas()
        assert set(zip(mh["id_a"], mh["id_b"])) == planted, fam

    # simhash hamming<=3 needs near-identical term-FREQUENCY vectors:
    # 61 (odd) words repeated 30x — every bit's vote margin is an odd
    # multiple of 30 (never a tie), so the one-occurrence edit (delta
    # <= 2 per bit) can NEVER flip a bit: planted pairs sit at hamming 0
    # under ANY hash family, unrelated docs at ~32
    sdocs, splanted, did = [], set(), 0
    for g in range(4):
        base = list(rng.choice(words, size=61, replace=False))
        btext = " ".join(w for w in base for _ in range(30))
        vtext = btext.replace(base[7] + " ", "zzq" + str(g) + " ", 1)
        sdocs.append((did, btext))
        sdocs.append((did + 1, vtext))
        splanted.add((did, did + 1))
        did += 2
    for _ in range(12):
        sdocs.append((did, " ".join(
            w for w in rng.choice(words, size=61, replace=False)
            for _ in range(30))))
        did += 1
    sdf = spark.createDataFrame(sdocs, "doc_id long, text string")
    for fam in ("xxhash64", "md5"):
        sh = simhash_near_pairs(sdf, max_hamming=3,
                                hash_family=fam).toPandas()
        got = set(zip(sh["id_a"], sh["id_b"]))
        assert got == splanted, (fam, got)


def test_ivf_topk_recall(spark):
    # same clustered-corpus shape as the LSH recall test: cluster mates
    # co-assign to a cell, so probing 2 of 8 cells recovers most of the
    # true neighborhood
    from pdf_to_opensearch_spark.ops.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((10, 16)) * 4.0
    vecs = np.repeat(centers, 20, axis=0) + rng.standard_normal((200, 16)) * 0.05
    rows = [(i, vecs[i].tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = cosine_topk(emb, [0, 20], k=10).toPandas()
    approx = ivf_topk(emb, [0, 20], k=10, n_cells=8, n_probe=2,
                      dim=16).toPandas()
    recalls = []
    for q in (0, 20):
        e = set(exact[exact["query_id"] == q]["vec_id"])
        a = set(approx[approx["query_id"] == q]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_lang_id_on_real_sentences(spark):
    from pdf_to_opensearch_spark.ops.textstats import lang_id

    samples = [
        (0, "the cat sat on the mat and it was happy with that", "en"),
        (1, "der hund ist nicht mit der katze auf das sofa gegangen", "de"),
        (2, "el perro corre por la calle y no se detiene para nada", "es"),
        (3, "le chien est dans le jardin et il ne dort pas pour rien", "fr"),
        (4, "il cane che corre non e mai stanco per una passeggiata", "it"),
        (5, "o cachorro de estimacao que corre em um parque para brincar",
         "pt"),
        (6, "de hond is niet met de kat op de bank gaan zitten maar wel",
         "nl"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _l in samples],
                               "doc_id long, text string")
    got = lang_id(df).toPandas().set_index("doc_id")["lang_guess"]
    for i, _t, want in samples:
        assert got[i] == want, (i, got[i], want)


def test_duplicate_clusters_transitive_closure(spark):
    """Chains must close transitively: A~B, B~C ⇒ {A,B,C} one cluster
    labeled by its min id, regardless of pair order or direction."""
    from pdf_to_opensearch_spark.ops.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (21, 20), (21, 22), (22, 23)],
        "id_a long, id_b long")
    want = {(1, 1), (1, 2), (1, 3), (10, 10), (10, 11),
            (20, 20), (20, 21), (20, 22), (20, 23)}
    # driver union-find fast path AND the distributed propagation loop
    # (small_max=0 forces the latter) must agree exactly
    for small_max in (5_000_000, 0):
        got = {(r["cluster_id"], r["doc_id"])
               for r in duplicate_clusters(pairs,
                                           small_max=small_max).collect()}
        assert got == want, f"small_max={small_max}"


def test_clean_corpus_fates(spark):
    """Composed cleaning pass: every stage's fate is populated and the
    stage ORDER holds (a doc failing quality is 'quality' even if it is
    also an exact duplicate; exact beats near)."""
    from pdf_to_opensearch_spark.ops.pipeline import clean_corpus

    long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 3
    rows = [
        (1, long + "unique one ending"),
        (2, long + "unique one ending"),        # exact dup of 1
        (3, long + "unique one finale"),        # near dup of 1
        (4, "too short"),                        # quality fail
        (5, "too short"),                        # quality fail AND exact dup
        (6, long + "completely different tail words here appended now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["fate"]
           for r in clean_corpus(docs, min_tokens=20,
                                 near_threshold=0.9).collect()}
    assert out[1] == "kept"
    assert out[2] == "exact_dup"
    assert out[3] == "near_dup"
    assert out[4] == "quality"
    assert out[5] == "quality"      # quality beats exact (stage order)
    assert out[6] == "kept"


def _letter_words(rng, n: int) -> list[str]:
    """``n`` distinct lowercase 6-letter words (pass the quality gate)."""
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 6)))
    return sorted(words)


def _brute_fates(rows, min_tokens: int, min_alpha: float,
                 threshold: float) -> dict:
    """clean_corpus' contract in plain Python: quality gate, exact keeper
    = min id per text, all-pairs shingle Jaccard among exact survivors,
    union-find over pairs ≥ threshold, keeper = min id per cluster."""
    import re

    from pdf_to_opensearch_spark.analyzer import tokenize_text

    fates, keeper = {}, {}
    for i, t in sorted(rows):
        low = t.lower()
        ok = (len(re.findall("[0-9a-z]+", low)) >= min_tokens and
              len(re.sub("[^a-z]", "", low)) / max(len(t), 1) >= min_alpha)
        if not ok:
            fates[i] = "quality"
        elif t in keeper:
            fates[i] = "exact_dup"
        else:
            keeper[t] = i
    sets = {}
    for t, i in keeper.items():
        toks = tokenize_text(t)
        sets[i] = {" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)}
    parent = {i: i for i in sets}

    def root(x):
        while parent[x] != x:
            x = parent[x]
        return x

    ids = sorted(sets)
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            A, B = sets[a], sets[b]
            if A and B and len(A & B) / len(A | B) >= threshold:
                ra, rb = root(a), root(b)
                parent[max(ra, rb)] = min(ra, rb)
    for i in ids:
        fates[i] = "kept" if root(i) == i else "near_dup"
    return fates


def _planted_corpus(seed: int = 7):
    """An exact triple (10-12), an exact pair failing quality (20-21), a
    near chain 30~31~32 with 30≁32 (7 of 202 tokens respelled per step:
    J ≈ 0.81 per step, 0.65 end to end), an exact copy of the chain's head
    (33) and unrelated filler (40-51)."""
    rng = np.random.default_rng(seed)
    words = _letter_words(rng, 4000)
    draw = lambda k: list(rng.choice(words, size=k, replace=False))  # noqa
    triple = " ".join(draw(80))
    a = draw(202)
    b = list(a)
    for j in range(7):
        b[10 + 27 * j] = "zq" + b[10 + 27 * j]
    c = list(b)
    for j in range(7):
        c[23 + 27 * j] = "zx" + c[23 + 27 * j]
    rows = [(10, triple), (11, triple), (12, triple),
            (20, "too short"), (21, "too short"),
            (30, " ".join(a)), (31, " ".join(b)), (32, " ".join(c)),
            (33, " ".join(a))]
    rows += [(40 + k, " ".join(draw(90))) for k in range(12)]
    return rows


def test_clean_corpus_fates_match_brute_reference(spark):
    """clean_corpus fates equal a pure-Python reference (analyzer
    shingles, all-pairs Jaccard, union-find) on both hash families; with
    max_bucket=1 the guard drops every bucket, so no pair — and no
    near_dup — survives."""
    from pdf_to_opensearch_spark.ops.dedup import (
        duplicate_clusters,
        minhash_candidate_pairs,
        minhash_near_duplicates,
    )
    from pdf_to_opensearch_spark.ops.pipeline import clean_corpus

    rows = _planted_corpus()
    want = _brute_fates(rows, min_tokens=20, min_alpha=0.4, threshold=0.7)
    assert [want[i] for i in (10, 11, 12, 20, 21, 30, 31, 32, 33)] == [
        "kept", "exact_dup", "exact_dup", "quality", "quality",
        "kept", "near_dup", "near_dup", "exact_dup"]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fam in ("xxhash64", "md5"):
        got = {r["doc_id"]: r["fate"]
               for r in clean_corpus(docs, hash_family=fam).collect()}
        assert got == want, fam
        assert minhash_candidate_pairs(docs, max_bucket=1,
                                       hash_family=fam).count() == 0, fam
        pairs = minhash_near_duplicates(docs, max_bucket=1, hash_family=fam)
        assert pairs.count() == 0, fam
        assert duplicate_clusters(pairs).count() == 0, fam


def test_clean_corpus_job_budget(spark):
    """clean_corpus is one per-doc pass: on a 480-doc planted corpus (400
    originals, 40 exact and 40 near copies, input persisted like the
    perfbench dedup frame) one call plus its collect runs ≤ 12 Spark jobs
    (the staged pipeline it replaced ran 45), and minhash_near_duplicates
    ≤ 8 (was 19)."""
    from pdf_to_opensearch_spark.ops.dedup import minhash_near_duplicates
    from pdf_to_opensearch_spark.ops.pipeline import clean_corpus

    rng = np.random.default_rng(11)
    words = _letter_words(rng, 5000)
    texts = [" ".join(rng.choice(words, size=int(rng.integers(60, 300))))
             for _ in range(400)]
    for src in rng.choice(400, size=80, replace=False)[:40]:
        texts.append(texts[src])
    for src in rng.choice(400, size=40, replace=False):
        toks = texts[src].split()
        for j in rng.choice(len(toks), size=max(1, len(toks) // 33),
                            replace=False):
            toks[j] = str(rng.choice(words))
        texts.append(" ".join(toks))
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string").persist()
    docs.count()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(tag, fn):
        sc.setJobGroup(tag, tag)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(tracker.getJobIdsForGroup(tag))

    try:
        fates, n_clean = jobs("clean_corpus_budget",
                              lambda: clean_corpus(docs).collect())
        _pairs, n_mh = jobs("minhash_budget",
                            lambda: minhash_near_duplicates(docs))
    finally:
        docs.unpersist()
    counts = pd.Series([r["fate"] for r in fates]).value_counts()
    assert counts.get("exact_dup") == 40 and counts.get("near_dup", 0) > 0
    assert n_clean <= 12, n_clean
    assert n_mh <= 8, n_mh


def test_union_find_matches_bfs_components():
    """The driver union-find equals BFS components, root = component min,
    on random multigraphs and on a path whose ids are shuffled."""
    from pdf_to_opensearch_spark.ops.dedup import _union_find

    rng = np.random.default_rng(5)
    graphs = []
    for _ in range(30):
        n = int(rng.integers(2, 60))
        ids = rng.choice(10**9, size=n, replace=False)
        m = int(rng.integers(1, 90))
        graphs.append((ids[rng.integers(0, n, m)], ids[rng.integers(0, n, m)]))
    path = rng.permutation(2000)
    graphs.append((path[:-1], path[1:]))
    for a, b in graphs:
        adj = {}
        for x, y in zip(a.tolist(), b.tolist()):
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        want = {}
        for s0 in adj:
            if s0 in want:
                continue
            comp, todo = {s0}, [s0]
            while todo:
                for y in adj[todo.pop()] - comp:
                    comp.add(y)
                    todo.append(y)
            for x in comp:
                want[x] = min(comp)
        nodes, roots = _union_find(a, b)
        assert dict(zip(nodes.tolist(), roots.tolist())) == want


def test_duplicate_clusters_long_chain_converges_logarithmically(spark):
    """Adversarial diameter: a 1000-node path graph (diameter 999) must
    close into ONE cluster within O(log n) star rounds — the large-star/
    small-star contraction's contract (min-label propagation would need
    999 rounds and previously hit its bound silently at 20)."""
    import math

    from pdf_to_opensearch_spark.ops.dedup import duplicate_clusters

    n = 1000
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    out = duplicate_clusters(pairs, small_max=0)
    rows = out.collect()
    assert out._cc_converged
    assert out._cc_rounds <= 2 * math.log2(n)
    assert {int(r["doc_id"]) for r in rows} == set(range(n))
    assert {int(r["cluster_id"]) for r in rows} == {0}


def test_ann_space_types(spark):
    """knn space_type parity (the reference mapping's l2 default and ip
    option): l2 ranks == brute euclidean asc with score 1/(1+d²);
    innerproduct ranks == brute dot desc; cosine unchanged."""
    import numpy as np
    import pandas as pd

    from pdf_to_opensearch_spark.ops.similarity import cosine_topk

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(60, 16))
    pdf = pd.DataFrame({"vec_id": np.arange(60),
                        "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf)
    qids = [0, 5]
    for space in ("l2", "innerproduct"):
        got = (cosine_topk(emb, qids, k=5, space=space).toPandas()
               .sort_values(["query_id", "rank"], ignore_index=True))
        for q in qids:
            if space == "l2":
                d = np.linalg.norm(vecs - vecs[q], axis=1)
                score = 1.0 / (1.0 + d * d)
            else:
                score = vecs @ vecs[q]
            order = [i for i in np.lexsort((np.arange(60), -score))
                     if i != q][:5]
            sub = got[got.query_id == q]
            assert list(sub.vec_id) == order, space
            np.testing.assert_allclose(
                sub.sim.to_numpy(),
                np.round(score[order], 6), atol=1e-6)
    import pytest as _pt
    with _pt.raises(ValueError):
        cosine_topk(emb, qids, k=5, space="hamming")
