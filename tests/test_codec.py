"""Property/roundtrip tests for the posting-block codec (SURVEY.md §5.1)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_opensearch_spark.codec import (
    BLOCK,
    block_meta,
    decode_block_meta,
    decode_postings,
    decode_varint,
    encode_postings,
    encode_varint,
    tf_norm,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    a = np.array(values, dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(a)), a)


def test_varint_empty():
    assert encode_varint(np.array([], dtype=np.uint64)) == b""
    assert decode_varint(b"").size == 0


def test_varint_boundaries():
    a = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**62],
                 dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(a)), a)


@given(
    st.lists(st.integers(min_value=1, max_value=10**7), min_size=1, max_size=500),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(gaps, data):
    doc_ids = np.cumsum(np.array(gaps, dtype=np.int64))
    n = doc_ids.size
    tfs = np.array(data.draw(st.lists(
        st.integers(min_value=1, max_value=1000), min_size=n, max_size=n)),
        dtype=np.int64)
    dls = np.array(data.draw(st.lists(
        st.integers(min_value=1, max_value=5000), min_size=n, max_size=n)),
        dtype=np.int64)
    enc = encode_postings(doc_ids, tfs, dls)
    d_ids, d_tfs, d_dls = decode_postings(enc)
    assert np.array_equal(d_ids, doc_ids)
    assert np.array_equal(d_tfs, tfs)
    assert np.array_equal(d_dls, dls)
    assert enc["n"] == n
    assert enc["cf"] == int(tfs.sum())


def test_block_meta_bounds_every_posting_at_any_avgdl():
    rng = np.random.default_rng(0)
    n = 1000
    tfs = rng.integers(1, 50, n)
    dls = rng.integers(10, 500, n)
    bmax_tf, bmin_dl = block_meta(tfs, dls)
    assert bmax_tf.size == (n + BLOCK - 1) // BLOCK
    for avgdl in (15.0, 120.0, 480.0):
        ub = tf_norm(bmax_tf, bmin_dl, avgdl)
        norms = tf_norm(tfs, dls, avgdl)
        for b in range(bmax_tf.size):
            blk = norms[b * BLOCK:(b + 1) * BLOCK]
            assert ub[b] >= blk.max() - 1e-12
    # roundtrip through the storage encoding
    rt_tf, rt_dl = decode_block_meta(bmax_tf.astype("<u4").tobytes(),
                                     bmin_dl.astype("<u4").tobytes())
    assert np.array_equal(rt_tf, bmax_tf)
    assert np.array_equal(rt_dl, bmin_dl)


def test_encode_empty_postings():
    enc = encode_postings(np.array([], dtype=np.int64),
                          np.array([], dtype=np.int64),
                          np.array([], dtype=np.int64))
    ids, tfs, dls = decode_postings(enc)
    assert ids.size == tfs.size == dls.size == 0


@st.composite
def _posting_rows(draw):
    """Encoded (term, range) rows of one range: sorted doc ids in a shared
    span, tfs, dls and per-doc sorted positions (some rows empty)."""
    rows = []
    for i in range(draw(st.integers(min_value=1, max_value=8))):
        ids = np.array(sorted(draw(st.sets(
            st.integers(min_value=500, max_value=900), max_size=60))),
            dtype=np.int64)
        tfs = np.array([draw(st.integers(min_value=1, max_value=4))
                        for _ in ids], dtype=np.int64)
        dls = 10 + ids % 7
        poss = np.concatenate([np.sort(np.random.default_rng(d).choice(
            10, size=tf, replace=False)) for d, tf in zip(ids, tfs)]
            + [np.empty(0, np.int64)])
        rows.append({"term": f"t{i}", "range_id": 0, "bucket": 0,
                     **encode_postings(ids, tfs, dls, poss),
                     "positions": poss})
    return rows


@given(_posting_rows(), st.integers(min_value=1, max_value=64),
       st.integers(min_value=0, max_value=2))
@settings(max_examples=100, deadline=None)
def test_decoded_range_matches_per_row_decode(rows, chunk, skip):
    """A :class:`PostingsRange` — whole-range decode in chunks of rows,
    from a sliced Arrow table or from a pandas group — gives every row's
    postings, doc columns and positions exactly as the per-row decode."""
    import pyarrow as pa

    from pdf_to_opensearch_spark import query
    from pdf_to_opensearch_spark.codec import decode_positions
    from pdf_to_opensearch_spark.indexer import _postings_arrow_schema

    schema = _postings_arrow_schema()
    pad = [dict(rows[0], term="pad")] * skip
    tbl = pa.Table.from_pylist(
        [{c: r.get(c, 0) for c in schema.names} for r in pad + rows],
        schema=schema).slice(skip)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(query, "DECODE_CHUNK_BYTES", chunk)
        ranges = [query.PostingsRange(tbl),
                  query.PostingsRange.from_pandas(tbl.to_pandas())]
        for rng in ranges:  # decode under the patched chunk size
            rng.ids, rng.tfs, rng.dls
    for rng in ranges:
        for r in rows:
            want = decode_postings(r)
            if not r["n"]:
                assert r["term"] not in rng
                continue
            for got, exp in zip(rng.postings(r["term"]), want):
                assert np.array_equal(got, exp)
            assert np.array_equal(rng.col[rng.span(r["term"])] + rng.lo,
                                  want[0])
            keys = rng.positions(r["term"])
            assert np.array_equal(keys >> np.uint64(24),
                                  np.repeat(want[0], want[1]))
            assert np.array_equal(
                keys & np.uint64((1 << 24) - 1),
                decode_positions(r["poss"], want[1]))
        live = [r["first_doc_id"] for r in rows if r["n"]]
        assert rng.lo == (min(live) if live else 0)
        assert rng.width == (rng.ids.max() - rng.lo + 1 if live else 0)
