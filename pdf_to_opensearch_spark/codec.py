"""Posting-list block codec: delta + LEB128 varint, block-max metadata.

Replaces the Lucene postings formats that sat invisibly behind the
reference's bulk indexing (reference: opensearch_loader.py:372-384). All
encode/decode paths are numpy-vectorized: the loops below iterate over
*byte positions* (≤10) or *blocks*, never over individual postings.

Layout per (term, doc-range-partition) row:
    doc_ids : varint(delta(doc_ids))        — doc_ids sorted ascending;
              first delta is vs ``first_doc_id`` stored in the row
    tfs     : varint(tf - 1)                — term frequencies ≥ 1
    dls     : varint(dl)                    — per-posting doc length (token
              count), inlined Lucene-norms-style so BM25 scoring needs no
              doc_stats join at query time
    block_max_tf / block_min_dl : uint32[ceil(n/BLOCK)] — per 128-posting
              block; tf_norm(max_tf, min_dl, avgdl)·idf upper-bounds every
              score contribution in the block at ANY avgdl (tf_norm is
              monotone ↑ in tf, ↓ in dl) — block-max pruning, BMW family,
              robust to corpus-stat drift from appends/deletes
"""

from __future__ import annotations

import numpy as np

from . import BM25_B, BM25_K1

BLOCK = 128


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative integer array (vectorized over byte slots)."""
    a = np.asarray(values, dtype=np.uint64)
    if a.size == 0:
        return b""
    nb = np.ones(a.shape, dtype=np.int64)
    v = a >> np.uint64(7)
    while v.any():
        nb += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    starts = np.cumsum(nb) - nb
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    v = a.copy()
    for k in range(int(nb.max())):
        mask = nb > k
        idx = starts[mask] + k
        byte = (v[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] > k + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        v >>= np.uint64(7)
    return out.tobytes()


def decode_varint(buf) -> np.ndarray:
    """Decode LEB128 bytes (``bytes`` or a uint8 array) to a uint64 array
    (vectorized: one pass finds the terminator bytes, then one pass per
    byte slot over the values that still have a byte there)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    last = b < 0x80  # a value ends at a byte without the 0x80 flag
    if last.all():
        return b.astype(np.uint64)  # every value is one byte
    ends = np.flatnonzero(last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    out = (b[starts] & 0x7F).astype(np.uint64)
    more = ends - starts
    idx = np.flatnonzero(more)
    k = 1
    while idx.size:
        out[idx] |= ((b[starts[idx] + k] & 0x7F).astype(np.uint64)
                     << np.uint64(7 * k))
        idx = idx[more[idx] > k]
        k += 1
    return out


def tf_norm(tfs: np.ndarray, dls: np.ndarray, avgdl: float,
            k1: float = BM25_K1, b: float = BM25_B) -> np.ndarray:
    """BM25 per-posting factor (everything except idf):
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))."""
    tfs = tfs.astype(np.float64)
    dls = dls.astype(np.float64)
    return tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def block_meta(tfs: np.ndarray, dls: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-BLOCK (max_tf, min_dl) — the block-max metadata.

    ``tf_norm(max_tf, min_dl, avgdl)`` upper-bounds every posting in the
    block at ANY avgdl (tf_norm is monotone ↑ in tf and ↓ in dl), so
    block-max pruning stays sound when corpus stats drift after
    appends/deletes.
    """
    n = tfs.size
    nblocks = (n + BLOCK - 1) // BLOCK
    tf_pad = np.zeros(nblocks * BLOCK, dtype=np.int64)
    tf_pad[:n] = tfs
    dl_pad = np.full(nblocks * BLOCK, np.iinfo(np.int64).max, dtype=np.int64)
    dl_pad[:n] = dls
    return (tf_pad.reshape(nblocks, BLOCK).max(axis=1),
            dl_pad.reshape(nblocks, BLOCK).min(axis=1))


def encode_positions(positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode flat per-posting term positions (sorted within each doc).

    ``positions`` holds the concatenated position lists of every posting in
    doc order; ``tfs`` gives the per-doc counts. Within-doc delta encoding
    with an absolute value at each doc boundary, then varint — vectorized
    (boundary reset via index assignment, no per-doc loop).
    """
    positions = np.asarray(positions, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if positions.size == 0:
        return b""
    deltas = positions.copy()
    deltas[1:] -= positions[:-1]
    starts = np.cumsum(tfs) - tfs  # first flat index of each doc's run
    deltas[starts] = positions[starts]  # absolute at each doc boundary
    return encode_varint(deltas)


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions`: flat absolute positions."""
    deltas = decode_varint(buf).astype(np.int64)
    if deltas.size == 0:
        return deltas
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.cumsum(tfs) - tfs
    # segment-local cumsum: global cumsum minus the carried-over prefix
    csum = np.cumsum(deltas)
    carry = np.zeros_like(deltas)
    carry[starts[1:]] = csum[starts[1:] - 1]
    return csum - np.maximum.accumulate(carry)


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    positions: np.ndarray | None = None) -> dict:
    """Encode one (term, partition) posting run. ``doc_ids`` must be sorted;
    ``positions`` (optional) is the flat per-doc position array for the
    positional (match_phrase) index."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    first = int(doc_ids[0]) if doc_ids.size else 0
    deltas = np.empty_like(doc_ids)
    if doc_ids.size:
        deltas[0] = 0
        np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
    bmax_tf, bmin_dl = block_meta(tfs, dls)
    return {
        "first_doc_id": first,
        "n": int(doc_ids.size),
        "doc_ids": encode_varint(deltas),
        "tfs": encode_varint(tfs - 1),
        "dls": encode_varint(dls),
        "poss": (encode_positions(positions, tfs)
                 if positions is not None else b""),
        "block_max_tf": bmax_tf.astype("<u4").tobytes(),
        "block_min_dl": bmin_dl.astype("<u4").tobytes(),
        "max_tf": int(tfs.max()) if tfs.size else 0,
        "cf": int(tfs.sum()),
    }


def decode_postings(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a posting row (mapping or pandas row) → (doc_ids, tfs, dls)."""
    deltas = decode_varint(row["doc_ids"]).astype(np.int64)
    doc_ids = np.cumsum(deltas) + row["first_doc_id"]
    tfs = decode_varint(row["tfs"]).astype(np.int64) + 1
    dls = decode_varint(row["dls"]).astype(np.int64)
    return doc_ids, tfs, dls


def decode_block_meta(btf: bytes, bdl: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of the block metadata encoding → (max_tf, min_dl) int64."""
    return (np.frombuffer(btf, dtype="<u4").astype(np.int64),
            np.frombuffer(bdl, dtype="<u4").astype(np.int64))


def _varint_byte_bounds(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(encoded bytes as uint8 array, per-value start offsets incl. end)."""
    a = np.asarray(values, dtype=np.uint64)
    if a.size == 0:
        return np.empty(0, np.uint8), np.zeros(1, np.int64)
    nb = np.ones(a.shape, dtype=np.int64)
    v = a >> np.uint64(7)
    while v.any():
        nb += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    bounds = np.zeros(a.size + 1, dtype=np.int64)
    np.cumsum(nb, out=bounds[1:])
    starts = bounds[:-1]
    out = np.zeros(int(bounds[-1]), dtype=np.uint8)
    v = a.copy()
    for k in range(int(nb.max())):
        mask = nb > k
        idx = starts[mask] + k
        byte = (v[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] > k + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        v >>= np.uint64(7)
    return out, bounds


def encode_varint_segmented(values: np.ndarray,
                            seg_bounds: np.ndarray) -> list[bytes]:
    """Varint-encode ``values`` once, then split into per-segment bytes.

    ``seg_bounds``: value-index boundaries, len n_segments+1. One
    vectorized encode pass regardless of segment count — the per-segment
    work is a memory slice (replaces per-group ``encode_varint`` calls
    whose fixed numpy overhead dominated the SPIMI kernel).
    """
    out, bounds = _varint_byte_bounds(values)
    seg_bounds = np.asarray(seg_bounds, dtype=np.int64)
    byte_bounds = bounds[seg_bounds]
    return [out[byte_bounds[i]:byte_bounds[i + 1]].tobytes()
            for i in range(seg_bounds.size - 1)]


def encode_postings_batch(run_doc: np.ndarray, run_tf: np.ndarray,
                          run_dl: np.ndarray, pos: np.ndarray,
                          pos_run_starts: np.ndarray,
                          g_starts: np.ndarray, g_ends: np.ndarray) -> dict:
    """Batch-encode every (term, range) group of a SPIMI partition at once.

    Inputs are partition-global run-level arrays sorted by (term, doc):
    ``run_doc/run_tf/run_dl`` one entry per posting, ``pos`` the flat token
    positions with ``pos_run_starts`` marking each posting's slice start,
    ``g_starts/g_ends`` the run-index boundaries of each output group.

    Returns dict of per-group lists/arrays: doc_ids, tfs, dls, poss,
    block_max_tf, block_min_dl (bytes), first_doc, n, cf, max_tf.
    """
    n_groups = g_starts.size
    total_runs = run_doc.size
    # --- doc deltas: global diff, reset to 0 at each group start ---------
    deltas = np.empty_like(run_doc)
    if total_runs:
        deltas[0] = 0
        np.subtract(run_doc[1:], run_doc[:-1], out=deltas[1:])
        deltas[g_starts] = 0
    seg = np.append(g_starts, total_runs)
    doc_blobs = encode_varint_segmented(deltas, seg)
    tf_blobs = encode_varint_segmented(run_tf - 1, seg)
    dl_blobs = encode_varint_segmented(run_dl, seg)
    # --- positions: within-doc deltas, absolute at each doc boundary -----
    if pos.size:
        pdeltas = pos.copy()
        pdeltas[1:] -= pos[:-1]
        pdeltas[pos_run_starts] = pos[pos_run_starts]
        pos_seg = np.append(pos_run_starts[g_starts],
                            pos.size)
        pos_blobs = encode_varint_segmented(pdeltas, pos_seg)
    else:
        pos_blobs = [b""] * n_groups
    # --- block metadata: per-128-posting-block (max_tf, min_dl) ----------
    # tf_norm is monotone increasing in tf and decreasing in dl, so
    # tf_norm(max_tf, min_dl, avgdl) upper-bounds every posting in the
    # block AT ANY avgdl — pruning stays sound after appends/deletes shift
    # corpus stats (unlike a stored precomputed norm).
    g_sizes = g_ends - g_starts
    rel = np.arange(total_runs, dtype=np.int64) - np.repeat(g_starts, g_sizes)
    block_starts = np.flatnonzero((rel % BLOCK) == 0)
    bmax_tf = (np.maximum.reduceat(run_tf, block_starts)
               if total_runs else np.empty(0, np.int64))
    bmin_dl = (np.minimum.reduceat(run_dl, block_starts)
               if total_runs else np.empty(0, np.int64))
    blocks_per_group = (g_sizes + BLOCK - 1) // BLOCK
    bb = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(blocks_per_group, out=bb[1:])
    bmax_tf32 = bmax_tf.astype("<u4")
    bmin_dl32 = bmin_dl.astype("<u4")
    btf_blobs = [bmax_tf32[bb[i]:bb[i + 1]].tobytes() for i in range(n_groups)]
    bdl_blobs = [bmin_dl32[bb[i]:bb[i + 1]].tobytes() for i in range(n_groups)]
    max_tf = np.maximum.reduceat(run_tf, g_starts) if total_runs else \
        np.empty(0, np.int64)
    cf = np.add.reduceat(run_tf, g_starts) if total_runs else np.empty(0)
    return {
        "doc_ids": doc_blobs, "tfs": tf_blobs, "dls": dl_blobs,
        "poss": pos_blobs, "block_max_tf": btf_blobs,
        "block_min_dl": bdl_blobs,
        "first_doc": run_doc[g_starts], "n": g_sizes, "cf": cf,
        "max_tf": max_tf.astype(np.int64),
    }
