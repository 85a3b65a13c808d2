"""Posting-list compression: delta + varbyte, with block-max metadata.

Pure-numpy kernels (no Python per-element loops on the hot path) invoked
from inside ``mapInPandas`` during the index build. Format:

- doc ids: strictly increasing int64 → first-order deltas (first value kept
  absolute) → varbyte (7-bit groups, little-endian, MSB=1 means "more").
- tfs and doclens: positive ints → varbyte directly.
- block-max: for each block of ``block_size`` postings, the maximum
  *unboosted* BM25 term contribution ``idf * tf_norm(tf, dl)`` (float64 — an
  admissible upper bound used by block-max WAND) plus the last doc id of the
  block (the skip pointer).

No reference analog — specified by BASELINE.json north_star ("per-partition
sorted posting lists delta-encoded with varbyte and block-max metadata").
"""

from __future__ import annotations

import numpy as np

from dlkp_spark.config import BM25Params


def _varbyte_encode_arr(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte encode → (uint8 byte array, bytes-per-value).

    The per-value byte counts let callers slice the stream into
    sub-streams (varbyte is self-delimiting, so the concatenation of
    per-group slices is exactly the per-group encodings)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    # number of 7-bit groups per value (at least 1)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        live = tmp > 0
        if not live.any():
            break
        nbits[live] += 1
        tmp = tmp >> np.uint64(7)
    ngroups = np.maximum(nbits, 1)
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    # write groups least-significant first; set MSB on all but final group
    ends = np.cumsum(ngroups)
    starts = ends - ngroups
    # positions within each value's group run
    pos = np.arange(total) - np.repeat(starts, ngroups)
    rep = np.repeat(v, ngroups)
    shifted = rep >> (pos.astype(np.uint64) * np.uint64(7))
    bytes7 = (shifted & np.uint64(0x7F)).astype(np.uint8)
    is_last = pos == np.repeat(ngroups - 1, ngroups)
    out[:] = np.where(is_last, bytes7, bytes7 | np.uint8(0x80))
    return out, ngroups


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array."""
    out, _ = _varbyte_encode_arr(values)
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # group index of each byte = count of completed values before it
    value_id = np.zeros(b.size, dtype=np.int64)
    value_id[1:] = np.cumsum(is_last)[:-1]
    n_values = int(is_last.sum())
    # position of byte within its value
    starts_mask = np.ones(b.size, dtype=bool)
    starts_mask[1:] = is_last[:-1]
    start_idx = np.flatnonzero(starts_mask)
    pos = np.arange(b.size) - np.repeat(start_idx, np.diff(np.append(start_idx, b.size)))
    contrib = (b & 0x7F).astype(np.uint64) << (pos.astype(np.uint64) * np.uint64(7))
    out = np.zeros(n_values, dtype=np.uint64)
    np.add.at(out, value_id, contrib)
    return out


def varbyte_decode_concat(buffers) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY varbyte streams in one vectorized pass.

    Varbyte is self-delimiting (a value always ends on a MSB=0 byte), so
    the concatenation of complete streams decodes exactly like one stream;
    per-stream value counts are recovered from terminator-byte prefix sums
    over each buffer's byte range. Returns (values uint64 flat, counts
    int64 per buffer).

    Why: the query kernels decode ~10^3 tiny posting rows per segment —
    per-call numpy overhead (a dozen small-array ops per row × 3 columns)
    measured ~0.2 ms/row, dominating segment decode time. One pass over
    the concatenated bytes amortizes it away.
    """
    lens = np.fromiter((len(b) for b in buffers), dtype=np.int64,
                       count=len(buffers))
    buf = b"".join(buffers)
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(len(lens), dtype=np.int64)
    is_last = (b & 0x80) == 0
    value_id = np.zeros(b.size, dtype=np.int64)
    value_id[1:] = np.cumsum(is_last)[:-1]
    n_values = int(is_last.sum())
    starts_mask = np.ones(b.size, dtype=bool)
    starts_mask[1:] = is_last[:-1]
    start_idx = np.flatnonzero(starts_mask)
    pos = np.arange(b.size) - np.repeat(
        start_idx, np.diff(np.append(start_idx, b.size)))
    contrib = (b & 0x7F).astype(np.uint64) << (pos.astype(np.uint64) * np.uint64(7))
    out = np.zeros(n_values, dtype=np.uint64)
    np.add.at(out, value_id, contrib)
    cum_last = np.concatenate(([0], np.cumsum(is_last)))
    ends = np.cumsum(lens)
    counts = cum_last[ends] - cum_last[ends - lens]
    return out, counts


def decode_docs_batch(docs_vbs) -> tuple[np.ndarray, np.ndarray]:
    """Batched doc-id decode of many delta+varbyte blobs → flat (doc_ids
    int64, counts int64), laid out as in :func:`decode_postings_batch`.

    The delta decode runs as one global cumsum with each list's prefix
    offset subtracted — integer arithmetic, so every list is bit-identical
    to ``delta_decode(varbyte_decode(blob))``.
    """
    gaps, counts = varbyte_decode_concat(docs_vbs)
    cs = np.cumsum(gaps.astype(np.int64))
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    # np.where evaluates cs[starts - 1] eagerly: when EVERY blob is empty,
    # cs is empty while starts is all zeros and the -1 index would raise —
    # guard with masked copyto (encode_postings never emits empty lists,
    # but future callers may hand fully-empty batches)
    offsets = np.zeros(len(starts), dtype=np.int64)
    np.copyto(offsets, cs[starts - 1] if cs.size else offsets,
              where=starts > 0)
    return cs - np.repeat(offsets, counts), counts


def decode_postings_batch(docs_vbs, tfs_vbs, dls_vbs) -> tuple[
        np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batched :func:`decode_postings` over aligned blob sequences.

    Returns flat (doc_ids int64, tfs int64, dls int64, counts int64);
    list ``i`` occupies the slice ``[offsets[i], offsets[i]+counts[i])``
    with ``offsets = concatenate(([0], cumsum(counts)[:-1]))``. Per-list
    values are bit-identical to decode_postings (pytest-pinned).
    """
    docs, counts = decode_docs_batch(docs_vbs)
    tfs, c2 = varbyte_decode_concat(tfs_vbs)
    dls, c3 = varbyte_decode_concat(dls_vbs)
    assert np.array_equal(counts, c2) and np.array_equal(counts, c3), \
        "posting columns disagree on list lengths — corrupt row"
    return docs, tfs.astype(np.int64), dls.astype(np.int64), counts


def delta_encode(doc_ids: np.ndarray) -> np.ndarray:
    d = np.asarray(doc_ids, dtype=np.int64)
    out = np.empty_like(d)
    out[0:1] = d[0:1]
    out[1:] = d[1:] - d[:-1]
    return out.astype(np.uint64)


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(deltas.astype(np.int64))


def tf_norm_vec(tfs: np.ndarray, dls: np.ndarray, avgdl: float, p: BM25Params) -> np.ndarray:
    """Vectorized BM25 tf normalization, float64, fixed op order (matches
    oracle.tf_norm expression-for-expression)."""
    tfs = tfs.astype(np.float64)
    dls = dls.astype(np.float64)
    return (tfs * (p.k1 + 1.0)) / (tfs + p.k1 * (1.0 - p.b + p.b * dls / avgdl))


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    idf: float, avgdl: float, p: BM25Params,
                    block_size: int = 64) -> dict:
    """Encode one (term, field, segment) posting list (doc ids sorted asc).

    Returns dict with binary blobs + block-max arrays + stats.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    assert doc_ids.size > 0 and bool(np.all(np.diff(doc_ids) > 0)), "doc ids must be strictly increasing"
    contribs = idf * tf_norm_vec(np.asarray(tfs), np.asarray(dls), avgdl, p)
    n = doc_ids.size
    nblocks = (n + block_size - 1) // block_size
    pad = nblocks * block_size - n
    cpad = np.pad(contribs, (0, pad), constant_values=-np.inf)
    block_max = cpad.reshape(nblocks, block_size).max(axis=1)
    block_last = doc_ids[np.minimum(np.arange(1, nblocks + 1) * block_size - 1, n - 1)]
    return {
        "docs_vb": varbyte_encode(delta_encode(doc_ids)),
        "tfs_vb": varbyte_encode(np.asarray(tfs, dtype=np.uint64)),
        "dls_vb": varbyte_encode(np.asarray(dls, dtype=np.uint64)),
        "block_max": block_max.tolist(),
        "block_last": block_last.tolist(),
        "n_postings": int(n),
        "max_contrib": float(contribs.max()),
    }


def encode_postings_multi(doc_ids: np.ndarray, tfs: np.ndarray,
                          dls: np.ndarray, starts: np.ndarray,
                          ends: np.ndarray, idfs: np.ndarray,
                          avgdls: np.ndarray, p: BM25Params,
                          block_size: int = 64) -> dict:
    """Encode MANY (term, field, segment) groups in one vectorized pass.

    ``doc_ids``/``tfs``/``dls`` are the groups' postings concatenated in
    group order (doc ids sorted asc WITHIN each group); ``starts``/
    ``ends`` delimit group ``g`` as ``[starts[g], ends[g])`` with groups
    contiguous (``ends[g] == starts[g+1]``); ``idfs``/``avgdls`` are
    per-group scalars. Returns dict-of-lists, one entry per group, with
    the exact fields of :func:`encode_postings`.

    Why (r6, guide §4.2): the build/merge kernels called
    :func:`encode_postings` once per group — ~8 small-array numpy calls
    each across ~10^5 tiny groups per partition, so per-call dispatch
    dominated encode time. Here delta/varbyte/contrib/block-max run ONCE
    over the flat arrays; per-group work shrinks to slicing the shared
    byte stream (varbyte is self-delimiting, so slices equal per-group
    encodings byte-for-byte). Outputs are bit-identical to the per-group
    encoder (pinned by tests/test_codec.py::test_encode_postings_multi_
    matches_single): delta/varbyte are integer-exact, and the float
    contrib arithmetic performs the same elementwise IEEE ops with the
    per-group scalars broadcast per element.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    counts = ends - starts
    assert doc_ids.size and bool(np.all(counts > 0)), "empty group"
    # strictly-increasing doc ids within every group, one vectorized check
    d = np.diff(doc_ids)
    bad = d <= 0
    bad[starts[1:] - 1] = False
    assert not bad.any(), "doc ids must be strictly increasing"

    deltas = np.empty_like(doc_ids)
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    deltas[starts] = doc_ids[starts]

    idf_v = np.repeat(np.asarray(idfs, dtype=np.float64), counts)
    avgdl_v = np.repeat(np.asarray(avgdls, dtype=np.float64), counts)
    contribs = idf_v * tf_norm_vec(tfs, dls, avgdl_v, p)

    # per-group block boundaries, flat: group g owns nblocks[g] blocks
    nblocks = (counts + block_size - 1) // block_size
    tot_blocks = int(nblocks.sum())
    b0 = np.concatenate(([0], np.cumsum(nblocks)))
    blk_in_group = np.arange(tot_blocks) - np.repeat(b0[:-1], nblocks)
    rep_starts = np.repeat(starts, nblocks)
    blk_starts = rep_starts + blk_in_group * block_size
    block_max_flat = np.maximum.reduceat(contribs, blk_starts)
    last_local = np.minimum((blk_in_group + 1) * block_size - 1,
                            np.repeat(counts, nblocks) - 1)
    block_last_flat = doc_ids[rep_starts + last_local]
    max_contrib = np.maximum.reduceat(contribs, starts)

    out: dict[str, list] = {
        "docs_vb": [], "tfs_vb": [], "dls_vb": [],
        "block_max": [], "block_last": [],
        "n_postings": counts.tolist(),
        "max_contrib": max_contrib.tolist(),
    }
    for col, vals in (("docs_vb", deltas.astype(np.uint64)),
                      ("tfs_vb", tfs.astype(np.uint64)),
                      ("dls_vb", dls.astype(np.uint64))):
        buf, nbytes = _varbyte_encode_arr(vals)
        cb = np.concatenate(([0], np.cumsum(nbytes)))
        raw = buf.tobytes()
        lo, hi = cb[starts], cb[ends]
        out[col] = [raw[a:b] for a, b in zip(lo.tolist(), hi.tolist())]
    bm = block_max_flat.tolist()
    bl = block_last_flat.tolist()
    for g in range(len(starts)):
        out["block_max"].append(bm[b0[g]:b0[g + 1]])
        out["block_last"].append(bl[b0[g]:b0[g + 1]])
    return out


def decode_postings(docs_vb: bytes, tfs_vb: bytes, dls_vb: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """→ (doc_ids int64 asc, tfs int64, dls int64)."""
    doc_ids = delta_decode(varbyte_decode(docs_vb))
    tfs = varbyte_decode(tfs_vb).astype(np.int64)
    dls = varbyte_decode(dls_vb).astype(np.int64)
    return doc_ids, tfs, dls


def encode_positions(flat_pos: np.ndarray, counts: np.ndarray) -> bytes:
    """Encode per-doc token-position lists (opt-in positional index).

    ``flat_pos`` is every doc's strictly-increasing positions concatenated
    in posting (doc asc) order; ``counts`` is positions-per-doc (== tf).
    Per-doc delta coding: each doc's first position is absolute, the rest
    are gaps — one varbyte stream for the whole list, symmetric with the
    doc-id column.
    """
    flat_pos = np.asarray(flat_pos, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    assert int(counts.sum()) == flat_pos.size, "counts disagree with positions"
    if flat_pos.size == 0:
        return varbyte_encode(np.empty(0, dtype=np.uint64))
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    deltas = np.empty_like(flat_pos)
    deltas[1:] = flat_pos[1:] - flat_pos[:-1]
    deltas[starts] = flat_pos[starts]
    assert bool(np.all(deltas >= 0)), "positions must be sorted per doc"
    return varbyte_encode(deltas.astype(np.uint64))


def decode_positions(pos_vb: bytes, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions` → flat absolute positions.

    ``counts`` must be the posting list's tf column (positions per doc).
    Same global-cumsum-minus-prefix-offset trick as the batched doc-id
    decode — integer-exact.
    """
    counts = np.asarray(counts, dtype=np.int64)
    vals = varbyte_decode(pos_vb).astype(np.int64)
    assert int(counts.sum()) == vals.size, "counts disagree with pos blob"
    if vals.size == 0:
        return vals
    cs = np.cumsum(vals)
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    offsets = np.zeros(len(starts), dtype=np.int64)
    np.copyto(offsets, cs[starts - 1] if cs.size else offsets,
              where=starts > 0)
    return cs - np.repeat(offsets, counts)
