"""Varbyte + delta posting-list codec, numpy-vectorized.

Re-expresses the reference codec semantics from scratch:

- varbyte uint encoding: 7-bit groups, big-endian group order, high bit
  set on every non-final byte (ref lib/invertedindex/encoder.go:15-26;
  golden vectors lib/invertedindex/encode_decode_test.go:11-43).
- posting-list layout: ``count, then per posting: doc, n_positions,
  positions...`` (ref lib/invertedindex/encoder.go:28-65,
  decoder.go:17-55).

Two modes:

- ``delta=False`` — absolute values. Byte-compatibility with the
  reference holds for the single-uint varbyte golden vectors only:
  the reference's EncodePostingList walks its Push-prepended list in
  DESCENDING docID order (encoder.go reversePostingList), while this
  engine stores postings ascending, so whole posting-list blobs are
  NOT byte-identical even in absolute mode (order divergence, on top
  of the delta divergence below).
- ``delta=True``  — the engine's storage mode: doc ids are
  delta-encoded across postings and positions are delta-encoded within
  a posting before varbyte (north-rule requirement; the reference
  stores absolutes — divergence documented here and in SURVEY.md A6).

All functions operate on numpy arrays so they can run inside Arrow
batches (pandas UDFs) without per-row Python.
"""

from __future__ import annotations

import numpy as np

_MASK = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def varbyte_encode_with_ends(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode + return the exclusive byte end-offset of every value
    (lets callers slice the stream at arbitrary value boundaries)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    out, ends = _encode_core(v)
    return out, ends


def varbyte_encode(values: np.ndarray) -> np.ndarray:
    """Encode a uint64 array into a flat uint8 varbyte stream."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8)
    return _encode_core(v)[0]


def _encode_core(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    # number of 7-bit groups per value (v=0 -> 1 group)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 7
        tmp[nz] >>= np.uint64(7)
    ngroups = np.maximum(nbits // 7, 1)
    ends = np.cumsum(ngroups)  # exclusive end offset of each value
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    cont = np.zeros(total, dtype=bool)
    # byte position k counted from the END of each value's encoding:
    # k=0 is the final (low) byte, k=1 the next-higher group, ...
    maxg = int(ngroups.max())
    for k in range(maxg):
        sel = ngroups > k
        idx = ends[sel] - 1 - k
        out[idx] = ((v[sel] >> np.uint64(7 * k)) & _MASK).astype(np.uint8)
        if k > 0:
            cont[idx] = True
    out[cont] |= _CONT
    return out, ends


def varbyte_decode(data: np.ndarray | bytes) -> np.ndarray:
    """Decode a varbyte stream back into a uint64 array."""
    return varbyte_decode_runs(data, np.empty(0, dtype=np.int64))[0]


def varbyte_decode_runs(
    data: np.ndarray | bytes, starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a stream that is several varbyte runs joined, the run i
    beginning at byte ``starts[i]``: -> (values, the index of each
    run's first value), from one pass over the bytes."""
    b = np.frombuffer(bytes(data), dtype=np.uint8) if not isinstance(data, np.ndarray) else data
    if b.size == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    is_end = (b & _CONT) == 0
    # value id of each byte: number of terminators strictly before it
    vid = np.zeros(b.size, dtype=np.int64)
    np.cumsum(is_end[:-1], out=vid[1:])
    nvals = int(is_end.sum())
    ends = np.flatnonzero(is_end)  # index of final byte per value
    # shift of each byte = 7 * (distance from its value's final byte)
    shift = (ends[vid] - np.arange(b.size)) * 7
    vals = np.zeros(nvals, dtype=np.uint64)
    np.add.at(vals, vid, (b & np.uint8(0x7F)).astype(np.uint64) << shift.astype(np.uint64))
    return vals, vid[starts]


def encode_posting_list(
    doc_ids: np.ndarray,
    position_lists: list[np.ndarray],
    delta: bool = True,
) -> bytes:
    """Encode one term's postings (docID-ascending) into a blob.

    Layout (pre-varbyte uint stream, ref encoder.go:28-65):
    ``count, doc_0, npos_0, pos..., doc_1, npos_1, pos..., ...``
    In delta mode doc_i is stored as doc_i - doc_{i-1} (first absolute)
    and positions as in-list deltas (first absolute).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    n = doc_ids.size
    if n == 0:
        return bytes(varbyte_encode(np.zeros(1, dtype=np.uint64)))
    if n > 1 and not (doc_ids[1:] > doc_ids[:-1]).all():
        raise ValueError("doc_ids must be strictly ascending")  # ref postinglist.go:96-106
    npos = np.array([len(p) for p in position_lists], dtype=np.uint64)
    flat_pos = (
        np.concatenate([np.asarray(p, dtype=np.uint64) for p in position_lists])
        if position_lists
        else np.empty(0, dtype=np.uint64)
    )
    docs = doc_ids.copy()
    pos = flat_pos.copy()
    if delta:
        docs[1:] = doc_ids[1:] - doc_ids[:-1]
        if pos.size:
            d = np.diff(flat_pos)
            starts = np.zeros(pos.size, dtype=bool)
            starts[np.cumsum(npos)[:-1].astype(np.int64)] = True
            starts[0] = True
            pos[1:] = d
            pos[starts] = flat_pos[starts]
    # interleave: count, then per posting [doc, npos, positions...]
    total = 1 + 2 * n + pos.size
    stream = np.empty(total, dtype=np.uint64)
    stream[0] = n
    offs = 1
    pof = 0
    pos_ends = np.cumsum(npos).astype(np.int64)
    for i in range(n):
        stream[offs] = docs[i]
        stream[offs + 1] = npos[i]
        k = int(npos[i])
        stream[offs + 2 : offs + 2 + k] = pos[pof : pof + k]
        offs += 2 + k
        pof += k
    assert pof == pos.size and offs == total
    return bytes(varbyte_encode(stream))


def decode_posting_list(blob: bytes, delta: bool = True) -> tuple[np.ndarray, list[np.ndarray]]:
    """Inverse of :func:`encode_posting_list` (ref decoder.go:17-55)."""
    stream = varbyte_decode(blob)
    n = int(stream[0])
    doc_ids = np.empty(n, dtype=np.uint64)
    position_lists: list[np.ndarray] = []
    offs = 1
    for i in range(n):
        doc_ids[i] = stream[offs]
        k = int(stream[offs + 1])
        p = stream[offs + 2 : offs + 2 + k].copy()
        if delta and k:
            p = np.cumsum(p, dtype=np.uint64)
        position_lists.append(p)
        offs += 2 + k
    if delta and n:
        doc_ids = np.cumsum(doc_ids, dtype=np.uint64)
    return doc_ids, position_lists
