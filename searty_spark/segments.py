"""Compressed, docID-sorted, block-max posting segments.

The Spark analogue of the reference's ``inverted_index(token_id,
posting_list BLOB)`` table (ref lib/database/schema.sql:19-23, flush
at lib/indexer/indexer.go:46-52), re-architected for 10^12 docs:

- **Sharding**: a posting lives in shard ``doc_id % n_shards``; a
  segment row is one (shard, term). Shards bound row size and give the
  query side its parallelism: each shard computes an exact local
  top-k, the global top-k is their union (exact — a doc lives in
  exactly one shard).
- **Bucketing**: ``bucket = pmod(xxhash64(term), n_buckets)`` splits
  each shard's terms into encode groups (and merge groups). It is a
  stored column, not a directory: each shard is one term-sorted file
  whose row-group term statistics prune a query's reads (index.py).
- **Blocks**: postings are split into blocks of ``block_size`` docs.
  Two blobs per segment row:

  * ``blob``      — score data; per block one varbyte stream
    ``n, doc_delta*n, tf*n, doc_len*n`` (flat sub-streams: decode is
    three numpy slices + a cumsum — no per-posting walk).
  * ``pos_blob``  — positions; per block ``n, npos*n, pos_delta*total``
    (deltas restart at each doc; grouped-cumsum decode).

  Per-block metadata: last_doc, max_tf, min_dl, byte offsets into
  both blobs. Blocks are STATS-FREE: no global statistic (df, n_docs,
  avgdl) is baked into the segment, so the encoder is a pure function
  of its postings — the build needs no dictionary pre-pass (ONE
  tokenize pass total) and a merge re-encodes without recomputing
  global stats. The query side reconstructs the exact per-block BM25
  upper bound as idf(df_global) * g(max_tf, min_dl): idf is a per-term
  positive scalar and g(tf, dl) is increasing in tf / decreasing in
  dl, so the bound is always valid (never prunes a true top-k doc; it
  may be slightly looser than the baked-in exact maximum when max_tf
  and min_dl come from different docs in the block — pruning
  effectiveness, never correctness, is affected). df_global itself is
  the sum of the term's per-shard ``df`` column, available at query
  time from the fetched rows or the dictionary.

Encoding runs in ``applyInPandas`` over (shard, bucket) groups, numpy
throughout. doc_len rides inside the block so scoring needs no
norms-table join at query time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searty_spark import BM25_B, BM25_K1
from searty_spark.codec import varbyte_decode, varbyte_decode_runs, varbyte_encode

BLOCK_SIZE = 128

SEGMENT_SCHEMA = (
    "shard int, bucket int, term string, df long, cf long, "
    "blob binary, pos_blob binary, block_last_doc array<long>, "
    "block_max_tf array<int>, block_min_dl array<long>, "
    "block_offset array<int>, pos_block_offset array<int>"
)

SEGMENT_COLS = [
    "shard", "bucket", "term", "df", "cf", "blob", "pos_blob",
    "block_last_doc", "block_max_tf", "block_min_dl",
    "block_offset", "pos_block_offset",
]


def bm25_impact(
    tf: np.ndarray, doc_len: np.ndarray, n_docs: int, avgdl: float, df_global
) -> np.ndarray:
    """Exact per-(term,doc) BM25 contribution — the same arithmetic
    order as query.bm25_score_col and oracle.bm25_term_score.
    ``df_global`` may be a scalar or a per-row array."""
    dfg = np.asarray(df_global, dtype=np.float64)
    idf = np.log((n_docs - dfg + 0.5) / (dfg + 0.5) + 1.0)
    tf = tf.astype(np.float64)
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * doc_len.astype(np.float64) / avgdl)
    return idf * tf * (BM25_K1 + 1.0) / denom


def _delta(v: np.ndarray) -> np.ndarray:
    out = v.astype(np.uint64).copy()
    out[1:] = v[1:] - v[:-1]
    return out


def _grouped_delta(flat: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Delta-encode within groups (first element of each group absolute)."""
    out = flat.astype(np.uint64).copy()
    if flat.size:
        out[1:] = flat[1:] - flat[:-1]
        starts = np.zeros(flat.size, dtype=bool)
        starts[0] = True
        starts[np.cumsum(counts)[:-1].astype(np.int64)[np.cumsum(counts)[:-1] < flat.size]] = True
        out[starts] = flat[starts]
    return out


def _grouped_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_grouped_delta`, vectorized: subtract from each
    group the running total just before its first element."""
    cs = np.zeros(deltas.size + 1, dtype=np.uint64)
    np.cumsum(deltas, dtype=np.uint64, out=cs[1:])
    counts = counts.astype(np.int64)
    return cs[1:] - np.repeat(cs[np.cumsum(counts) - counts], counts)


def encode_score_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    n = doc_ids.size
    stream = np.concatenate(
        [
            np.array([n], dtype=np.uint64),
            _delta(doc_ids),
            tfs.astype(np.uint64),
            dls.astype(np.uint64),
        ]
    )
    return bytes(varbyte_encode(stream))


def decode_score_block(part: bytes):
    vals = varbyte_decode(part)
    n = int(vals[0])
    docs = np.cumsum(vals[1 : 1 + n], dtype=np.uint64)
    tfs = vals[1 + n : 1 + 2 * n]
    dls = vals[1 + 2 * n : 1 + 3 * n]
    return docs, tfs, dls


def encode_pos_block(position_lists: list[np.ndarray]) -> bytes:
    counts = np.array([p.size for p in position_lists], dtype=np.uint64)
    flat = (
        np.concatenate(position_lists).astype(np.uint64)
        if position_lists
        else np.empty(0, dtype=np.uint64)
    )
    stream = np.concatenate(
        [
            np.array([len(position_lists)], dtype=np.uint64),
            counts,
            _grouped_delta(flat, counts),
        ]
    )
    return bytes(varbyte_encode(stream))


def decode_pos_block(part: bytes):
    """-> (counts, flat_positions) — flat positions grouped by counts."""
    vals = varbyte_decode(part)
    n = int(vals[0])
    counts = vals[1 : 1 + n]
    flat = _grouped_cumsum(vals[1 + n :], counts)
    return counts, flat


def encode_segment_rows(
    pdf: pd.DataFrame,
    block_size: int = BLOCK_SIZE,
) -> pd.DataFrame:
    """One (shard, bucket) group of POSTING rows (term, doc_id, tf,
    positions, doc_len) -> one output row per term. Pure function of
    its postings (no global stats — see module docstring)."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=pd.Index(SEGMENT_COLS))
    term_codes, term_uniques = pd.factorize(pdf["term"], sort=False)
    sorter = np.lexsort(
        (
            pdf["doc_id"].to_numpy(),
            term_codes,
            pdf["bucket"].to_numpy(),
            pdf["shard"].to_numpy(),
        )
    )
    pos_objs = pdf["positions"].to_numpy()[sorter]
    m = sorter.size
    npos = np.fromiter((len(x) for x in pos_objs), dtype=np.int64, count=m)
    flat_pos = (
        np.concatenate([np.asarray(x, dtype=np.uint64) for x in pos_objs])
        if m
        else np.empty(0, dtype=np.uint64)
    )
    return _encode_flat(
        shards=pdf["shard"].to_numpy()[sorter],
        buckets=pdf["bucket"].to_numpy()[sorter],
        tcodes=term_codes[sorter],
        term_uniques=term_uniques,
        docs=pdf["doc_id"].to_numpy()[sorter].astype(np.uint64),
        tfs=pdf["tf"].to_numpy()[sorter].astype(np.uint64),
        dls=pdf["doc_len"].to_numpy()[sorter].astype(np.uint64),
        npos=npos,
        flat_pos=flat_pos,
        block_size=block_size,
    )


def encode_segment_occurrences(
    pdf: pd.DataFrame,
    block_size: int = BLOCK_SIZE,
) -> pd.DataFrame:
    """One (shard, bucket) group of raw TOKEN OCCURRENCE rows
    (term, doc_id, pos, doc_len) -> one output row per term.

    This is the zero-intermediate path: token rows shuffle straight
    from the tokenizer to the encoder, which performs the (term, doc)
    aggregation itself (a sort + reduceat) — no collect_list, no nested
    arrays across Arrow, no postings materialization.
    """
    if len(pdf) == 0:
        return pd.DataFrame(columns=pd.Index(SEGMENT_COLS))
    term_codes, term_uniques = pd.factorize(pdf["term"], sort=False)
    sorter = np.lexsort(
        (
            pdf["pos"].to_numpy(),
            pdf["doc_id"].to_numpy(),
            term_codes,
            pdf["bucket"].to_numpy(),
            pdf["shard"].to_numpy(),
        )
    )
    tcodes = term_codes[sorter]
    docs_o = pdf["doc_id"].to_numpy()[sorter].astype(np.int64)
    pos_o = pdf["pos"].to_numpy()[sorter].astype(np.uint64)
    shards_o = pdf["shard"].to_numpy()[sorter]
    buckets_o = pdf["bucket"].to_numpy()[sorter]
    dls_o = pdf["doc_len"].to_numpy()[sorter].astype(np.uint64)
    n = docs_o.size
    new_post = np.ones(n, dtype=bool)
    new_post[1:] = (
        (tcodes[1:] != tcodes[:-1])
        | (docs_o[1:] != docs_o[:-1])
        | (shards_o[1:] != shards_o[:-1])
    )
    p_starts = np.flatnonzero(new_post)
    npos = np.diff(np.concatenate([p_starts, [n]]))
    return _encode_flat(
        shards=shards_o[p_starts],
        buckets=buckets_o[p_starts],
        tcodes=tcodes[p_starts],
        term_uniques=term_uniques,
        docs=docs_o[p_starts].astype(np.uint64),
        tfs=npos.astype(np.uint64),
        dls=dls_o[p_starts],
        npos=npos,
        flat_pos=pos_o,
        block_size=block_size,
    )


def _encode_flat(
    shards,
    buckets,
    tcodes,
    term_uniques,
    docs,
    tfs,
    dls,
    npos,
    flat_pos,
    block_size,
) -> pd.DataFrame:
    """Vectorized core: inputs are POSTING-level arrays already sorted
    by (shard, bucket, term, doc_id); ``flat_pos`` holds every position
    in that row order, ``npos`` the per-posting counts.

    Every value is scattered into ONE uint64 stream per blob kind,
    varbyte-encoded in a single call; block/term byte offsets come from
    the encoder's per-value end offsets. The only per-term Python work
    is slicing the final byte buffers.
    """
    from searty_spark.codec import varbyte_encode_with_ends

    m = docs.size

    # ---- term boundaries --------------------------------------------------
    new_term = np.ones(m, dtype=bool)
    new_term[1:] = (tcodes[1:] != tcodes[:-1]) | (shards[1:] != shards[:-1])
    t_starts = np.flatnonzero(new_term)
    t_sizes = np.diff(np.concatenate([t_starts, [m]]))
    cont_rows = np.flatnonzero(~new_term)
    if cont_rows.size and not (docs[cont_rows] > docs[cont_rows - 1]).all():
        raise ValueError(
            "doc_ids not strictly ascending / overlapping doc_id spaces "
            "(ref postinglist.go:96-106)"
        )

    # ---- block boundaries (blocks never span terms) -----------------------
    row_local = np.arange(m) - np.repeat(t_starts, t_sizes)
    b_per_term = (t_sizes + block_size - 1) // block_size
    new_block = new_term | (row_local % block_size == 0)
    b_starts = np.flatnonzero(new_block)
    b_sizes = np.diff(np.concatenate([b_starts, [m]]))

    # ---- per-block metadata (stats-free bound ingredients) ---------------
    blk_last_doc = docs[np.concatenate([b_starts[1:] - 1, [m - 1]])].astype(np.int64)
    blk_max_tf = np.maximum.reduceat(tfs, b_starts).astype(np.int64)
    blk_min_dl = np.minimum.reduceat(dls, b_starts).astype(np.int64)

    # ---- score stream: per block [n, doc_delta*n, tf*n, dl*n] -------------
    doc_delta = docs.copy()
    doc_delta[1:] = docs[1:] - docs[:-1]
    doc_delta[b_starts] = docs[b_starts]  # first doc of a block absolute
    s_lens = 1 + 3 * b_sizes
    s_block_off = np.concatenate([[0], np.cumsum(s_lens)[:-1]])
    stream = np.zeros(int(s_lens.sum()), dtype=np.uint64)
    stream[s_block_off] = b_sizes.astype(np.uint64)
    base = np.repeat(s_block_off, b_sizes)
    local = row_local % block_size
    nb = np.repeat(b_sizes, b_sizes)
    stream[base + 1 + local] = doc_delta
    stream[base + 1 + nb + local] = tfs
    stream[base + 1 + 2 * nb + local] = dls
    score_bytes, s_ends = varbyte_encode_with_ends(stream)
    blk_byte_off = np.where(
        s_block_off > 0, s_ends[np.maximum(s_block_off - 1, 0)], 0
    ).astype(np.int64)
    total_score_bytes = int(s_ends[-1])

    # ---- positions stream: per block [n, npos*n, pos_delta*total] ---------
    pos_delta = _grouped_delta(flat_pos, npos.astype(np.uint64))
    pos_per_block = np.add.reduceat(npos, b_starts)
    p_lens = 1 + b_sizes + pos_per_block
    p_block_off = np.concatenate([[0], np.cumsum(p_lens)[:-1]])
    pstream = np.zeros(int(p_lens.sum()), dtype=np.uint64)
    pstream[p_block_off] = b_sizes.astype(np.uint64)
    pbase = np.repeat(p_block_off, b_sizes)
    pstream[pbase + 1 + local] = npos.astype(np.uint64)
    pos_before = np.cumsum(npos) - npos
    pos_before_block = pos_before - np.repeat(pos_before[b_starts], b_sizes)
    row_dst = pbase + 1 + nb + pos_before_block
    dst = np.repeat(row_dst, npos) + (np.arange(flat_pos.size) - np.repeat(pos_before, npos))
    pstream[dst] = pos_delta
    pos_bytes, p_ends = varbyte_encode_with_ends(pstream)
    pblk_byte_off = np.where(
        p_block_off > 0, p_ends[np.maximum(p_block_off - 1, 0)], 0
    ).astype(np.int64)
    total_pos_bytes = int(p_ends[-1])

    # ---- assemble one output row per term ---------------------------------
    t_first_block = np.concatenate([[0], np.cumsum(b_per_term)[:-1]]).astype(np.int64)
    t_blob_start = blk_byte_off[t_first_block]
    t_blob_end = np.concatenate([t_blob_start[1:], [total_score_bytes]])
    t_pos_start = pblk_byte_off[t_first_block]
    t_pos_end = np.concatenate([t_pos_start[1:], [total_pos_bytes]])
    t_cf = np.add.reduceat(tfs, t_starts).astype(np.int64)
    score_buf = score_bytes.tobytes()
    pos_buf = pos_bytes.tobytes()
    blk_split = np.cumsum(b_per_term)[:-1]
    last_doc_l = np.split(blk_last_doc, blk_split)
    max_tf_l = np.split(blk_max_tf, blk_split)
    min_dl_l = np.split(blk_min_dl, blk_split)
    off_l = np.split(blk_byte_off - np.repeat(t_blob_start, b_per_term), blk_split)
    poff_l = np.split(pblk_byte_off - np.repeat(t_pos_start, b_per_term), blk_split)

    return pd.DataFrame(
        {
            "shard": np.asarray(shards)[t_starts].astype("int32"),
            "bucket": np.asarray(buckets)[t_starts].astype("int32"),
            "term": term_uniques.take(tcodes[t_starts]),
            "df": t_sizes.astype(np.int64),
            "cf": t_cf,
            "blob": [score_buf[int(a) : int(b)] for a, b in zip(t_blob_start, t_blob_end)],
            "pos_blob": [pos_buf[int(a) : int(b)] for a, b in zip(t_pos_start, t_pos_end)],
            "block_last_doc": [x.tolist() for x in last_doc_l],
            "block_max_tf": [x.tolist() for x in max_tf_l],
            "block_min_dl": [x.tolist() for x in min_dl_l],
            "block_offset": [x.astype(np.int32).tolist() for x in off_l],
            "pos_block_offset": [x.astype(np.int32).tolist() for x in poff_l],
        },
        columns=SEGMENT_COLS,
    )


def _join_blocks(blob: bytes, offsets, blocks) -> tuple[bytes, np.ndarray]:
    """The bytes of ``blocks`` (ascending block ids; all when None) of a
    blob whose blocks begin at ``offsets``, joined, and the byte at
    which each block begins in them. A run of adjacent blocks is one
    slice."""
    offs = np.asarray(offsets, dtype=np.int64)
    if blocks is None:
        return blob, offs
    sel = np.asarray(blocks, dtype=np.int64)
    if sel.size == 0:
        return b"", sel
    bounds = np.append(offs, len(blob))
    lo, hi = bounds[sel], bounds[sel + 1]
    if sel[-1] - sel[0] == sel.size - 1:
        return blob[lo[0] : hi[-1]], lo - lo[0]
    lens = hi - lo
    data = b"".join([blob[a:b] for a, b in zip(lo.tolist(), hi.tolist())])
    return data, np.cumsum(lens) - lens


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The index ranges starts[i] .. starts[i] + lens[i] - 1 of every
    i, concatenated, from one repeat and one arange."""
    return np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(int(lens.sum()))


def _block_values(data: bytes, starts: np.ndarray):
    """ONE varbyte_decode of joined blocks, each a count header ``n``
    and then its values: -> (values, each header's index, each block's
    n, the index of each block's first n values after its header)."""
    vals, heads = varbyte_decode_runs(data, starts)
    n = vals[heads].astype(np.int64)
    return vals, heads, n, _ranges(heads + 1, n)


def decode_segment_scores(row, blocks=None):
    """Segment row -> (doc_ids, tfs, doc_lens), uint64 arrays in doc
    order, of the ascending ``blocks`` (every block when None).

    The selected blocks' bytes are joined and decoded by ONE
    varbyte_decode; each block's count header splits the values into
    its doc deltas, tfs and doc lengths, and one grouped cumsum
    restores the doc ids (a block's first doc is stored absolute)."""
    data, starts = _join_blocks(row["blob"], row["block_offset"], blocks)
    vals, _, n, first = _block_values(data, starts)
    step = np.repeat(n, n)
    return (
        _grouped_cumsum(vals[first], n),
        vals[first + step],
        vals[first + 2 * step],
    )


def decode_position_blocks(row, blocks=None):
    """Segment row -> (counts, flat_positions) of the ascending
    ``blocks`` (every block when None), from ONE varbyte_decode: each
    doc's position count in doc order, and all their positions
    concatenated in that order. With the doc ids of the same blocks
    (decode_segment_scores) this is the flat posting form
    (doc_ids, counts, flat_positions) the phrase kernels match on."""
    data, starts = _join_blocks(row["pos_blob"], row["pos_block_offset"], blocks)
    vals, heads, _, first = _block_values(data, starts)
    counts = vals[first]
    # every value that is neither a block header nor a count is a
    # position, delta-coded within its doc
    is_pos = np.ones(vals.size, dtype=bool)
    is_pos[heads] = False
    is_pos[first] = False
    return counts, _grouped_cumsum(vals[is_pos], counts)


def decode_segment_positions(row, blocks=None):
    """Segment row -> (doc_ids, one position array per doc): the list
    form of the flat decode, for merge and the tests."""
    docs = decode_segment_scores(row, blocks)[0]
    counts, flat = decode_position_blocks(row, blocks)
    if counts.size == 0:
        return docs, []
    return docs, np.split(flat, np.cumsum(counts[:-1]).astype(np.int64))


def build_segments(
    postings: DataFrame,
    dstats: DataFrame | None = None,
    n_shards: int = 4,
    n_buckets: int = 32,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """postings (term, doc_id, tf, positions[, doc_len]) -> segment
    rows. ONE shuffle (the (shard, bucket) grouping for encode); the
    doc_len join (only when postings lack the column) is a join on
    doc_id (sort-merge or broadcast by AQE). Segments are stats-free,
    so no dictionary/df pre-pass exists anywhere in this plan.
    """
    if "doc_len" not in postings.columns:
        postings = postings.join(dstats, "doc_id")
    with_keys = postings.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket"),
        "term",
        "doc_id",
        "tf",
        "positions",
        "doc_len",
    )

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        return encode_segment_rows(pdf, block_size)

    return with_keys.groupBy("shard", "bucket").applyInPandas(encode, SEGMENT_SCHEMA)


def build_segments_from_tokens(
    tokens: DataFrame,
    n_shards: int,
    n_buckets: int,
    block_size: int = BLOCK_SIZE,
) -> DataFrame:
    """Token-occurrence rows (doc_id, doc_len, pos, term) -> segments,
    with ONE wide shuffle and no materialized postings.

    The tokenizer's output shuffles straight to its (shard, bucket)
    encoder group; the (term, doc) aggregation happens inside the
    vectorized encoder (sort + reduceat) instead of a collect_list —
    nothing nested ever crosses Arrow. Since segments are stats-free,
    there is no df join here at all: the whole index build is ONE pass
    over the token stream (the dictionary is derived afterwards from
    the tiny segment-row table).
    """
    with_keys = tokens.select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket"),
        "term",
        "doc_id",
        "pos",
        "doc_len",
    )

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        return encode_segment_occurrences(pdf, block_size)

    return with_keys.groupBy("shard", "bucket").applyInPandas(encode, SEGMENT_SCHEMA)
