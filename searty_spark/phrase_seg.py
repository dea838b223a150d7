"""Positional phrase search over compressed segments (Q1/Q4-Q7 of
SURVEY.md executed against the segment blobs instead of posting rows).

Per shard, inside one Arrow batch:
- conjunctive docID intersection across the query's distinct terms
  (ref nextEachPosting/nextMinimumPosting cursors,
  lib/searcher/phrase_searcher.go:34-69 — here a numpy intersect1d
  reduction over docID-sorted arrays);
- relative-position alignment per candidate doc (ref
  computeRelativePositions/intersectionPositionsSet,
  phrase_searcher.go:71-114): positions of the term at query offset i
  shifted by -i, intersected across offsets;
- match-range extraction + overlap coalescing (ref extractMatched +
  mergeRanges, phrase_searcher.go:116-186).

Duplicate query trigrams are deduped with all offsets kept — the
defined semantics for the reference's panic case
(phrase_searcher.go:26-32, SURVEY.md §2.5).

Each entry runs its shard kernel through wand._per_shard, then its own
global reduce.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searty_spark import NGRAM_N, SCORE_NDIGITS
from searty_spark.segments import _ranges, decode_position_blocks, decode_segment_scores
from searty_spark.tokenize import tokenize
from searty_spark.wand import SCORE_COLS, _impacts, _per_shard, _require_df
from searty_spark.wand import _rows_by_term, _shard_request

# phrase matching additionally reads the position streams; cf/bucket
# still never cross the exchange (mapInPandas consumes its child's
# whole schema, so the projection must be explicit — see wand.py)
PHRASE_COLS = SCORE_COLS + ["pos_blob", "pos_block_offset"]


def _blocks_for(row: dict, docs: np.ndarray) -> np.ndarray:
    """Ascending ids of the blocks whose doc range can contain any of
    ``docs``."""
    last = np.asarray(row["block_last_doc"], dtype=np.int64)
    b = np.unique(np.searchsorted(last, docs))
    return b[b < last.size]


def _shard_docs_with_all(
    rows: dict[str, dict], toks: list[str]
) -> tuple[np.ndarray, dict[str, tuple]] | None:
    """Conjunctive doc intersection over the SCORE blobs (cheaper than
    positions), rarest term first, progressively block-pruned with
    block_last_doc — the phrase twin of WAND's block skipping. Returns
    (the docs holding every term, term -> (doc_ids, tfs, doc_lens) of
    the blocks it decoded), or None when the shard cannot match
    (all-or-nothing conjunction). Every later step of a phrase request
    reads its docs, tfs and doc lengths from that one decode per term:
    the match docs are a subset of the conjunction's, so their blocks
    are too."""
    if any(t not in rows for t in toks):
        return None
    uniq_terms = sorted(set(toks), key=lambda t: rows[t]["df"])
    common: np.ndarray | None = None
    decoded: dict[str, tuple] = {}
    for t in uniq_terms:
        row = rows[t]
        blocks = None if common is None else _blocks_for(row, common)
        if blocks is not None and not blocks.size:
            return None
        docs, tfs, dls = decode_segment_scores(row, blocks)
        docs = docs.astype(np.int64)
        decoded[t] = (docs, tfs, dls)
        common = docs if common is None else np.intersect1d(common, docs, assume_unique=True)
        if common.size == 0:
            return None
    return None if common is None else (common, decoded)


def _shard_match_starts(
    rows: dict[str, dict], toks: list[str]
) -> tuple[np.ndarray, np.ndarray, dict[str, tuple]] | None:
    """rows: term -> segment row dict. Returns (doc_ids, starts) of
    every phrase match start in this shard, sorted by (doc, start),
    and the conjunction's per-term decode (_shard_docs_with_all), or
    None when the shard has no match.

    Fully vectorized: no Python loop scales with the number of
    candidate docs or matches. Each term's positions decode once, only
    for the blocks holding surviving candidates, in the flat form
    (counts, flat_positions); each candidate's positions are gathered
    from it by repeat/arange index arithmetic. The per-offset (doc,
    rel) pair streams are concatenated, and a (doc, rel) pair is a
    phrase start iff it occurs in all len(toks) offset streams (the
    count-distinct-offsets trick of query.py, here as one lexsort +
    run-length count — pairs are unique within an offset because
    positions are unique per doc).
    """
    conj = _shard_docs_with_all(rows, toks)
    if conj is None:
        return None
    common, decoded = conj

    # term -> (candidate doc of each position, the position)
    gathered: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for t in set(toks):
        row = rows[t]
        last = np.asarray(row["block_last_doc"], dtype=np.int64)
        blocks = _blocks_for(row, common)
        counts, flat = decode_position_blocks(row, blocks)
        # the doc ids of those blocks, from the conjunction's decode of
        # a superset of them
        docs = decoded[t][0]
        held = np.zeros(last.size + 1, dtype=bool)
        held[blocks] = True
        docs = docs[held[np.searchsorted(last, docs)]]
        counts = counts.astype(np.int64)
        j = np.searchsorted(docs, common)
        lens = counts[j]
        before = np.cumsum(counts) - counts  # each doc's first position in flat
        gathered[t] = (np.repeat(common, lens), flat[_ranges(before[j], lens)].astype(np.int64))
    doc_all = np.concatenate([gathered[t][0] for t in toks])
    rel_all = np.concatenate([gathered[t][1] - i for i, t in enumerate(toks)])
    order = np.lexsort((rel_all, doc_all))
    d_s, r_s = doc_all[order], rel_all[order]
    first = np.empty(d_s.size, dtype=bool)
    first[0] = True
    first[1:] = (d_s[1:] != d_s[:-1]) | (r_s[1:] != r_s[:-1])
    grp_start = np.flatnonzero(first)
    counts = np.diff(np.append(grp_start, d_s.size))
    keep = grp_start[counts == len(toks)]
    if keep.size == 0:
        return None
    return d_s[keep], r_s[keep], decoded  # sorted by (doc, start)


def _shard_phrase(
    rows: dict[str, dict], toks: list[str], width: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """(doc_id, start, end) coalesced ranges for one shard, or None.

    Range coalescing exploits that every range has the same width, so
    ends ascend with starts and an island boundary is simply
    ``start > previous end`` within a doc."""
    m = _shard_match_starts(rows, toks)
    if m is None:
        return None
    docs_m, starts_m, _ = m
    ends_m = starts_m + width
    island = np.empty(docs_m.size, dtype=bool)
    island[0] = True
    island[1:] = (docs_m[1:] != docs_m[:-1]) | (starts_m[1:] > ends_m[:-1])
    isl = np.flatnonzero(island)
    last = np.append(isl[1:], docs_m.size) - 1
    return docs_m[isl], starts_m[isl], ends_m[last]


def phrase_ranges_segments(
    segments: DataFrame,
    query: str,
    n: int = NGRAM_N,
    n_shards: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """(doc_id, start, end) coalesced phrase match ranges — identical
    output to query.phrase_match_ranges, from the compressed index.
    ``pre_partitioned`` is ignored, as in wand.wand_topk."""
    toks = tokenize(query, n)
    width = len(toks) - 1 + n
    local = _per_shard(
        segments, sorted(set(toks)), PHRASE_COLS,
        lambda rows: _shard_phrase(_rows_by_term(rows), toks, width),
        "doc_id long, start int, end int", n_shards,
    )
    return local.orderBy("doc_id", "start")


def phrase_search_segments(segments: DataFrame, query: str, n: int = NGRAM_N) -> DataFrame:
    """(doc_id) docs containing the phrase, ascending."""
    return phrase_ranges_segments(segments, query, n).select("doc_id").distinct().orderBy("doc_id")


def docs_with_all_terms_segments(
    segments: DataFrame, terms: list[str], n_shards: int | None = None
) -> DataFrame:
    """(doc_id) — docs whose postings contain EVERY given term, from
    the compressed segments (per-shard block-pruned intersection,
    rarest term first). The candidate-generation primitive behind the
    index-accelerated regex search; also useful standalone as a
    conjunctive boolean filter."""
    terms = sorted(set(terms))

    def kernel(rows: list[dict]) -> tuple[np.ndarray] | None:
        conj = _shard_docs_with_all(_rows_by_term(rows), terms)
        return None if conj is None else (conj[0],)

    # conjunction reads only the score blobs — the position streams
    # stay on disk
    return _per_shard(segments, terms, SCORE_COLS, kernel, "doc_id long", n_shards)


def _shard_phrase_bm25(
    rows: dict[str, dict], toks: list[str], n_docs: int, avgdl: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_id, score, n_matches) numpy columns for one shard, in doc
    order: phrase-matching docs scored with BM25 over the phrase's
    distinct trigrams. Every match doc contains every term (conjunctive
    match), so each term's impacts are gathered by one searchsorted
    into the conjunction's decode of that term — no block decodes
    twice in a request, and no per-doc Python."""
    m = _shard_match_starts(rows, toks)
    if m is None:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64), np.empty(0, dtype=np.int64)
    docs_m, _, decoded = m
    mdocs, counts = np.unique(docs_m, return_counts=True)
    scores = np.zeros(mdocs.size, dtype=np.float64)
    for t in sorted(set(toks)):
        docs, tfs, dls = decoded[t]
        idx = np.searchsorted(docs, mdocs)
        # clip before gathering: idx == len(docs) (match doc beyond every
        # decoded posting — corrupted/inconsistent index) must surface as
        # the diagnostic below, not as an IndexError on docs[idx]
        if (idx >= docs.size).any() or not np.array_equal(
            docs[np.minimum(idx, docs.size - 1)], mdocs
        ):
            raise AssertionError("phrase match doc missing from term postings")
        scores += _impacts(tfs[idx], dls[idx], n_docs, avgdl, _require_df(rows[t]))
    return mdocs, np.round(scores, SCORE_NDIGITS), counts.astype(np.int64)


def phrase_bm25_topk_segments(
    segments: DataFrame,
    query: str,
    k: int = 10,
    n: int = NGRAM_N,
    n_docs: int | None = None,
    avgdl: float | None = None,
    n_shards: int | None = None,
    df_lookup=None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """(doc_id, score, n_matches) — ranked phrase search over the
    compressed segments: identical output to query.phrase_bm25_topk.
    The phrase intersection prunes to match docs first; their BM25
    impacts are gathered from the intersection's own decode of each
    term, so no block decodes twice. ``n_docs`` and
    ``avgdl`` are required; ``df_lookup`` (a dict or None) and
    ``n_shards`` are as in wand.wand_topk, and ``pre_partitioned`` is
    ignored as there."""
    if n_docs is None or avgdl is None:
        raise ValueError("phrase_bm25_topk_segments needs n_docs and avgdl")
    toks = tokenize(query, n)
    local = _per_shard(
        segments, sorted(set(toks)), PHRASE_COLS,
        lambda rows: _shard_request(rows, "phrase", toks, n_docs, avgdl, k),
        "doc_id long, score double, n_matches long", n_shards, df_lookup,
    )
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
