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
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searty_spark import NGRAM_N, SCORE_NDIGITS
from searty_spark.segments import decode_segment_positions, decode_segment_scores
from searty_spark.tokenize import tokenize
from searty_spark.wand import SCORE_COLS, _impacts, _per_shard, _require_df
from searty_spark.wand import _rows_by_term, _shard_request

# phrase matching additionally reads the position streams; cf/bucket
# still never cross the exchange (mapInPandas consumes its child's
# whole schema, so the projection must be explicit — see wand.py)
PHRASE_COLS = SCORE_COLS + ["pos_blob", "pos_block_offset"]


def _blocks_for(row: dict, docs: np.ndarray) -> list[int]:
    """Blocks whose doc range can contain any of ``docs``."""
    last = np.asarray(row["block_last_doc"], dtype=np.int64)
    b = np.unique(np.searchsorted(last, docs))
    return b[b < last.size].tolist()


def _shard_docs_with_all(rows: dict[str, dict], toks: list[str]) -> np.ndarray | None:
    """Conjunctive doc intersection over the SCORE blobs (cheaper than
    positions), rarest term first, progressively block-pruned with
    block_last_doc — the phrase twin of WAND's block skipping. None
    when the shard cannot match (all-or-nothing conjunction)."""
    if any(t not in rows for t in toks):
        return None
    uniq_terms = sorted(set(toks), key=lambda t: rows[t]["df"])
    common: np.ndarray | None = None
    for t in uniq_terms:
        row = rows[t]
        if common is None:
            docs, _, _ = decode_segment_scores(row)
        else:
            blocks = _blocks_for(row, common)
            if not blocks:
                return None
            docs, _, _ = decode_segment_scores(row, blocks)
        common = (
            docs.astype(np.int64)
            if common is None
            else np.intersect1d(common, docs.astype(np.int64))
        )
        if common.size == 0:
            return None
    return common


def _shard_match_starts(
    rows: dict[str, dict], toks: list[str]
) -> tuple[np.ndarray, np.ndarray] | None:
    """rows: term -> segment row dict. Returns (doc_ids, starts) of
    every phrase match start in this shard, sorted by (doc, start), or
    None when the shard has no match.

    Fully vectorized: no Python loop scales with the number of
    candidate docs or matches. The per-offset (doc, rel) pair streams
    are concatenated, and a (doc, rel) pair is a phrase start iff it
    occurs in all len(toks) offset streams (the count-distinct-offsets
    trick of query.py, here as one lexsort + run-length count — pairs
    are unique within an offset because positions are unique per doc).
    """
    common = _shard_docs_with_all(rows, toks)
    if common is None:
        return None
    uniq_terms = sorted(set(toks), key=lambda t: rows[t]["df"])

    # 2) positions decode ONLY for blocks holding surviving candidates
    decoded = {}
    for t in uniq_terms:
        row = rows[t]
        blocks = _blocks_for(row, common)
        decoded[t] = decode_segment_positions(row, blocks)
    n_off = len(toks)
    doc_parts: list[np.ndarray] = []
    rel_parts: list[np.ndarray] = []
    for i, t in enumerate(toks):
        docs, plists = decoded[t]
        idx = np.searchsorted(docs.astype(np.int64), common)
        lens = np.fromiter((plists[j].size for j in idx), dtype=np.int64, count=idx.size)
        doc_parts.append(np.repeat(common, lens))
        rel_parts.append(
            np.concatenate([plists[j] for j in idx]).astype(np.int64) - i
        )
    doc_all = np.concatenate(doc_parts)
    rel_all = np.concatenate(rel_parts)
    order = np.lexsort((rel_all, doc_all))
    d_s, r_s = doc_all[order], rel_all[order]
    first = np.empty(d_s.size, dtype=bool)
    first[0] = True
    first[1:] = (d_s[1:] != d_s[:-1]) | (r_s[1:] != r_s[:-1])
    grp_start = np.flatnonzero(first)
    counts = np.diff(np.append(grp_start, d_s.size))
    keep = grp_start[counts == n_off]
    if keep.size == 0:
        return None
    return d_s[keep], r_s[keep]  # sorted by (doc, start)


def _shard_phrase(rows: dict[str, dict], toks: list[str], width: int) -> pd.DataFrame:
    """(doc_id, start, end) coalesced ranges for one shard.

    Range coalescing exploits that every range has the same width, so
    ends ascend with starts and an island boundary is simply
    ``start > previous end`` within a doc."""
    empty = pd.DataFrame({"doc_id": [], "start": [], "end": []})
    m = _shard_match_starts(rows, toks)
    if m is None:
        return empty
    docs_m, starts_m = m
    ends_m = starts_m + width
    island = np.empty(docs_m.size, dtype=bool)
    island[0] = True
    island[1:] = (docs_m[1:] != docs_m[:-1]) | (starts_m[1:] > ends_m[:-1])
    isl = np.flatnonzero(island)
    last = np.append(isl[1:], docs_m.size) - 1
    return pd.DataFrame(
        {"doc_id": docs_m[isl], "start": starts_m[isl], "end": ends_m[last]}
    )


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

    def kernel(rows: list[dict]) -> pd.DataFrame | None:
        common = _shard_docs_with_all(_rows_by_term(rows), terms)
        return None if common is None else pd.DataFrame({"doc_id": common})

    # conjunction reads only the score blobs — the position streams
    # stay on disk
    return _per_shard(segments, terms, SCORE_COLS, kernel, "doc_id long", n_shards)


def _shard_phrase_bm25(
    rows: dict[str, dict], toks: list[str], n_docs: int, avgdl: float
) -> pd.DataFrame:
    """(doc_id, score, n_matches) for one shard: phrase-matching docs
    scored with BM25 over the phrase's distinct trigrams. Every match
    doc contains every term (conjunctive match), so each term's impact
    is gathered by one searchsorted into its block-pruned decode — no
    per-doc Python."""
    empty = pd.DataFrame({"doc_id": [], "score": [], "n_matches": []})
    m = _shard_match_starts(rows, toks)
    if m is None:
        return empty
    docs_m, _ = m
    mdocs, counts = np.unique(docs_m, return_counts=True)
    scores = np.zeros(mdocs.size, dtype=np.float64)
    for t in sorted(set(toks)):
        row = rows[t]
        blocks = _blocks_for(row, mdocs)
        docs, tfs, dls = decode_segment_scores(row, blocks)
        docs = docs.astype(np.int64)
        idx = np.searchsorted(docs, mdocs)
        # clip before gathering: idx == len(docs) (match doc beyond every
        # decoded posting — corrupted/inconsistent index) must surface as
        # the diagnostic below, not as an IndexError on docs[idx]
        if (idx >= docs.size).any() or not np.array_equal(
            docs[np.minimum(idx, docs.size - 1)], mdocs
        ):
            raise AssertionError("phrase match doc missing from term postings")
        scores += _impacts(tfs, dls, n_docs, avgdl, _require_df(row))[idx]
    return pd.DataFrame(
        {
            "doc_id": mdocs,
            "score": np.round(scores, SCORE_NDIGITS),
            "n_matches": counts.astype(np.int64),
        }
    )


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
    The phrase intersection prunes to match docs first; BM25 impacts
    then decode only the blocks holding those docs. ``n_docs`` and
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
