"""Segment codec round-trips + segment build vs the postings DF —
the analogue of the reference's index snapshot test
(lib/indexer/test/indexer_test.go:42-80) over compressed blobs."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given
from hypothesis import strategies as st

from searty_spark.build import build_postings, doc_stats
from searty_spark.segments import (
    _grouped_cumsum,
    _grouped_delta,
    build_segments,
    decode_pos_block,
    decode_position_blocks,
    decode_score_block,
    decode_segment_positions,
    decode_segment_scores,
    encode_pos_block,
    encode_score_block,
    encode_segment_rows,
)


def test_score_block_roundtrip():
    docs = np.array([3, 7, 100, 101], dtype=np.uint64)
    tfs = np.array([1, 5, 2, 9], dtype=np.int64)
    dls = np.array([40, 7, 300, 12], dtype=np.int64)
    d, t, l = decode_score_block(encode_score_block(docs, tfs, dls))
    assert d.tolist() == docs.tolist()
    assert t.tolist() == tfs.tolist()
    assert l.tolist() == dls.tolist()


def test_pos_block_roundtrip():
    plists = [np.array([0, 5, 9], dtype=np.uint64), np.array([], dtype=np.uint64),
              np.array([2], dtype=np.uint64)]
    counts, flat = decode_pos_block(encode_pos_block(plists))
    assert counts.tolist() == [3, 0, 1]
    assert flat.tolist() == [0, 5, 9, 2]


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10**6), min_size=0, max_size=10).map(sorted),
        min_size=0,
        max_size=20,
    )
)
def test_grouped_delta_cumsum_property(groups):
    counts = np.array([len(g) for g in groups], dtype=np.uint64)
    flat = np.array([x for g in groups for x in g], dtype=np.uint64)
    enc = _grouped_delta(flat, counts)
    assert _grouped_cumsum(enc, counts).tolist() == flat.tolist()


def _segment_frame():
    """Two terms across two docs in one (shard=0, bucket=0) group."""
    return pd.DataFrame(
        {
            "shard": [0, 0, 0],
            "bucket": [0, 0, 0],
            "term": ["abc", "abc", "xyz"],
            "doc_id": [4, 8, 4],
            "tf": [2, 1, 3],
            "positions": [[0, 7], [3], [1, 2, 9]],
            "doc_len": [20, 9, 20],
        }
    )


def test_encode_segment_rows_and_decode():
    out = encode_segment_rows(_segment_frame(), block_size=1)
    assert sorted(out["term"]) == ["abc", "xyz"]
    abc = out[out["term"] == "abc"].iloc[0]
    assert abc["df"] == 2 and abc["cf"] == 3
    assert abc["block_last_doc"] == [4, 8]  # block_size=1 -> 2 blocks
    docs, tfs, dls = decode_segment_scores(abc)
    assert docs.tolist() == [4, 8] and tfs.tolist() == [2, 1] and dls.tolist() == [20, 9]
    d2, plists = decode_segment_positions(abc)
    assert d2.tolist() == [4, 8]
    assert [p.tolist() for p in plists] == [[0, 7], [3]]
    # single-block decode
    docs_b1, tfs_b1, _ = decode_segment_scores(abc, blocks=[1])
    assert docs_b1.tolist() == [8] and tfs_b1.tolist() == [1]


def test_block_bound_metadata_is_valid_upper_bound():
    """Blocks store stats-free (max_tf, min_dl); the query-time bound
    idf * g(max_tf, min_dl) must dominate every true impact in the
    block for ANY global stats (spot-checked over several)."""
    out = encode_segment_rows(_segment_frame(), block_size=128)
    from searty_spark.segments import bm25_impact

    abc = out[out["term"] == "abc"].iloc[0]
    assert abc["block_max_tf"] == [2] and abc["block_min_dl"] == [9]
    for n_docs, avgdl, dfg in [(10, 15.0, 2), (1000, 80.0, 7), (5, 3.0, 1)]:
        true_imp = bm25_impact(np.array([2, 1]), np.array([20, 9]), n_docs, avgdl, dfg)
        bound = bm25_impact(
            np.array(abc["block_max_tf"]), np.array(abc["block_min_dl"]),
            n_docs, avgdl, dfg,
        )
        assert bound.max() >= true_imp.max()


@pytest.fixture(scope="module")
def seg_df(small_corpus):
    p = build_postings(small_corpus)
    s = doc_stats(small_corpus)
    return build_segments(p, s, n_shards=3, n_buckets=8, block_size=16).cache()


def test_segments_match_postings(small_corpus, oracle_index, seg_df):
    rows = seg_df.collect()
    got: dict[str, dict[int, list[int]]] = {}
    for r in rows:
        d = r.asDict()
        docs, plists = decode_segment_positions(d)
        _, tfs, dls = decode_segment_scores(d)
        assert d["df"] == len(docs)
        assert all(int(docs[i]) % 3 == d["shard"] for i in range(len(docs)))
        # strictly ascending doc ids (ref postinglist.go:96-106)
        assert all(docs[i] < docs[i + 1] for i in range(len(docs) - 1))
        for i in range(len(docs)):
            got.setdefault(d["term"], {})[int(docs[i])] = plists[i].astype(int).tolist()
            assert int(tfs[i]) == len(plists[i])
            assert int(dls[i]) == oracle_index.doc_len[int(docs[i])]
    want = {t: {d: ps for d, ps in pl.items()} for t, pl in oracle_index.postings.items()}
    assert got == want


def test_shard_df_sums_to_global(small_corpus, oracle_index, seg_df):
    """Global df (what the query side reconstructs) = sum of per-shard
    dfs — the invariant the stats-free design rests on."""
    per_term: dict[str, int] = {}
    for r in seg_df.select("term", "df").collect():
        per_term[r["term"]] = per_term.get(r["term"], 0) + r["df"]
    for t, df in per_term.items():
        assert df == len(oracle_index.postings[t]), t


def _per_block_decode(row, blocks):
    """The block-at-a-time reference for the one-call decodes: each
    block's bytes through decode_score_block / decode_pos_block."""
    blob, pblob = row["blob"], row["pos_blob"]
    offs = list(row["block_offset"]) + [len(blob)]
    poffs = list(row["pos_block_offset"]) + [len(pblob)]
    cols: list[list[np.ndarray]] = [[], [], [], [], []]
    for b in blocks:
        for c, v in zip(cols, decode_score_block(blob[offs[b] : offs[b + 1]])):
            c.append(v)
        counts, flat = decode_pos_block(pblob[poffs[b] : poffs[b + 1]])
        cols[3].append(counts)
        cols[4].append(flat)
    return [np.concatenate(c) if c else np.empty(0, dtype=np.uint64) for c in cols]


@pytest.mark.parametrize("seed", range(6))
def test_one_call_decode_equals_per_block_decode(seed):
    """decode_segment_scores / decode_position_blocks decode the
    selected blocks with one varbyte call; for random terms, block
    sizes (down to one posting per block) and block subsets (none, one,
    all, runs, non-contiguous), with doc ids, tfs and positions that
    take several varbyte bytes, they equal the per-block decode, and
    decode_segment_positions' list form equals the flat form."""
    rng = np.random.default_rng(seed)
    rows = []
    for t in range(4):
        n = int(rng.integers(1, 400))
        docs = np.sort(rng.choice(10**7, n, replace=False))
        tfs = rng.integers(1, 6, n)
        rows.append(pd.DataFrame({
            "shard": 0, "bucket": 0, "term": f"t{t}", "doc_id": docs, "tf": tfs,
            "positions": [np.sort(rng.choice(2 * 10**5, k, replace=False)) for k in tfs],
            "doc_len": rng.integers(1, 70_000, n),
        }))
    block_size = int(rng.choice([1, 2, 7, 128]))
    out = encode_segment_rows(pd.concat(rows, ignore_index=True), block_size=block_size)
    for _, rec in out.iterrows():
        row = rec.to_dict()
        nb = len(row["block_offset"])
        subsets = [None, [], [0], [nb - 1], list(range(nb)),
                   list(range(nb // 3, nb // 3 + max(1, nb // 2)))]
        subsets += [sorted(rng.choice(nb, int(rng.integers(1, nb + 1)), replace=False).tolist())
                    for _ in range(3)]
        subsets += [list(range(0, nb, 2)), list(range(1, nb, 3))]
        for blocks in subsets:
            ref = _per_block_decode(row, range(nb) if blocks is None else blocks)
            got = list(decode_segment_scores(row, blocks)) + list(
                decode_position_blocks(row, blocks)
            )
            for g, w in zip(got, ref):
                assert g.dtype == w.dtype == np.uint64 and g.tolist() == w.tolist(), blocks
            docs, counts, flat = got[0], got[3], got[4]
            d2, plists = decode_segment_positions(row, blocks)
            assert d2.tolist() == docs.tolist() and len(plists) == docs.size == counts.size
            assert [p.size for p in plists] == counts.tolist()
            assert (np.concatenate(plists) if plists else flat).tolist() == flat.tolist()
