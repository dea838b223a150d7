"""Segment-path phrase search must equal the oracle and the DF path."""

import pytest

from searty_spark import oracle as O
from searty_spark.build import build_postings, doc_stats
from searty_spark.phrase_seg import phrase_ranges_segments, phrase_search_segments
from searty_spark.segments import build_segments

QUERIES = ["shared phrase marker", "abcabc", "aaaa", "ab", "zzqzzqzz", "marker"]


@pytest.fixture(scope="module")
def seg_df(small_corpus):
    p = build_postings(small_corpus)
    s = doc_stats(small_corpus)
    return build_segments(p, s, n_shards=3, n_buckets=8, block_size=16).cache()


@pytest.mark.parametrize("query", QUERIES)
def test_phrase_ranges_segments_match_oracle(seg_df, oracle_index, query):
    got = [
        (r["doc_id"], r["start"], r["end"])
        for r in phrase_ranges_segments(seg_df, query).collect()
    ]
    assert got == O.match_ranges(oracle_index, query), f"query={query!r}"


@pytest.mark.parametrize("query", QUERIES)
def test_phrase_search_segments_match_oracle(seg_df, oracle_index, query):
    got = [r["doc_id"] for r in phrase_search_segments(seg_df, query).collect()]
    assert got == O.phrase_doc_ids(oracle_index, query), f"query={query!r}"


@pytest.mark.parametrize("query", ["shared phrase", "aaaa", "marker", "zzqzzqzz"])
def test_phrase_bm25_df_equals_segments(spark, small_corpus, seg_df, query):
    """Ranked phrase search: the DataFrame path and the segment path
    must agree exactly on (doc_id, score, n_matches) — and n_matches
    must equal the oracle's match-start count."""
    from searty_spark.phrase_seg import phrase_bm25_topk_segments
    from searty_spark.query import phrase_bm25_topk

    p = build_postings(small_corpus)
    s = doc_stats(small_corpus)
    row = s.groupBy().agg({"doc_len": "avg", "*": "count"}).collect()[0]
    got_df = [
        (r["doc_id"], r["score"], r["n_matches"])
        for r in phrase_bm25_topk(p, s, query, k=100).collect()
    ]
    got_seg = [
        (r["doc_id"], r["score"], r["n_matches"])
        for r in phrase_bm25_topk_segments(
            seg_df, query, k=100,
            n_docs=int(row["count(1)"]), avgdl=float(row["avg(doc_len)"]),
            n_shards=3,
        ).collect()
    ]
    assert got_df == got_seg, f"query={query!r}"
    # every returned doc must actually contain the phrase, with the
    # brute-force occurrence count from the corpus text itself
    texts = {r["doc_id"]: r["text"] for r in small_corpus.select("doc_id", "text").collect()}
    for d, _, n in got_df:
        t, i, cnt = texts[d], 0, 0
        while True:
            j = t.find(query, i)
            if j < 0:
                break
            cnt += 1
            i = j + 1
        assert cnt == n, f"query={query!r} doc={d}"


def test_phrase_pre_partitioned_identity(spark, small_corpus):
    """Both phrase segment paths called as bench.py calls them (a
    shard-partitioned frame and ``pre_partitioned=True``, a keyword
    accepted and ignored) must equal the default."""
    from pyspark.sql import functions as F

    from searty_spark.phrase_seg import phrase_bm25_topk_segments

    p = build_postings(small_corpus, with_doc_len=True)
    s = doc_stats(small_corpus)
    seg = build_segments(p, s, n_shards=4, n_buckets=8)
    warm = seg.repartition(4, "shard").cache()
    warm.count()
    row = s.agg(F.count("*").alias("n"), F.avg("doc_len").alias("a")).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["a"])
    try:
        for q in ["shared phrase", "the module"]:
            base_r = [tuple(r) for r in phrase_ranges_segments(seg, q, n_shards=4).collect()]
            fast_r = [tuple(r) for r in phrase_ranges_segments(
                warm, q, n_shards=4, pre_partitioned=True
            ).collect()]
            assert fast_r == base_r, q
            base_b = [tuple(r) for r in phrase_bm25_topk_segments(
                seg, q, k=10, n_docs=n_docs, avgdl=avgdl, n_shards=4
            ).collect()]
            fast_b = [tuple(r) for r in phrase_bm25_topk_segments(
                warm, q, k=10, n_docs=n_docs, avgdl=avgdl, n_shards=4,
                pre_partitioned=True,
            ).collect()]
            assert fast_b == base_b, q
    finally:
        warm.unpersist()
