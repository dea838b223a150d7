"""Block-max MaxScore top-k over segments must be rank- and
score-identical to the brute-force oracle and the DataFrame path."""

import pytest

from searty_spark import oracle as O
from searty_spark.build import build_postings, doc_stats
from searty_spark.segments import build_segments
from searty_spark.wand import wand_topk

QUERIES = ["the", "abc", "marker", "shared phrase", "spark", "zzqzzqzz", "ab"]


@pytest.fixture(scope="module")
def seg(small_corpus):
    p = build_postings(small_corpus)
    s = doc_stats(small_corpus)
    return (
        build_segments(p, s, n_shards=3, n_buckets=8, block_size=16).cache(),
        s.cache(),
    )


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("k", [1, 10, 1000])
def test_wand_matches_oracle(seg, oracle_index, query, k):
    seg_df, dstats = seg
    got = [(r["doc_id"], r["score"]) for r in wand_topk(seg_df, dstats, query, k=k).collect()]
    want = O.bm25_topk(oracle_index, query, k=k)
    assert got == want, f"query={query!r} k={k}"


def test_wand_single_block_size(small_corpus, oracle_index):
    # tiny blocks stress the block-skipping path
    p = build_postings(small_corpus)
    s = doc_stats(small_corpus)
    seg_df = build_segments(p, s, n_shards=2, n_buckets=4, block_size=1)
    got = [(r["doc_id"], r["score"]) for r in wand_topk(seg_df, s, "shared phrase", k=5).collect()]
    assert got == O.bm25_topk(oracle_index, "shared phrase", k=5)


def test_dict_df_lookup_missing_indexed_term_raises(spark, small_corpus):
    """A partial df dict that omits a term WITH postings must raise,
    never silently score it with df=0 (max idf)."""
    import pytest

    from searty_spark.build import build_postings, doc_stats
    from searty_spark.segments import build_segments
    from searty_spark.wand import wand_topk

    p = build_postings(small_corpus, with_doc_len=True)
    s = doc_stats(small_corpus)
    row = s.groupBy().agg({"doc_len": "avg", "*": "count"}).collect()[0]
    seg = build_segments(p, s, n_shards=2, n_buckets=4)
    with pytest.raises(Exception, match="no entry for term"):
        wand_topk(
            seg, None, "shared", k=5,
            n_docs=int(row["count(1)"]), avgdl=float(row["avg(doc_len)"]),
            n_shards=2, df_lookup={"zzz": 1},
        ).collect()


def test_duplicate_term_rows_disjoint_sum_overlap_raise(spark, small_corpus, oracle_index):
    """Unmerged partial indexes: duplicate (shard, term) segment rows
    with DISJOINT doc sets score exactly (per-row impacts sum to true
    BM25); rows sharing a doc_id must raise, never silently score
    impact(tf1)+impact(tf2) instead of impact(tf1+tf2)."""
    from pyspark.sql import functions as F

    from searty_spark.build import build_postings, doc_stats
    from searty_spark.segments import build_segments
    from searty_spark.wand import wand_topk

    s = doc_stats(small_corpus)
    row = s.groupBy().agg({"doc_len": "avg", "*": "count"}).collect()[0]
    n_docs, avgdl = int(row["count(1)"]), float(row["avg(doc_len)"])

    halves = [
        build_segments(
            build_postings(small_corpus.filter(pred), with_doc_len=True),
            None, n_shards=2, n_buckets=4,
        )
        for pred in (F.col("doc_id") < 75, F.col("doc_id") >= 75)
    ]
    union = halves[0].unionByName(halves[1])
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(
            union, None, "shared phrase", k=10,
            n_docs=n_docs, avgdl=avgdl, n_shards=2,
        ).collect()
    ]
    assert got == O.bm25_topk(oracle_index, "shared phrase", k=10)

    overlapping = halves[0].unionByName(halves[0])
    with pytest.raises(Exception, match="share doc_ids"):
        wand_topk(
            overlapping, None, "shared phrase", k=10,
            n_docs=n_docs, avgdl=avgdl, n_shards=2,
        ).collect()


def test_missing_stats_or_dataframe_lookup_raise_in_the_driver(seg, jobs_of):
    """wand_topk_batch and phrase_bm25_topk_segments need n_docs and
    avgdl: without them they raise ValueError before any Spark job
    (a check that ``python -O`` keeps), not a TypeError inside a
    Python worker. A df_lookup that is neither a dict nor None is
    refused the same way."""
    from searty_spark.phrase_seg import phrase_bm25_topk_segments
    from searty_spark.wand import wand_topk_batch

    seg_df, dstats = seg
    calls = [
        lambda: wand_topk_batch(seg_df, {"q": "shared phrase"}, n_docs=150),
        lambda: phrase_bm25_topk_segments(seg_df, "shared phrase", avgdl=10.0),
    ]
    for call in calls:
        def expect_value_error():
            with pytest.raises(ValueError, match="needs n_docs and avgdl"):
                call()
        assert jobs_of(expect_value_error) == 0

    def expect_type_error():
        with pytest.raises(TypeError, match="df_lookup must be a dict or None"):
            wand_topk(seg_df, None, "shared", n_docs=150, avgdl=10.0,
                      df_lookup=dstats)
    assert jobs_of(expect_type_error) == 0


def test_wand_pre_partitioned_identity(spark, small_corpus):
    """bench.py keeps a shard-partitioned frame and passes
    ``pre_partitioned=True``; the keyword is accepted and ignored, so
    that call must be frame-identical to the default path for every
    query/k."""
    from pyspark.sql import functions as F

    p = build_postings(small_corpus, with_doc_len=True)
    s = doc_stats(small_corpus)
    seg = build_segments(p, s, n_shards=4, n_buckets=8)
    warm = seg.repartition(4, "shard").cache()
    warm.count()
    row = s.agg(F.count("*").alias("n"), F.avg("doc_len").alias("a")).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["a"])
    try:
        for q, k in [("shared", 10), ("shared phrase", 5), ("module query", 20)]:
            base = [tuple(r) for r in wand_topk(
                seg, None, q, k=k, n_docs=n_docs, avgdl=avgdl, n_shards=4
            ).collect()]
            fast = [tuple(r) for r in wand_topk(
                warm, None, q, k=k, n_docs=n_docs, avgdl=avgdl, n_shards=4,
                pre_partitioned=True,
            ).collect()]
            assert fast == base, q
    finally:
        warm.unpersist()
