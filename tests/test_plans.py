"""Physical-plan assertions — the 100-TB guarantees, checked on the
actual plans (.explain) rather than trusted:

- query terms reach the parquet scan as pushed filters (the analogue
  of the reference's SQL index seek, ref database.go:508-526);
- the term filter prunes segment row groups by their statistics;
- per-term df / query-term joins broadcast, never shuffle the big side;
- top-k is TakeOrderedAndProject, never a global sort;
- column pruning keeps text/html out of scans that don't need them.
"""

import pytest
from pyspark.sql import functions as F

from searty_spark.build import build_postings, doc_stats
from searty_spark.query import bm25_topk


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def disk_index(spark, small_corpus, tmp_path_factory):
    from searty_spark.index import write_index

    d = str(tmp_path_factory.mktemp("planidx") / "idx")
    write_index(small_corpus, d, n_shards=2, n_buckets=8)
    return d


def _scan_rows(q) -> tuple[int, int]:
    """Run ``q`` (a filter over one parquet scan, no exchange, so no
    adaptive wrapper); return (rows out of the scan, rows returned)."""
    n = len(q.collect())
    scan = q._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    return int(scan.metrics().apply("numOutputRows").value()), n


def test_segment_scan_prunes_term_row_groups(spark, small_corpus, tmp_path, monkeypatch):
    """A pushed term filter skips the segment row groups whose term
    range cannot hold the term: the scan returns fewer rows than the
    table has. With parquet filter pushdown off it returns them all, so
    the pruning is the pushdown's doing."""
    import searty_spark.index as index
    from searty_spark.index import load_segments, write_index

    monkeypatch.setattr(index, "TERM_ROW_GROUP_ROWS", 64)
    d = str(tmp_path / "idx")
    write_index(small_corpus.filter(F.col("doc_id") < 40), d, n_shards=2, n_buckets=8)
    seg = load_segments(spark, d)
    total = seg.count()
    term = seg.orderBy("term").select("term").first()["term"]
    q = seg.filter(F.col("term") == term)
    assert "PushedFilters: [IsNotNull(term), EqualTo(term," in _plan(q)
    read, n = _scan_rows(q)
    # one row per shard at most, read from one group of each shard file
    assert 0 < n <= 2 and n <= read <= 2 * 64 < total
    read, n_in = _scan_rows(seg.filter(F.col("term").isin([term, "abc", "the", "zzz"])))
    assert n_in <= read < total
    conf = "spark.sql.parquet.filterPushdown"
    spark.conf.set(conf, "false")
    try:
        assert _scan_rows(seg.filter(F.col("term") == term)) == (total, n)
    finally:
        spark.conf.unset(conf)


def test_bm25_topk_is_take_ordered_with_broadcasts(spark, small_corpus):
    p = build_postings(small_corpus)
    s = doc_stats(small_corpus)
    plan = _plan(bm25_topk(p, s, "shared phrase", k=10))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_segment_scan_prunes_blob_columns(spark, disk_index):
    from searty_spark.index import load_segments

    q = load_segments(spark, disk_index).groupBy("term").count()
    plan = _plan(q)
    sched = plan.split("ReadSchema", 1)[1][:300]
    assert "blob" not in sched and "pos_blob" not in sched


def test_minhash_verification_is_candidate_pruned(spark, small_corpus):
    """The exact-Jaccard verification inside the LSH pipeline must not
    contain a full-corpus shingle self-join: every join touching the
    shingle column is a LeftSemi (candidate-doc prune / per-pair
    intersection), never an Inner join of the shingle relation with
    itself (the brute-force shape LSH exists to avoid)."""
    from searty_spark.dedup import minhash_lsh_pairs

    plan = _plan(minhash_lsh_pairs(small_corpus, threshold=0.2))
    join_lines = [
        ln for ln in plan.splitlines()
        if "Join" in ln and "shingle" in ln and "Keys" not in ln
    ]
    # the formatted plan lists join nodes with their keys in detail
    # sections; scan the detail blocks instead for robustness
    details = plan.split("\n\n")
    shingle_joins = [
        d for d in details
        if d.startswith("(") and "Join" in d.splitlines()[0] and "shingle" in d
    ]
    assert shingle_joins, f"expected shingle joins in plan; lines={join_lines}"
    for d in shingle_joins:
        assert "LeftSemi" in d, f"non-semi join on shingle (all-pairs shape):\n{d}"


def test_embedding_dup_lsh_has_no_cartesian(spark):
    """The LSH near-dup path must candidate-generate via an equi-join
    on (band, key) — never the cartesian/nested-loop shape the exact
    all-pairs baseline uses."""
    from searty_spark.ann import cosine_dup_pairs, cosine_dup_pairs_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lsh_plan = _plan(cosine_dup_pairs_lsh(emb, threshold=0.45, dim=64))
    assert "CartesianProduct" not in lsh_plan
    assert "BroadcastNestedLoopJoin" not in lsh_plan
    # sanity: the exact baseline IS the nested-loop shape (it's the oracle)
    exact_plan = _plan(cosine_dup_pairs(emb, threshold=0.45))
    assert "CartesianProduct" in exact_plan or "BroadcastNestedLoopJoin" in exact_plan


def test_segment_build_is_single_pass_no_join(spark, small_corpus):
    """The stats-free design's structural guarantee: the segment-build
    plan contains exactly ONE tokenize explode (Generate) and NO join —
    no dictionary/df pre-pass, one wide shuffle total."""
    from pyspark.sql import functions as F

    from searty_spark.segments import build_segments_from_tokens
    from searty_spark.tokenize import trigrams_col

    toks = small_corpus.select(
        "doc_id",
        F.greatest(F.char_length("text") - F.lit(2), F.lit(0)).cast("long").alias("doc_len"),
        F.posexplode(trigrams_col("text")).alias("pos", "term"),
    )
    plan = _plan(build_segments_from_tokens(toks, n_shards=2, n_buckets=4))
    tree = plan.split("\n\n")[0]
    assert tree.count("Generate") == 1  # exactly one tokenize explode
    assert "posexplode" in plan
    assert "Join" not in plan  # no dictionary/df join anywhere
    # one wide shuffle: the (shard, bucket) grouping for the encoder
    assert tree.count("Exchange") == 1


def test_spread_input_only_spreads_narrow_input(spark, tmp_path):
    """session.spread_input returns an input of >= defaultParallelism
    partitions (a multi-file table) unchanged, and round-robins a
    narrower one to exactly defaultParallelism partitions."""
    from searty_spark.session import spread_input

    target = spark.sparkContext.defaultParallelism
    spark.range(0, 1000, numPartitions=target).write.parquet(str(tmp_path / "t"))
    wide = spark.read.parquet(str(tmp_path / "t"))
    assert wide.rdd.getNumPartitions() >= target
    assert spread_input(wide) is wide

    narrow = wide.coalesce(1)
    spread = spread_input(narrow)
    assert spread.rdd.getNumPartitions() == target
    assert f"RoundRobinPartitioning({target})" in _plan(spread)


def test_corpus_filter_pushdown(spark, disk_index):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.filter(F.col("doc_id") < 10).select("doc_id", "n_chars")
    plan = _plan(q)
    assert "LessThan(doc_id,10)" in plan
    assert "text" not in plan.split("ReadSchema", 1)[1][:200]


def test_phrase_bm25_restricts_scoring_to_match_docs(spark, small_corpus):
    """Ranked phrase search: the BM25 scoring side must be semi-joined
    down to the phrase-matching docs (LeftSemi in the plan) BEFORE the
    dstats join, and the top-k must be TakeOrderedAndProject — scoring
    work proportional to matches, not posting lists."""
    from searty_spark.query import phrase_bm25_topk

    p = build_postings(small_corpus)
    s = doc_stats(small_corpus)
    plan = _plan(phrase_bm25_topk(p, s, "shared phrase", k=10))
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_wand_query_never_reads_or_shuffles_positions(spark, disk_index):
    """The round-4 lesson, pinned: Catalyst cannot column-prune through
    mapInPandas, so wand_topk must project SCORE_COLS explicitly — the
    positions stream (pos_blob, often the index's largest column) must
    appear NOWHERE in a BM25 query plan: not in the parquet ReadSchema,
    not in the exchange. The regex candidate conjunction shares the
    contract."""
    from searty_spark.index import load_segments, load_stats
    from searty_spark.phrase_seg import docs_with_all_terms_segments
    from searty_spark.tokenize import tokenize
    from searty_spark.wand import TermDfClient, wand_topk

    stats = load_stats(disk_index)
    seg = load_segments(spark, disk_index)
    q = wand_topk(
        seg, None, "shared", k=10,
        n_docs=stats["n_docs"], avgdl=stats["avgdl"], n_shards=2,
        df_lookup=TermDfClient(spark, disk_index).lookup(sorted(set(tokenize("shared")))),
    )
    plan = _plan(q)
    assert "pos_blob" not in plan, plan
    plan2 = _plan(docs_with_all_terms_segments(seg, ["sha", "har"], n_shards=2))
    assert "pos_blob" not in plan2, plan2


def _shard_exchanges(df) -> list[str]:
    """The shuffles by ``shard`` in ``df``'s executed plan (run it
    first), not counting those inside a cached relation's own plan."""

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            yield from walk(node.executedPlan())
            return
        if name.endswith("QueryStage"):  # AQE stages hold their exchange
            yield from walk(node.plan())
            return
        if name == "Exchange":
            yield node.simpleString(20)
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    return [s for s in walk(df._jdf.queryExecution().executedPlan())
            if "hashpartitioning(shard" in s]


def test_shard_partitioned_frame_needs_no_exchange(spark, small_corpus):
    """Every segment-query entry repartitions by shard, and Spark drops
    that exchange over a frame already hash-partitioned by shard into
    n_shards partitions (a cached ``repartition(n_shards, "shard")``,
    as bench.py keeps). Over the uncached frame the exchange is there.
    Both frames give the same rows."""
    from searty_spark.phrase_seg import (
        docs_with_all_terms_segments,
        phrase_bm25_topk_segments,
        phrase_ranges_segments,
    )
    from searty_spark.segments import build_segments
    from searty_spark.wand import wand_topk, wand_topk_batch

    p = build_postings(small_corpus, with_doc_len=True)
    s = doc_stats(small_corpus)
    cold = build_segments(p, s, n_shards=4, n_buckets=8)
    warm = cold.repartition(4, "shard").cache()
    warm.count()
    row = s.agg(F.count("*").alias("n"), F.avg("doc_len").alias("a")).collect()[0]
    st = {"n_docs": int(row["n"]), "avgdl": float(row["a"]), "n_shards": 4}
    df_map = {
        r["term"]: int(r["df"])
        for r in cold.groupBy("term").agg(F.sum("df").alias("df")).collect()
    }
    calls = [
        lambda seg, q=q, k=k, dfl=dfl: wand_topk(seg, None, q, k=k, df_lookup=dfl, **st)
        for q, k in [("shared", 10), ("shared phrase", 5), ("module query", 20)]
        for dfl in (df_map, None)
    ] + [
        lambda seg: wand_topk_batch(
            seg, {"a": "shared", "b": "module query"}, k=5, df_lookup=df_map, **st),
        lambda seg: docs_with_all_terms_segments(seg, ["sha", "har"], n_shards=4),
    ] + [
        call
        for q in ["shared phrase", "the module"]
        for call in (
            lambda seg, q=q: phrase_ranges_segments(seg, q, n_shards=4),
            lambda seg, q=q: phrase_bm25_topk_segments(seg, q, k=10, **st),
        )
    ]
    try:
        for call in calls:
            q_cold, q_warm = call(cold), call(warm)
            got_cold = [tuple(r) for r in q_cold.collect()]
            got_warm = [tuple(r) for r in q_warm.collect()]
            assert got_warm == got_cold
            # an empty scan lets AQE drop every later stage ("the
            # module" has no phrase match); each entry has a case with rows
            assert _shard_exchanges(q_cold) or not got_cold, _plan(q_cold)
            assert _shard_exchanges(q_warm) == [], _plan(q_warm)
    finally:
        warm.unpersist()


def test_redact_pii_is_one_projection_no_shuffle(spark, small_corpus):
    """The PII scrub must stay a codegen'd projection over the scan —
    no Exchange, no Python."""
    from searty_spark.textops import redact_pii

    plan = _plan(redact_pii(small_corpus))
    # the only allowed Exchange is the rangepartitioning of the output
    # orderBy — the scrub itself must not hash-shuffle or hit Python
    assert "hashpartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1 + plan.count("rangepartitioning"), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_ngram_contamination_broadcasts_benchmark(spark, small_corpus):
    """Below the gram-count guard the benchmark set must be the
    broadcast side; ABOVE it the join must degrade to a shuffled hash
    join (never a multi-GB broadcast, never a cartesian)."""
    from pyspark.sql import functions as F

    from searty_spark.textops import ngram_contamination

    bench = small_corpus.filter(F.col("doc_id") % 13 == 0)
    plan = _plan(ngram_contamination(small_corpus, bench, n=5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan

    big = _plan(ngram_contamination(small_corpus, bench, n=5, max_broadcast_grams=0))
    assert "CartesianProduct" not in big, big
    # the GRAM join specifically must not broadcast (the doc_id
    # assembly joins may — they're corpus-cardinality-bounded)
    gram_broadcasts = [
        ln for ln in big.splitlines() if "BroadcastHashJoin [gram" in ln
    ]
    assert not gram_broadcasts, big
    assert "ShuffledHashJoin" in big, big


def test_seen_store_lookup_prunes_buckets(spark, tmp_path):
    """The streaming re-crawl key store is hash-partitioned by
    kb = xxhash64(key) mod 64; a batch's lookup must reach the scan as
    a PartitionFilter and read only the batch's own buckets."""
    from searty_spark.streaming import (
        N_SEEN_KEY_BUCKETS,
        seen_store_append,
        seen_store_lookup,
    )

    store = str(tmp_path / "seen_keys")
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://ex.com/"), F.col("id")).alias("url"),
    )
    seen_store_append(docs, store, "url")
    n_store_buckets = len(
        [p for p in __import__("pathlib").Path(store).iterdir() if p.name.startswith("kb=")]
    )
    assert n_store_buckets > N_SEEN_KEY_BUCKETS // 2  # store spans most buckets

    batch = docs.filter(F.col("doc_id") < 3)  # touches <= 3 buckets
    looked = seen_store_lookup(spark, store, batch, "url")
    plan = _plan(looked)
    # the bucket set must reach the scan as a PartitionFilter with <=3
    # literal values — partition pruning happens at file-listing time,
    # so this line IS the b-of-64-buckets IO guarantee
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "kb" in pf.group(1), plan
    in_list = re.search(r"kb#\d+ IN \(([^)]*)\)", pf.group(1))
    assert in_list and len(in_list.group(1).split(",")) <= 3, pf.group(1)
    # the slice holds the touched buckets' keys only (~3/64 of the
    # store), and every batch key is in it (anti-join correctness)
    got = {r["key"] for r in looked.collect()}
    assert {"https://ex.com/0", "https://ex.com/1", "https://ex.com/2"} <= got
    assert len(got) < 100


def test_substring_dedup_plan_shape(spark, small_corpus):
    """The substring-dedup spine is shuffle-joined on window text,
    never a pair-generating cartesian, and the corpus-wide window
    count runs with map-side partial aggregation (the property that
    collapses a hot template window per-partition BEFORE the
    exchange — the skew defence at 100 TB)."""
    from searty_spark.dedup import dup_spans

    plan = _plan(dup_spans(small_corpus, k=10))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan  # map-side combine on the window groupBy

    from searty_spark.dedup import excise_duplicates

    eplan = _plan(excise_duplicates(small_corpus, k=10))
    assert "CartesianProduct" not in eplan
    assert "BroadcastNestedLoopJoin" not in eplan


def test_lm_score_plan_shape(spark, small_corpus):
    """The LM scoring spine is gram-keyed equi-joins + one doc_id agg:
    no cartesian, no nested-loop join, and the gram count aggregations
    run with map-side partial aggregation (hot function-word bigrams
    collapse per-partition before the exchange)."""
    from searty_spark.textops import lm_score

    plan = _plan(lm_score(small_corpus))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
