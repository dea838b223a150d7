"""Champion lists: sidecar contents match brute force, and the
theta0-seeded MaxScore kernel stays EXACTLY rank/score-identical to
the unseeded path and the DataFrame engine (the three-way identity
invariant) — theta0 may only skip work, never change results."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from searty_spark.build import build_postings, doc_stats
from searty_spark.champions import (
    ChampionClient,
    build_champions,
    champion_theta,
    g_impact,
)
from searty_spark.segments import build_segments
from searty_spark.tokenize import tokenize
from searty_spark.wand import wand_topk


@pytest.fixture(scope="module")
def seg(spark, small_corpus):
    p = build_postings(small_corpus, with_doc_len=True)
    s = build_segments(p, doc_stats(small_corpus), n_shards=4, n_buckets=8).cache()
    s.count()
    return s


@pytest.fixture(scope="module")
def corpus_stats(small_corpus):
    row = doc_stats(small_corpus).agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("a")
    ).collect()[0]
    return int(row["n"]), float(row["a"])


def test_champions_match_bruteforce(spark, small_corpus, seg, corpus_stats):
    n_docs, avgdl = corpus_stats
    B = 8
    ch = {
        r["term"]: (list(r["doc_ids"]), list(r["tfs"]), list(r["dls"]))
        for r in build_champions(seg, avgdl, budget=B, min_df=3, max_terms=10**6).collect()
    }
    assert ch, "head terms expected at min_df=3"
    # brute force from raw postings
    p = build_postings(small_corpus, with_doc_len=True).collect()
    by_term: dict[str, list] = {}
    for r in p:
        by_term.setdefault(r["term"], []).append(
            (r["doc_id"], r["tf"], r["doc_len"])
        )
    for term, rows in by_term.items():
        if len(rows) < 3:
            assert term not in ch
            continue
        docs = np.array([x[0] for x in rows])
        tfs = np.array([x[1] for x in rows])
        dls = np.array([x[2] for x in rows])
        g = g_impact(tfs, dls, avgdl)
        order = np.lexsort((docs, -g))[:B]
        want = [
            (int(docs[i]), int(tfs[i]), int(dls[i])) for i in order
        ]
        got = list(zip(*ch[term]))
        assert got == want, term


@pytest.mark.parametrize("query,k", [
    ("shared", 10), ("shared phrase", 10), ("module", 5), ("query", 1),
    ("count score", 20),
])
def test_theta0_identity(spark, small_corpus, seg, corpus_stats, query, k):
    """wand_topk with champion-seeded theta0 == without == the
    DataFrame BM25 engine, frame-for-frame."""
    from searty_spark.query import bm25_topk

    n_docs, avgdl = corpus_stats
    terms = sorted(set(tokenize(query)))
    ch = {
        r["term"]: (
            np.asarray(r["doc_ids"]), np.asarray(r["tfs"]), np.asarray(r["dls"])
        )
        for r in build_champions(seg, avgdl, budget=16, min_df=1, max_terms=10**6).collect()
        if r["term"] in terms
    }
    p = build_postings(small_corpus)
    dfs = {
        r["term"]: r["df"]
        for r in p.filter(F.col("term").isin(terms))
        .groupBy("term").agg(F.count("*").alias("df")).collect()
    }
    theta0 = champion_theta(ch, dfs, k, n_docs, avgdl)
    assert theta0 > 0.0
    base = [tuple(r) for r in wand_topk(
        seg, None, query, k=k, n_docs=n_docs, avgdl=avgdl, n_shards=4
    ).collect()]
    seeded = [tuple(r) for r in wand_topk(
        seg, None, query, k=k, n_docs=n_docs, avgdl=avgdl, n_shards=4,
        theta0=theta0,
    ).collect()]
    df_path = [tuple(r) for r in bm25_topk(
        p, doc_stats(small_corpus), query, k=k
    ).collect()]
    assert seeded == base == df_path


def test_theta0_is_lower_bound(spark, small_corpus, seg, corpus_stats):
    """champion_theta must never exceed the true kth-best total —
    checked against the exhaustive engine for several queries/k."""
    from searty_spark.query import bm25_topk

    n_docs, avgdl = corpus_stats
    p = build_postings(small_corpus)
    s = doc_stats(small_corpus)
    all_ch = {
        r["term"]: (
            np.asarray(r["doc_ids"]), np.asarray(r["tfs"]), np.asarray(r["dls"])
        )
        for r in build_champions(seg, avgdl, budget=16, min_df=1, max_terms=10**6).collect()
    }
    for query in ["shared", "module query", "shared phrase"]:
        terms = sorted(set(tokenize(query)))
        dfs = {
            r["term"]: r["df"]
            for r in p.filter(F.col("term").isin(terms))
            .groupBy("term").agg(F.count("*").alias("df")).collect()
        }
        ch = {t: v for t, v in all_ch.items() if t in terms}
        for k in (1, 3, 10):
            rows = bm25_topk(p, s, query, k=k).collect()
            if len(rows) < k:
                continue
            kth = rows[-1]["score"]
            theta0 = champion_theta(ch, dfs, k, n_docs, avgdl)
            # rounded kth vs raw theta0: allow the rounding epsilon
            assert theta0 <= kth + 1e-6, (query, k, theta0, kth)


def test_write_index_emits_champions_and_query_identity(
    spark, small_corpus, tmp_path, jobs_of
):
    """write_index persists the sidecar; query_index (champion-seeded)
    equals wand_topk over the same segments without a seed."""
    from searty_spark.index import load_segments, load_stats, query_index, write_index

    d = str(tmp_path / "idx")
    write_index(small_corpus, d, n_shards=2, n_buckets=4)
    import json
    from pathlib import Path

    units = [
        json.loads(ln)["unit"]
        for ln in (Path(d) / "checkpoint.jsonl").read_text().splitlines()
    ]
    assert "champions" in units
    assert (Path(d) / "champions").exists()
    stats = load_stats(d)
    cc = ChampionClient(spark, d)
    # min_df default floors at 256 on this 150-doc corpus -> empty
    # sidecar is legal; rebuild a denser one to force seeding
    from searty_spark.champions import write_champions

    n = write_champions(
        load_segments(spark, d), d, stats["n_docs"], stats["avgdl"], min_df=2,
        max_terms=10**6,
    )
    assert n > 0
    cc = ChampionClient(spark, d)
    assert cc.lookup(sorted(set(tokenize("shared"))))
    got = [tuple(r) for r in query_index(spark, d, "shared", k=10).collect()]
    want = [tuple(r) for r in wand_topk(
        load_segments(spark, d), None, "shared", k=10,
        n_docs=stats["n_docs"], avgdl=stats["avgdl"], n_shards=2,
        df_lookup=None,
    ).collect()]
    assert got == want

    # the stamps write_index/write_champions left via observe metrics
    # (ridden on the dictionary job / the sidecar write — no dedicated
    # scan jobs) must equal the standalone from-disk recompute exactly
    from searty_spark.champions import segment_fingerprint, sidecar_fingerprint

    meta = json.loads((Path(d) / "champions_meta.json").read_text())
    assert meta["fingerprint"] == segment_fingerprint(load_segments(spark, d))
    assert meta["sidecar_fingerprint"] == sidecar_fingerprint(
        spark.read.parquet(f"{d}/champions")
    )

    # a term without a list starts NO Spark job (the championed names
    # load once per process and sidecar state), and lookups return
    # exactly the sidecar's rows for the championed terms
    side = {
        r["term"]: (list(r["doc_ids"]), list(r["tfs"]), list(r["dls"]))
        for r in spark.read.parquet(f"{d}/champions").collect()
    }
    dic = spark.read.parquet(f"{d}/dictionary")
    cold = sorted(r["term"] for r in dic.filter("df_global < 2").limit(3).collect())
    assert cold and not set(cold) & set(side)
    cc = ChampionClient(spark, d)
    assert jobs_of(lambda: cc.lookup(cold)) == 0
    assert cc.lookup(cold) == {}
    hot = sorted(side)[:2]
    # a cold championed term is a driver read of the sidecar: no job
    # either, on this client or on a fresh one (verdict memoised)
    assert jobs_of(lambda: cc.lookup(cold + hot)) == 0
    got = cc.lookup(cold + hot)
    assert {t: tuple(map(list, v)) for t, v in got.items()} == {t: side[t] for t in hot}
    assert jobs_of(lambda: ChampionClient(spark, d).lookup(cold)) == 0
    fresh = sorted(side)[-2:]
    assert jobs_of(lambda: ChampionClient(spark, d).lookup(fresh)) == 0
    got = ChampionClient(spark, d).lookup(fresh)
    assert {t: tuple(map(list, v)) for t, v in got.items()} == {t: side[t] for t in fresh}

    # query_index starts only its scoring job: df, buckets and
    # champions all come from driver reads (the call above was warm)
    q = "module query"
    assert jobs_of(lambda: query_index(spark, d, q, k=10)) == 0
    got = [tuple(r) for r in query_index(spark, d, q, k=10).collect()]
    want = [tuple(r) for r in wand_topk(
        load_segments(spark, d), None, q, k=10,
        n_docs=stats["n_docs"], avgdl=stats["avgdl"], n_shards=2,
        df_lookup=None,
    ).collect()]
    assert got and got == want


def test_stale_sidecar_degrades_to_no_pruning(spark, small_corpus, tmp_path):
    """theta0 soundness requires champion rows to be postings of the
    CURRENT segments. A sidecar whose fingerprint stamp doesn't match
    (copied between indexes / segments rewritten without re-derive /
    pre-stamp sidecar) must degrade to {} — theta0=0, exact results."""
    import json
    import shutil
    from pathlib import Path

    from searty_spark.champions import write_champions
    from searty_spark.index import load_segments, load_stats, write_index

    d1 = str(tmp_path / "idx1")
    d2 = str(tmp_path / "idx2")
    write_index(small_corpus, d1, n_shards=2, n_buckets=4)
    write_index(small_corpus.limit(40), d2, n_shards=2, n_buckets=4)
    for d in (d1, d2):
        s = load_stats(d)
        write_champions(
            load_segments(spark, d), d, s["n_docs"], s["avgdl"], min_df=2,
            max_terms=10**6,
        )
    assert ChampionClient(spark, d1).lookup(["sha", "har"])  # fresh: serves

    # cross-copied sidecar: d2's champions under d1's segments
    shutil.rmtree(Path(d1) / "champions")
    shutil.copytree(Path(d2) / "champions", Path(d1) / "champions")
    shutil.copy(Path(d2) / "champions_meta.json", Path(d1) / "champions_meta.json")
    cc = ChampionClient(spark, d1)
    assert cc.stale and cc.lookup(["sha", "har"]) == {}

    # sidecar DIR copied without its meta (partial restore): d1's own
    # meta still matches d1's segments, but the parquet is d2's — the
    # sidecar content hash must catch it
    s1 = load_stats(d1)
    write_champions(
        load_segments(spark, d1), d1, s1["n_docs"], s1["avgdl"], min_df=2,
        max_terms=10**6,
    )
    assert not ChampionClient(spark, d1).stale  # freshly stamped: serves
    shutil.rmtree(Path(d1) / "champions")
    shutil.copytree(Path(d2) / "champions", Path(d1) / "champions")  # meta kept
    cc = ChampionClient(spark, d1)
    assert cc.stale and cc.lookup(["sha", "har"]) == {}

    # missing stamp (pre-format sidecar): unprovable -> degrade
    (Path(d2) / "champions_meta.json").unlink()
    cc = ChampionClient(spark, d2)
    assert cc.stale and cc.lookup(["sha", "har"]) == {}

    # corrupted stamp format -> degrade
    write_champions(
        load_segments(spark, d2), d2,
        load_stats(d2)["n_docs"], load_stats(d2)["avgdl"], min_df=2,
        max_terms=10**6,
    )
    meta = json.loads((Path(d2) / "champions_meta.json").read_text())
    meta["format"] = 99
    (Path(d2) / "champions_meta.json").write_text(json.dumps(meta))
    cc = ChampionClient(spark, d2)
    assert cc.stale and cc.lookup(["sha", "har"]) == {}
    # verify=False opts out (trusted caller), sidecar serves again
    from searty_spark.champions import CHAMPION_FORMAT

    meta["format"] = CHAMPION_FORMAT
    (Path(d2) / "champions_meta.json").write_text(json.dumps(meta))
    assert not ChampionClient(spark, d2).stale
