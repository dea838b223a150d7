"""The stdin query-server loop (cli serve): request/response contract
driven in-process against a real index — plain BM25 line, :phrase,
:regex (store-docs), error handling, :quit termination, and the
batching rule (every queued BM25/phrase/:batch request of a batch is
answered together, in the driver, with no Spark job). Results must
equal the one-shot paths (query_index, wand_topk, phrase_bm25_topk_
segments): the warm server is a deployment shape, never a different
engine."""

import argparse
import io
import json
import queue
import shutil
from pathlib import Path

import pytest

from searty_spark.index import query_index, write_index


@pytest.fixture(scope="module")
def served(spark, small_corpus, tmp_path_factory):
    """store-docs index with a DENSE champion sidecar (min_df=2), so
    head queries are theta0-seeded."""
    from searty_spark.champions import write_champions
    from searty_spark.index import load_segments, load_stats

    d = str(tmp_path_factory.mktemp("serve") / "idx")
    write_index(small_corpus, d, n_shards=2, n_buckets=4, store_docs=True)
    st = load_stats(d)
    write_champions(
        load_segments(spark, d), d, st["n_docs"], st["avgdl"], min_df=2,
        max_terms=10**6,
    )
    return d


def _run(srv, items, max_batch) -> None:
    q: queue.Queue = queue.Queue()
    for seq, (mode, arg) in enumerate(items):
        q.put((seq, mode, arg))
    q.put(None)
    srv.run(q, max_batch)


def _replies(capsys) -> dict[int, dict]:
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    got = {r["seq"]: r for r in lines}
    assert len(got) == len(lines)  # each request answered exactly once
    return got


def test_serve_loop_contract(spark, served, monkeypatch, capsys):
    from searty_spark import cli

    d = served

    monkeypatch.setattr(
        "sys.stdin",
        io.StringIO(
            "shared\n"
            ":phrase shared phrase\n"
            ":regex shar(ed|k)\n"
            ":bogus x\n"
            "\n"
            ":quit\n"
            "never reached\n"
        ),
    )
    cli.cmd_serve(argparse.Namespace(cpus=4, index=d, k=5))
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]

    assert lines[0]["ready"] is True
    bm25 = lines[1]
    assert bm25["mode"] == "bm25" and bm25["batched"] == 1
    want = [
        [r["doc_id"], r["score"]] for r in query_index(spark, d, "shared", k=5).collect()
    ]
    assert bm25["results"] == want

    phrase = lines[2]
    assert phrase["mode"] == "phrase" and len(phrase["results"]) > 0

    regex = lines[3]
    assert regex["mode"] == "regex" and len(regex["results"]) > 0

    assert "error" in lines[4] and "bogus" in lines[4]["error"]
    # :quit stopped the loop before the trailing line
    assert len(lines) == 5

    # :batch answers many BM25 queries in one request; results must
    # equal the sequential per-query answers, aligned with the request
    # array (including a no-hit query -> empty list)
    monkeypatch.setattr(
        "sys.stdin",
        io.StringIO(
            'shared\nmodule\nquery\n:batch ["shared", "module", "query", "@@"]\n:quit\n'
        ),
    )
    cli.cmd_serve(argparse.Namespace(cpus=4, index=d, k=5))
    blines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    seq = blines[1:4]
    batch = blines[4]
    assert batch["mode"] == "batch"
    for i in range(3):
        assert batch["results"][i] == seq[i]["results"]
    assert batch["results"][3] == []  # "@@" yields no trigram at all

    # a malformed regex raises re.error / Py4JJavaError, NOT ValueError
    # — the server must still answer that seq with an error line (and
    # the answering thread must not die silently)
    monkeypatch.setattr("sys.stdin", io.StringIO(":regex ([unclosed\nshared\n:quit\n"))
    cli.cmd_serve(argparse.Namespace(cpus=4, index=d, k=5, threads=2))
    elines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    got_e = {r["seq"]: r for r in elines[1:]}
    assert sorted(got_e) == [0, 1]
    assert "error" in got_e[0] and "results" in got_e[1]

    # --threads: responses are tagged with seq; every request is
    # answered exactly once and bm25 results match
    monkeypatch.setattr(
        "sys.stdin", io.StringIO("shared\nmodule\nquery\nshared\n:quit\n")
    )
    cli.cmd_serve(argparse.Namespace(cpus=4, index=d, k=5, threads=4))
    clines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert clines[0]["threads"] == 4
    got = {r["seq"]: r for r in clines[1:]}
    assert sorted(got) == [0, 1, 2, 3]
    assert got[0]["results"] == want and got[3]["results"] == want


def test_serve_batch_starts_no_job_and_matches_single_requests(
    spark, served, jobs_of, capsys
):
    """A mixed batch — BM25, phrase, a repeated query, a no-hit query,
    a theta0-seeded head query and a :batch — queued before the loop
    starts is answered together at max_batch = N with no Spark job,
    and every answer equals its single-request function's."""
    from searty_spark import cli
    from searty_spark.champions import champion_theta
    from searty_spark.index import load_segments, load_stats
    from searty_spark.phrase_seg import phrase_bm25_topk_segments
    from searty_spark.tokenize import tokenize
    from searty_spark.wand import wand_topk

    d, k = served, 5
    st = load_stats(d)
    srv = cli._Server(spark, d, k)
    items = [
        ("bm25", "shared"),
        ("phrase", "shared phrase"),
        ("bm25", "module query"),
        ("bm25", "shared"),
        ("bm25", "@@"),
        ("phrase", "spark"),
        ("batch", '["module", "@@", "the shared"]'),
    ]
    head = sorted(set(tokenize("shared")))
    assert champion_theta(
        srv.champs.lookup(head), srv.dic.lookup(head), k, st["n_docs"], st["avgdl"]
    ) > 0.0  # "shared" is a theta0-seeded head query

    # cold df and champion caches fill from driver reads, so the
    # first batch starts no job either; the warm repeat is checked below
    assert jobs_of(lambda: _run(srv, items, len(items))) == 0
    capsys.readouterr()
    assert jobs_of(lambda: _run(srv, items, len(items))) == 0
    got = _replies(capsys)

    seg = load_segments(spark, d)
    dic = {r["term"]: r["df_global"] for r in spark.read.parquet(f"{d}/dictionary").collect()}

    def bm25(q):
        return [[r["doc_id"], r["score"]] for r in wand_topk(
            seg, None, q, k=k, n_docs=st["n_docs"], avgdl=st["avgdl"],
            n_shards=st["n_shards"], df_lookup=dic,
        ).collect()]

    def phrase(q):
        return [[r["doc_id"], r["score"]] for r in phrase_bm25_topk_segments(
            seg, q, k=k, n_docs=st["n_docs"], avgdl=st["avgdl"],
            n_shards=st["n_shards"], df_lookup=dic,
        ).collect()]

    assert sorted(got) == list(range(len(items)))
    for seq, (mode, arg) in enumerate(items):
        r = got[seq]
        assert r["mode"] == mode and r["batched"] == len(items), r
        if mode == "batch":
            assert r["results"] == [bm25(q) for q in json.loads(arg)]
        else:
            assert r["results"] == (phrase(arg) if mode == "phrase" else bm25(arg))
    assert got[0]["results"] and got[1]["results"] and got[4]["results"] == []
    assert got[0]["results"] == got[3]["results"]

    # --threads 1 answers one request at a time, still with no job
    assert jobs_of(lambda: _run(srv, items[:3], 1)) == 0
    assert {r["batched"] for r in _replies(capsys).values()} == {1}


def test_serve_batch_builds_no_pandas_frame(spark, served, jobs_of, monkeypatch, capsys):
    """The serve kernels return numpy arrays: with pandas.DataFrame made
    to raise, a mixed BM25 and phrase batch (theta0-seeded, no-hit and
    multi-term requests included) is answered with no frame built and
    no Spark job, and every answer equals its single-request
    function's."""
    import pandas as pd

    from searty_spark import cli
    from searty_spark.index import load_segments, load_stats
    from searty_spark.phrase_seg import phrase_bm25_topk_segments
    from searty_spark.wand import wand_topk

    d, k = served, 5
    st = load_stats(d)
    items = [("bm25", "shared"), ("phrase", "shared phrase"), ("bm25", "module query"),
             ("phrase", "spark"), ("bm25", "@@"), ("batch", '["module", "the shared"]')]
    seg = load_segments(spark, d)
    dic = {r["term"]: r["df_global"] for r in spark.read.parquet(f"{d}/dictionary").collect()}
    common = dict(k=k, n_docs=st["n_docs"], avgdl=st["avgdl"], n_shards=st["n_shards"],
                  df_lookup=dic)

    def want(mode, q):
        f = phrase_bm25_topk_segments(seg, q, **common) if mode == "phrase" else wand_topk(
            seg, None, q, **common)
        return [[r["doc_id"], r["score"]] for r in f.collect()]

    wants = [[want("bm25", q) for q in json.loads(arg)] if mode == "batch" else want(mode, arg)
             for mode, arg in items]
    srv = cli._Server(spark, d, k)
    frames = []

    def no_frame(*args, **kwargs):
        frames.append(args)
        raise AssertionError("a pandas DataFrame was built on the serve path")

    monkeypatch.setattr(pd, "DataFrame", no_frame)
    assert jobs_of(lambda: _run(srv, items, len(items))) == 0
    got = _replies(capsys)
    monkeypatch.undo()
    assert frames == []
    assert sorted(got) == list(range(len(items)))
    for seq, w in enumerate(wants):
        assert got[seq]["results"] == w, got[seq]
    assert wants[0] and wants[1] and wants[4] == []


def test_repeated_batch_decodes_no_group_and_starts_no_job(
    spark, served, jobs_of, groups_read, capsys
):
    """The same batch answered twice on one server: the repeat decodes
    no row group (segments and dictionary come from index's group
    cache) and starts no Spark job, and both answers equal each
    request's answer alone."""
    from searty_spark import cli
    from searty_spark.index import group_cache_info

    srv = cli._Server(spark, served, 5)
    items = [("bm25", "shared"), ("phrase", "shared phrase"), ("bm25", "module query"),
             ("bm25", "@@"), ("batch", '["module", "the shared"]')]
    _run(srv, items, len(items))
    first = _replies(capsys)
    before, misses = groups_read[0], group_cache_info().misses
    assert jobs_of(lambda: _run(srv, items, len(items))) == 0
    second = _replies(capsys)
    assert groups_read[0] == before and group_cache_info().misses == misses
    _run(srv, items, 1)
    alone = _replies(capsys)
    assert sorted(first) == sorted(second) == sorted(alone) == list(range(len(items)))
    for seq in first:
        assert first[seq]["results"] == second[seq]["results"] == alone[seq]["results"]
        assert first[seq]["batched"] == second[seq]["batched"] == len(items)
    assert first[0]["results"] and first[1]["results"]


def test_cold_term_df_lookup_starts_no_job(spark, served, jobs_of):
    """TermDfClient reads the term-sorted dictionary in the driver: a
    cold lookup starts no Spark job and equals the dictionary's rows,
    absent terms omitted."""
    from pyspark.sql import functions as F

    from searty_spark.wand import TermDfClient

    dic = spark.read.parquet(f"{served}/dictionary")
    terms = [r["term"] for r in dic.orderBy("df_global", "term").limit(5).collect()]
    terms += ["zzzzz", "@@@", ""]
    got = {}
    assert jobs_of(lambda: got.update(TermDfClient(spark, served).lookup(terms))) == 0
    want = {r["term"]: r["df_global"] for r in dic.filter(F.col("term").isin(terms)).collect()}
    assert got == want and len(want) == 5


def test_serve_batch_failure_is_isolated(spark, served, monkeypatch, capsys):
    """A request whose batch fails gets an error line; its neighbours in
    the batch are re-run alone and still get their results."""
    from searty_spark import cli
    from searty_spark.tokenize import tokenize
    from searty_spark.wand import TermDfClient

    srv = cli._Server(spark, served, 5)
    _run(srv, [("bm25", "shared"), ("bm25", "module")], 2)
    want = _replies(capsys)

    # a df lookup that misses an indexed term makes the scoring kernel
    # raise for any request using that term
    bad = set(tokenize("query"))
    real = TermDfClient.lookup
    monkeypatch.setattr(
        TermDfClient, "lookup",
        lambda self, terms: {t: v for t, v in real(self, terms).items() if t not in bad},
    )
    _run(srv, [("bm25", "shared"), ("bm25", "query"), ("bm25", "module")], 3)
    got = _replies(capsys)
    assert sorted(got) == [0, 1, 2]
    assert "df_lookup has no entry" in got[1]["error"]
    assert got[0]["results"] == want[0]["results"]
    assert got[2]["results"] == want[1]["results"]
    assert got[0]["batched"] == got[2]["batched"] == 1


def test_server_startup_reads_no_segments(spark, served, jobs_of):
    """The server caches neither a segment nor a documents frame: a
    warm start on a --store-docs index runs no Spark job at all, and
    the first :regex loads both (its results are pinned in
    test_serve_loop_contract)."""
    from searty_spark import cli

    cli._Server(spark, served, 5)  # the champion check is memoized after this
    assert jobs_of(lambda: cli._Server(spark, served, 5)) == 0


def test_describe_prints_each_shards_parquet_layout(spark, served, capsys):
    """`cli describe` reports each shard's segment files, row groups and
    footer bytes; a footer is the file's tail: its thrift metadata, the
    4-byte length and the "PAR1" magic."""
    import pyarrow.parquet as pq

    from searty_spark import cli

    cli.cmd_describe(argparse.Namespace(cpus=4, index=served, top=3))
    lines = capsys.readouterr().out.strip().splitlines()
    shards = [x for x in lines if x.startswith("shard=")]
    assert len(shards) == 2
    for s, line in enumerate(shards):
        (f,) = Path(served, "segments", f"shard={s}").glob("part-*.parquet")
        md = pq.read_metadata(f)
        tail = f.read_bytes()[-8:]
        assert tail[4:] == b"PAR1" and int.from_bytes(tail[:4], "little") == md.serialized_size
        assert line.startswith(f"shard={s} segments={md.num_rows} ")
        assert line.endswith(
            f" files=1 row_groups={md.num_row_groups} footer_bytes={md.serialized_size + 8}"
        )


def _with_segments_of(dst: str, *srcs: str) -> None:
    """Copy every segment file of the ``srcs`` indexes into ``dst``'s
    shard directories beside the files there: unmerged partials."""
    for i, src in enumerate(srcs):
        for f in Path(src, "segments").glob("shard=*/*.parquet"):
            to = Path(dst, "segments", f.parent.name)
            to.mkdir(parents=True, exist_ok=True)
            shutil.copy(f, to / f"p{i}-{f.name}")


@pytest.fixture(scope="module")
def partials(spark, small_corpus, tmp_path_factory):
    """Hand-built partial indexes, each holding two or more (shard,
    term) rows for one term in a shard directory.
    - "disjoint": the segments of an index over the docs below 75 and
      of one over the rest, side by side; dictionary and stats are
      the union's.
    - "overlapping": "disjoint" plus the segments of an index over doc
      "x" alone, which "disjoint" already holds: x's terms have rows
      that share a doc id. "bad" is a query made of x's trigrams;
      "good" are two queries sharing no trigram with x."""
    from pyspark.sql import functions as F

    from searty_spark.index import load_segments, load_stats, write_dictionary
    from searty_spark.tokenize import tokenize

    base = tmp_path_factory.mktemp("partials")
    docs = small_corpus.select("doc_id", "text", "lang").orderBy("doc_id").collect()
    x = next(r for r in docs if r["doc_id"] < 75 and r["lang"] == "en"
             and len(r["text"]) > 40)
    parts = {}
    for name, cond in [("lo", F.col("doc_id") < 75), ("hi", F.col("doc_id") >= 75),
                       ("x", F.col("doc_id") == x["doc_id"])]:
        parts[name] = str(base / name)
        write_index(small_corpus.filter(cond), parts[name], n_shards=2, n_buckets=4)

    disjoint = base / "disjoint"
    disjoint.mkdir()
    _with_segments_of(str(disjoint), parts["lo"], parts["hi"])
    st = [load_stats(parts["lo"]), load_stats(parts["hi"])]
    stats = dict(st[0], n_docs=st[0]["n_docs"] + st[1]["n_docs"],
                 sum_dl=st[0]["sum_dl"] + st[1]["sum_dl"])
    stats["avgdl"] = stats["sum_dl"] / stats["n_docs"]
    (disjoint / "stats.json").write_text(json.dumps(stats))
    write_dictionary(load_segments(spark, str(disjoint)), str(disjoint / "dictionary"))

    overlapping = base / "overlapping"
    shutil.copytree(disjoint, overlapping)
    _with_segments_of(str(overlapping), parts["x"])

    x_terms = set(tokenize(x["text"]))
    words = sorted({w for r in docs if r["doc_id"] != x["doc_id"] and r["lang"] == "en"
                    for w in r["text"].split() if len(w) > 4})
    good = [w for w in words if not set(tokenize(w)) & x_terms][:2]
    assert len(good) == 2
    return {"disjoint": str(disjoint), "overlapping": str(overlapping),
            "bad": next(w for w in x["text"].split() if len(w) > 3), "good": good}


def test_serve_on_disjoint_partials_equals_wand_topk(spark, partials, jobs_of, capsys):
    """Duplicate (shard, term) rows with disjoint doc sets: the batch
    still starts no Spark job, and every answer equals wand_topk's over
    the same segments."""
    from pyspark.sql import functions as F

    from searty_spark import cli
    from searty_spark.index import load_segments, load_stats
    from searty_spark.tokenize import tokenize
    from searty_spark.wand import wand_topk

    d, k = partials["disjoint"], 5
    st = load_stats(d)
    seg = load_segments(spark, d)
    dups = seg.groupBy("shard", "term").count().filter(F.col("count") > 1)
    assert dups.filter(F.col("term").isin(tokenize("shared"))).count() > 0

    srv = cli._Server(spark, d, k)
    items = [("bm25", "shared"), ("bm25", "module query"), ("bm25", "@@"),
             ("bm25", partials["bad"]), ("batch", json.dumps(["the shared", *partials["good"]]))]
    assert jobs_of(lambda: _run(srv, items, len(items))) == 0
    got = _replies(capsys)
    dic = {r["term"]: r["df_global"] for r in spark.read.parquet(f"{d}/dictionary").collect()}

    def bm25(q):
        return [[r["doc_id"], r["score"]] for r in wand_topk(
            seg, None, q, k=k, n_docs=st["n_docs"], avgdl=st["avgdl"],
            n_shards=st["n_shards"], df_lookup=dic,
        ).collect()]

    for seq, (mode, arg) in enumerate(items):
        r = got[seq]
        assert r["batched"] == len(items), r
        if mode == "batch":
            assert r["results"] == [bm25(q) for q in json.loads(arg)]
        else:
            assert r["results"] == bm25(arg)
    assert got[0]["results"] and got[3]["results"] and got[2]["results"] == []


def test_serve_on_overlapping_partials_fails_only_that_request(spark, partials, capsys):
    """Duplicate rows that share a doc id cannot be summed exactly: the
    request using them gets an error line, and its batch neighbours
    get the answers they get on the disjoint index."""
    from searty_spark import cli

    good = partials["good"]
    _run(cli._Server(spark, partials["disjoint"], 5), [("bm25", q) for q in good], 1)
    want = _replies(capsys)
    srv = cli._Server(spark, partials["overlapping"], 5)
    _run(srv, [("bm25", good[0]), ("bm25", partials["bad"]), ("bm25", good[1])], 3)
    got = _replies(capsys)
    assert sorted(got) == [0, 1, 2]
    assert "share doc_ids" in got[1]["error"]
    assert got[0]["results"] and got[0]["results"] == want[0]["results"]
    assert got[2]["results"] and got[2]["results"] == want[1]["results"]


def test_clean_subcommand_end_to_end(spark, tmp_path, capsys):
    """`cli clean` writes the composite's survivors as parquet and the
    stats line agrees with a direct prepare_training_corpus call —
    including the optional substring-excision stage."""
    from pyspark.sql import functions as F

    from searty_spark import cli
    from searty_spark.pipeline import prepare_training_corpus

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "cleaned")
    cli.cmd_clean(
        argparse.Namespace(
            cpus=4,
            corpus=src,
            out=out,
            bench=None,
            n_contam=5,
            min_tokens=4,
            substring_k=10,
            min_stopword_ratio=0.0,
            max_symbol_ratio=1.0,
        )
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    docs = spark.read.parquet(src).select("doc_id", "text")
    want = prepare_training_corpus(
        docs,
        min_tokens=4,
        substring_k=10,
        min_stopword_ratio=0.0,
        max_symbol_ratio=1.0,
    )
    got = spark.read.parquet(out).orderBy("doc_id")
    assert stats["n_survivors"] == want.count() == got.count()
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    # the excision stage actually rewrote something
    assert (
        got.join(docs, "doc_id").filter(F.col("clean_text") != F.col("text")).count()
        > 0
    )
