"""spark-submit / python -m entrypoints (the rebuild of the three
reference binaries, SURVEY.md §3):

    searty-index  (cmd/searty-index/index.go:18-28)
      python -m searty_spark.cli build --corpus <parquet|synth:N> --out DIR
                                       [--shards 4] [--buckets 32]
    searty-merge  (cmd/searty-merge/merge.go:19-27)
      python -m searty_spark.cli merge --inputs DIR1 DIR2 ... --out DIR
    searty        (cmd/searty/searty.go:28-75)
      python -m searty_spark.cli query --index DIR [-k 10] [--phrase] "Q" ...

Plus the training-data surface the reference doesn't have:
      python -m searty_spark.cli clean --corpus P --out DIR
        [--bench P] [--substring-k 10] [--min-stopword-ratio 0.0]

Cluster form: spark-submit --py-files /tmp/searty_spark_pyfiles.zip
(session.py builds that zip and ships it automatically in local runs).
"""

from __future__ import annotations

import argparse
import json
import sys
import time  # noqa: F401 — used by several subcommands
from pathlib import Path


def _corpus(spark, spec: str):
    from searty_spark.corpus import synth_corpus

    if spec.startswith("synth:"):
        return synth_corpus(spark, int(spec.split(":", 1)[1]))
    df = spark.read.parquet(spec)
    if "doc_id" not in df.columns:
        raise SystemExit("corpus parquet must have a doc_id column")
    return df


def cmd_build(args) -> None:
    from searty_spark.index import write_index
    from searty_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="searty-index")
    t0 = time.perf_counter()
    m = write_index(
        _corpus(spark, args.corpus),
        args.out,
        n_shards=args.shards,
        n_buckets=args.buckets,
        resume=not args.no_resume,
        store_docs=args.store_docs,
        doc_key=args.doc_key,
        analyzer=args.analyzer,
    )
    print(json.dumps({"wall_sec": time.perf_counter() - t0, **m["stats"]}))


def cmd_clean(args) -> None:
    """Training-prep composite from the CLI: corpus parquet (or
    synth:N) in, (doc_id, clean_text, n_redactions) parquet out —
    pipeline.prepare_training_corpus end-to-end (gopher gate,
    optional benchmark decontamination, PII redaction, exact dedup,
    optional Lee-et-al substring excision), with one JSON stats line
    on stdout."""
    from pyspark.sql import functions as F

    from searty_spark.pipeline import prepare_training_corpus
    from searty_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="searty-clean")
    docs = _corpus(spark, args.corpus)
    bench = spark.read.parquet(args.bench) if args.bench else None
    kw = {}
    if args.min_stopword_ratio is not None:
        kw["min_stopword_ratio"] = args.min_stopword_ratio
    if args.max_symbol_ratio is not None:
        kw["max_symbol_ratio"] = args.max_symbol_ratio
    t0 = time.perf_counter()
    out = prepare_training_corpus(
        docs,
        bench=bench,
        n_contam=args.n_contam,
        min_tokens=args.min_tokens,
        substring_k=args.substring_k,
        **kw,
    )
    out.write.mode("overwrite").parquet(args.out)
    wall = time.perf_counter() - t0
    written = spark.read.parquet(args.out)
    stats = written.agg(
        F.count("*").alias("n_survivors"), F.sum("n_redactions").alias("n_redactions")
    ).collect()[0]
    print(
        json.dumps(
            {
                "wall_sec": round(wall, 3),
                "n_docs_in": docs.count(),
                "n_survivors": stats["n_survivors"],
                "n_redactions": int(stats["n_redactions"] or 0),
                "out": args.out,
            }
        )
    )


def cmd_serve(args) -> None:
    """Warm query server over stdin: one request per line, one JSON
    result line per request (flushed) — the deployment shape the
    reference's per-invocation CLI cannot offer, and the reason a
    long-lived process pays off: term lookups hit warm caches, and
    every batch is one shard scatter-gather with champion-seeded
    pruning that reads only its terms' segment rows.

    Request syntax: a plain line is a BM25 top-k; `:phrase <q>` ranks
    a positional phrase; `:regex <pat>` needs a --store-docs index;
    `:batch ["q1", "q2", ...]` answers many BM25 queries in one
    request; `:quit` exits. Responses: {"seq":..., "query":...,
    "mode":..., "results":[[doc_id, score]...], "batched":...,
    "wall_sec":...} — for :batch, "results" is a list of per-query
    result lists aligned with the request array — or {"seq":...,
    "query":..., "error": ...}. Every request gets exactly one
    response line, tagged with its arrival ``seq`` number.

    Batching: the stdin loop only parses lines onto a queue; one
    answering thread takes the first queued request plus every further
    request ALREADY queued, up to ``--threads N`` of them (no timer),
    and answers all their BM25, :phrase and :batch queries together in
    the driver, with no Spark job (wand.serve_topk: one df fetch and
    one champion fetch, then a loop over the shards that point-reads
    the batch's terms' segment rows with pyarrow). ``"batched"`` is the
    number of requests answered together. :regex requests are answered
    one by one after them, on the same thread, with Spark. If a batch
    fails, each of its requests is re-run alone, so one bad request
    never fails its neighbours.
    ``--threads 1`` is strictly sequential; with N > 1 responses of a
    batch may arrive out of request order — a pipelining client
    reorders by ``seq``."""
    import queue
    import threading

    from searty_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="searty-serve")
    srv = _Server(spark, args.index, args.k)
    threads = max(getattr(args, "threads", 1), 1)
    print(json.dumps({"ready": True, "n_docs": srv.stats["n_docs"],
                      "index": args.index, "threads": threads}), flush=True)
    requests: queue.Queue = queue.Queue()
    answering = threading.Thread(target=srv.run, args=(requests, threads))
    answering.start()
    try:
        seq = 0
        for line in sys.stdin:
            q = line.strip()
            if not q:
                continue
            if q == ":quit":
                break
            mode, arg = "bm25", q
            if q.startswith(":"):
                head, _, rest = q.partition(" ")
                mode, arg = head[1:], rest
            requests.put((seq, mode, arg))
            seq += 1
    finally:
        requests.put(None)  # answer what is queued, then stop
        answering.join()


class _Server:
    """cmd_serve's warm state and its answering loop."""

    def __init__(self, spark, index_dir: str, k: int):
        """Term->df client, champion client and the index path.
        Startup reads no segment row, dictionary row or document: only
        parquet footers and the championed term names (at most
        write_champions' max_terms). Between batches, decoded rows live
        only in index's per-process row-group cache, within
        index.GROUP_CACHE_BYTES: the df and champion clients keep no
        per-term state.
        Only the first :regex caches the segments and documents it
        scans."""
        from searty_spark.champions import ChampionClient
        from searty_spark.index import load_stats
        from searty_spark.wand import TermDfClient

        self.spark, self.index_dir, self.k = spark, index_dir, k
        self.stats = load_stats(index_dir)
        self.dic = TermDfClient(spark, index_dir)
        self.champs = ChampionClient(spark, index_dir)
        # :regex's cached documents and segment frames, built on first use
        self._docs = self._seg = None

    def run(self, requests, max_batch: int) -> None:
        """Answer ``(seq, mode, arg)`` items from the queue until a
        None: each batch is the first waiting item plus every further
        one already queued, up to ``max_batch``."""
        import queue

        while (item := requests.get()) is not None:
            batch = [item]
            while len(batch) < max_batch:
                try:
                    item = requests.get_nowait()
                except queue.Empty:
                    break
                if item is None:
                    self.answer(batch)
                    return
                batch.append(item)
            self.answer(batch)

    def answer(self, batch: list[tuple[int, str, str]]) -> None:
        reqs = []
        for seq, mode, arg in batch:
            if mode == "regex":
                continue
            try:
                reqs.append((seq, mode, arg, self._parse(mode, arg)))
            except ValueError as err:  # unknown mode, malformed :batch array
                _emit({"seq": seq, "query": arg, "error": str(err)})
        if reqs:
            self._search(reqs)
        for seq, mode, arg in batch:
            if mode == "regex":
                self._regex(seq, arg)

    @staticmethod
    def _parse(mode: str, arg: str) -> list[tuple[str, list[str]]]:
        """A request's queries as (kind, tokens): BM25 terms (sorted,
        distinct) or a phrase's trigram sequence."""
        from searty_spark.tokenize import tokenize

        if mode == "bm25":
            return [("bm25", sorted(set(tokenize(arg))))]
        if mode == "phrase":
            return [("phrase", tokenize(arg))]
        if mode == "batch":
            qs = json.loads(arg)
            if not isinstance(qs, list) or not all(isinstance(x, str) for x in qs):
                raise ValueError(
                    ':batch expects a JSON array of query strings, e.g. '
                    ':batch ["foo", "bar baz"]'
                )
            return [("bm25", sorted(set(tokenize(q)))) for q in qs]
        raise ValueError(f"unknown mode {mode!r} (bm25|phrase|regex|batch)")

    def _search(self, reqs: list[tuple[int, str, str, list]]) -> None:
        """Answer every query of ``reqs`` in one wand.serve_topk call; on
        failure each request is re-run alone, and a lone failure is its
        error line."""
        from searty_spark.champions import champion_theta
        from searty_spark.wand import serve_topk

        t0 = time.perf_counter()
        queries = [q for r in reqs for q in r[3]]
        st = self.stats
        terms = sorted({t for _, toks in queries for t in toks})
        try:
            dfl = self.dic.lookup(terms)
            champs = self.champs.lookup(
                sorted({t for kind, toks in queries if kind == "bm25" for t in toks})
            )
            batch = []
            for kind, toks in queries:
                theta0 = 0.0
                if kind == "bm25":
                    theta0 = champion_theta(
                        {t: champs[t] for t in toks if t in champs}, dfl,
                        self.k, st["n_docs"], st["avgdl"],
                    )
                batch.append((kind, toks, theta0))
            found = iter(serve_topk(self.index_dir, st, batch, self.k, dfl))
        # catch EVERYTHING: a failing kernel raises ValueError, but a
        # corrupt or missing index file raises whatever pyarrow raises,
        # and every request must still be answered
        except Exception as err:  # noqa: BLE001
            if len(reqs) > 1:
                for r in reqs:
                    self._search([r])
            else:
                seq, _, arg, _ = reqs[0]
                _emit({"seq": seq, "query": arg, "error": str(err)})
            return
        wall = round(time.perf_counter() - t0, 4)
        for seq, mode, arg, qs in reqs:
            res = [next(found) for _ in qs]
            _emit({
                "seq": seq, "query": arg, "mode": mode,
                "results": res if mode == "batch" else res[0],
                "batched": len(reqs), "wall_sec": wall,
            })

    def _regex(self, seq: int, arg: str) -> None:
        t0 = time.perf_counter()
        try:
            docs_path = Path(self.index_dir) / "documents"
            if not docs_path.exists():
                raise ValueError(":regex needs a --store-docs index")
            from searty_spark.index import load_segments
            from searty_spark.query import regex_search_segments

            if self._seg is None:
                self._docs = self.spark.read.parquet(str(docs_path)).cache()
                # cached shard-partitioned, as the candidate step
                # partitions it: later :regex requests skip the parquet
                # scan and the exchange
                self._seg = (
                    load_segments(self.spark, self.index_dir)
                    .repartition(self.stats["n_shards"], "shard")
                    .cache()
                )
            rows = regex_search_segments(
                self._docs, self._seg, arg, n_shards=self.stats["n_shards"]
            ).collect()
            line = {
                "seq": seq, "query": arg, "mode": "regex",
                "results": [[r["doc_id"]] for r in rows], "batched": 1,
                "wall_sec": round(time.perf_counter() - t0, 4),
            }
        # a malformed :regex raises re.error (literal extraction) or
        # Py4JJavaError (JVM rlike at collect), not only ValueError
        except Exception as err:  # noqa: BLE001
            line = {"seq": seq, "query": arg, "error": str(err)}
        _emit(line)


def _emit(line: dict) -> None:
    print(json.dumps(line), flush=True)


def cmd_merge(args) -> None:
    from searty_spark.merge import compact_partials, merge_indexes
    from searty_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="searty-merge")
    t0 = time.perf_counter()
    if args.fanin and len(args.inputs) > args.fanin:
        stats = compact_partials(
            spark, args.inputs, args.out, fanin=args.fanin, dedup_docs=args.dedup_docs
        )
    else:
        stats = merge_indexes(spark, args.inputs, args.out, dedup_docs=args.dedup_docs)
    print(json.dumps({"wall_sec": time.perf_counter() - t0, **stats}))


def cmd_query(args) -> None:
    from searty_spark.index import load_segments, query_index
    from searty_spark.phrase_seg import phrase_ranges_segments
    from searty_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="searty-query")
    from pathlib import Path

    docs_path = Path(args.index) / "documents"
    for q in args.queries:
        if args.symbol:
            # ref `searty -symbol pkg:name` (cmd/searty/searty.go:38-44)
            from searty_spark.index import query_symbols

            for r in query_symbols(spark, args.index, q).collect():
                print(
                    f"{r['source']}:{r['position']}\t{r['specifier']}\t"
                    f"{r['package_name']}:{r['symbol_name']}"
                )
        elif args.regex:
            from searty_spark.index import load_stats
            from searty_spark.query import regex_search_segments

            if load_stats(args.index).get("analyzer", "trigram") != "trigram":
                raise SystemExit("--regex needs a trigram-analyzer index")
            if not docs_path.exists():
                raise SystemExit(
                    "--regex verification needs the doc texts: rebuild the "
                    "index with --store-docs (or query the corpus directly "
                    "via the library API)"
                )
            docs = spark.read.parquet(str(docs_path))
            seg = load_segments(spark, args.index)
            for r in regex_search_segments(docs, seg, q).collect():
                print(r["doc_id"])
        elif args.phrase:
            from searty_spark.index import load_stats

            if load_stats(args.index).get("analyzer", "trigram") != "trigram":
                raise SystemExit(
                    "--phrase needs a trigram-analyzer index; this index was "
                    "built with --analyzer lisp (positional phrase search is "
                    "defined over character trigrams)"
                )
            ranges = phrase_ranges_segments(load_segments(spark, args.index), q)
            if docs_path.exists():
                # ref pretty-print shape: key:start:end:line
                # (lib/searcher/pretty_print.go:34-40)
                from searty_spark.query import resolve_ranges

                docs = spark.read.parquet(str(docs_path))
                for r in resolve_ranges(ranges, docs).collect():
                    print(f"{r['key']}:{r['start']}:{r['end']}:{r['line']}")
            else:
                for r in ranges.collect():
                    print(f"{r['doc_id']}:{r['start']}:{r['end']}")
        else:
            from searty_spark.index import load_stats, query_index_lisp

            if load_stats(args.index).get("analyzer", "trigram") == "lisp":
                rows = query_index_lisp(
                    spark, args.index, q, k=args.k, kind=args.kind
                ).collect()
            else:
                rows = query_index(spark, args.index, q, k=args.k).collect()
            for rank, r in enumerate(rows, 1):
                print(f"{rank}\t{r['doc_id']}\t{r['score']}")


def cmd_build_ann(args) -> None:
    """Persisted ANN index build (ann_index.write_ann_index): trained
    IVF centroids + PQ codebooks + cell-partitioned codes parquet.
    --append instead encodes the batch under the existing index's
    frozen codebooks and appends its partitions."""
    from searty_spark.ann_index import append_ann_index, write_ann_index
    from searty_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="searty-build-ann")
    emb = spark.read.parquet(args.embeddings)
    t0 = time.perf_counter()
    if args.append:
        stats = append_ann_index(emb, args.out)
    else:
        stats = write_ann_index(
            emb, args.out, n_cells=args.cells, n_iter=args.iters,
            sample=args.sample, m=args.m, pq_k=args.pq_k,
        )
    print(json.dumps({"wall_sec": time.perf_counter() - t0, **stats}))


def cmd_merge_ann(args) -> None:
    """Merge same-codebook ANN artifacts (partition concat; fails fast
    on any codebook mismatch)."""
    from searty_spark.ann_index import merge_ann_indexes
    from searty_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="searty-merge-ann")
    t0 = time.perf_counter()
    stats = merge_ann_indexes(spark, args.indexes, args.out)
    print(json.dumps({"wall_sec": time.perf_counter() - t0, **stats}))


def cmd_query_ann(args) -> None:
    """Top-k ANN query against the persisted artifact: probe cells from
    the stored centroids (partition-pruned codes scan), ADC, exact
    re-rank against the raw embeddings."""
    from searty_spark.ann_index import ivf_pq_topk_indexed
    from searty_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="searty-query-ann")
    emb = spark.read.parquet(args.embeddings)
    for qid in args.vec_ids:
        rows = ivf_pq_topk_indexed(
            emb, args.index, int(qid), k=args.k,
            n_probe=args.probe, refine=args.refine,
        ).collect()
        for rank, r in enumerate(rows, 1):
            print(f"{qid}\t{rank}\t{r['vec_id']}\t{r['cos']}")


def cmd_describe(args) -> None:
    """Index describe (ref lib/indexer/describe.go:11-29): global stats,
    per-shard segment counts with the shard's parquet layout (files,
    row groups and footer bytes, read from the footers with pyarrow),
    heaviest terms."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from searty_spark.index import load_segments, load_stats
    from searty_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app_name="searty-describe")
    stats = load_stats(args.index)
    seg = load_segments(spark, args.index)
    shards = seg.groupBy("shard").agg(
        F.count("*").alias("segments"), F.sum("df").alias("postings")
    ).orderBy("shard").collect()
    top = (
        seg.groupBy("term").agg(F.sum("df").alias("df")).orderBy(F.desc("df"), "term")
        .limit(args.top).collect()
    )
    print(json.dumps(stats))
    for r in shards:
        files = [f for f in (Path(args.index) / "segments" / f"shard={r['shard']}").iterdir()
                 if f.is_file() and not f.name.startswith(("_", "."))]
        mds = [pq.read_metadata(f) for f in files]
        # a footer is its thrift metadata plus the 4-byte length and "PAR1"
        print(f"shard={r['shard']} segments={r['segments']} postings={r['postings']} "
              f"files={len(files)} row_groups={sum(m.num_row_groups for m in mds)} "
              f"footer_bytes={sum(m.serialized_size + 8 for m in mds)}")
    for r in top:
        print(f"term={r['term']!r} df={r['df']}")


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="searty_spark")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--corpus", required=True, help="parquet path or synth:N")
    b.add_argument("--out", required=True)
    b.add_argument("--shards", type=int, default=4)
    b.add_argument("--buckets", type=int, default=32)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--store-docs", action="store_true",
                   help="persist (doc_id, url, text) for pretty-printed query results")
    b.add_argument("--analyzer", default="trigram", choices=["trigram", "lisp"],
                   help="tokenizer: char trigrams (default) or the kind-aware "
                        "Lisp lexical scanner (SURVEY.md T2)")
    b.add_argument("--doc-key", default="auto",
                   help="document-identity column for shared-identity merge "
                        "(default: auto = url when present; must be UNIQUE per document)")
    b.set_defaults(fn=cmd_build)

    cl = sub.add_parser("clean")
    cl.add_argument("--corpus", required=True, help="parquet path or synth:N")
    cl.add_argument("--out", required=True)
    cl.add_argument("--bench", default=None,
                    help="evaluation-set parquet for n-gram decontamination")
    cl.add_argument("--n-contam", type=int, default=5)
    cl.add_argument("--min-tokens", type=int, default=16)
    cl.add_argument("--substring-k", type=int, default=None,
                    help="also excise duplicated k-token runs from the "
                         "survivors (Lee et al. 2022 rewrite)")
    cl.add_argument("--min-stopword-ratio", type=float, default=None,
                    help="override the gopher stop-word floor "
                         "(0.0 for non-prose corpora)")
    cl.add_argument("--max-symbol-ratio", type=float, default=None)
    cl.set_defaults(fn=cmd_clean)

    m = sub.add_parser("merge")
    m.add_argument("--inputs", nargs="+", required=True)
    m.add_argument("--out", required=True)
    m.add_argument("--fanin", type=int, default=0,
                   help="tiered compaction: merge at most N inputs per step (0 = flat merge)")
    m.add_argument("--dedup-docs", action="store_true",
                   help="shared-document-identity merge: dedup by url/source key, "
                        "keep-first (ref merge.go:137-190 semantics)")
    m.set_defaults(fn=cmd_merge)

    sv = sub.add_parser("serve")
    sv.add_argument("--index", required=True)
    sv.add_argument("-k", type=int, default=10)
    sv.add_argument("--threads", type=int, default=1,
                    help="answer at most N queued requests per Spark job "
                         "(1 = strictly sequential; responses tagged seq)")
    sv.set_defaults(fn=cmd_serve)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--phrase", action="store_true")
    q.add_argument("--regex", action="store_true",
                   help="trigram-accelerated regex search (needs --store-docs index)")
    q.add_argument("--symbol", action="store_true",
                   help="symbol-definition search (pkg:name / pkg::name / name)")
    q.add_argument("--kind", default="SYMBOL",
                   help="token kind to match on a lisp-analyzer index "
                        "(SYMBOL, STRING, LINE_COMMENT, ...)")
    q.add_argument("queries", nargs="+")
    q.set_defaults(fn=cmd_query)

    d = sub.add_parser("describe")
    d.add_argument("--index", required=True)
    d.add_argument("--top", type=int, default=10)
    d.set_defaults(fn=cmd_describe)

    ba = sub.add_parser("build-ann")
    ba.add_argument("--embeddings", required=True, help="parquet with (vec_id, embedding)")
    ba.add_argument("--out", required=True)
    ba.add_argument("--cells", type=int, default=32)
    ba.add_argument("--iters", type=int, default=2)
    ba.add_argument("--sample", type=int, default=4096)
    ba.add_argument("--m", type=int, default=8)
    ba.add_argument("--pq-k", type=int, default=16)
    ba.add_argument(
        "--append", action="store_true",
        help="encode --embeddings under --out's FROZEN codebooks and append "
        "to its cell partitions (exact; no retrain/re-encode)",
    )
    ba.set_defaults(fn=cmd_build_ann)

    ma = sub.add_parser("merge-ann")
    ma.add_argument("--out", required=True)
    ma.add_argument("indexes", nargs="+", help="same-codebook ANN index dirs")
    ma.set_defaults(fn=cmd_merge_ann)

    qa = sub.add_parser("query-ann")
    qa.add_argument("--index", required=True)
    qa.add_argument("--embeddings", required=True)
    qa.add_argument("-k", type=int, default=10)
    qa.add_argument("--probe", type=int, default=4)
    qa.add_argument("--refine", type=int, default=50)
    qa.add_argument("vec_ids", nargs="+")
    qa.set_defaults(fn=cmd_query_ann)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
