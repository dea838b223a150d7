"""The program side of one benchmark run: one Spark process that builds
the index and serves it; with ``--trace`` it then also runs the
dedup, LSH and merge passes.

  python3 perfbench/launch.py --inputs DIR --work DIR --threads N [--trace]

1. ``index.write_index`` over ``DIR/documents.parquet`` (CLI defaults:
   4 shards, 32 buckets, trigram analyzer) into ``WORK/index``.
2. ``cli.main(["serve", ...])`` on that index in this same process (its
   session is reused): stdin and stdout are the server's request and
   response lines, so nothing else is printed to stdout.
3. With ``--trace``, after ``:quit``: ``dedup.minhash_lsh_pairs`` over
   the corpus and ``ann.cosine_dup_pairs_lsh`` over the embeddings,
   collected; then ``merge.merge_indexes`` of the index alone into
   ``WORK/merged`` (a merge of one: the full decode, regroup and
   re-encode path without two more builds, which would not fit the
   run's time limit).

Phase walls and the dedup/LSH pairs go to ``WORK/launch.json``; with
``--trace`` the spans and Spark counters go to ``WORK/trace.json``.
The library is called through its modules, so the traced run's
wrappers are the ones called.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path

import procfs


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--inputs", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--threads", type=int, required=True)
    p.add_argument("--trace", action="store_true")
    a = p.parse_args()
    inputs, work = Path(a.inputs), Path(a.work)

    t0 = time.perf_counter()
    from searty_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    report: dict = {}
    tracer = None
    if a.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install(spark)
    from searty_spark import ann, cli, dedup, index, merge

    report["spark_start_s"] = time.perf_counter() - t0
    report["spark_start_cpu_s"] = procfs.tree_cpu_s(os.getpid())
    docs = spark.read.parquet(str(inputs / "documents.parquet"))
    idx = str(work / "index")

    t, cpu = time.perf_counter(), procfs.tree_cpu_s(os.getpid())
    if tracer:
        with tracer.phase("index"):
            index.write_index(docs, idx, resume=False)
    else:
        index.write_index(docs, idx, resume=False)
    report["build_s"] = time.perf_counter() - t
    report["build_cpu_s"] = procfs.tree_cpu_s(os.getpid()) - cpu

    cli.main(["serve", "--index", idx, "--threads", str(a.threads)])

    if tracer:
        with tracer.phase("dedup"):
            pairs = dedup.minhash_lsh_pairs(docs).collect()
        with tracer.phase("ann"):
            emb = spark.read.parquet(str(inputs / "embeddings.parquet"))
            vpairs = ann.cosine_dup_pairs_lsh(emb).collect()
        report["dedup_pairs"] = [[r["doc_a"], r["doc_b"], r["jacc"]] for r in pairs]
        report["lsh_pairs"] = [[r["vec_id_a"], r["vec_id_b"], r["cos"]] for r in vpairs]
        with tracer.phase("merge"):
            merge.merge_indexes(spark, [idx], str(work / "merged"))
        tracer.dump(str(work / "trace.json"))
    (work / "launch.json").write_text(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
