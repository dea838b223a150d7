"""Interleaved A/B: excise_duplicates v2 (removal-intervals join +
JVM higher-order filter — the shipped formulation) versus the
superseded v1 (token posexplode + anti-join + sort_array(collect_list)
reassembly), on the same corpus in the same session.

v1 shuffles the corpus at TOKEN granularity twice (the posexplode
feeds a doc_id groupBy, and the anti-join shuffles the token relation
on (doc_id, tp)); v2's only corpus-sized motion is the window-text
shuffle both share plus one doc_id equi-join against the
removal-intervals sidecar (bounded by duplicate mass). The A/B pins
the wall-clock consequence; output identity is asserted inside the
run (v1 rows == v2 rows on the skew corpus, every rep).

The v1 body below is a frozen copy of the pre-optimization
implementation, kept ONLY for this measurement.

Writes BENCH/excise_ab.json.
Usage: python scripts/bench_excise_ab.py [n_docs] [reps]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from scripts.bench_substring import WORK, gen  # noqa: E402

K = 10


def excise_v1(docs, k: int = 10, min_count: int = 2):
    """Frozen pre-optimization formulation (token-granular shuffles)."""
    from pyspark.sql import functions as F

    toks = F.split(F.col("text"), " ")
    wins = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.struct(
                (i + 1).alias("pos"), F.concat_ws(" ", F.slice(toks, i + 1, k)).alias("w")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,w:string>>"))
    wins = docs.select("doc_id", F.explode(wins).alias("win")).select(
        "doc_id", F.col("win.pos").alias("pos"), F.col("win.w").alias("w")
    )
    dup = (
        wins.groupBy("w")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct("doc_id", "pos")).alias("first_occ"),
        )
        .filter(F.col("cnt") >= min_count)
        .select("w", "first_occ")
    )
    removal = (
        wins.join(dup, "w")
        .filter(
            (F.col("doc_id") != F.col("first_occ.doc_id"))
            | (F.col("pos") != F.col("first_occ.pos"))
        )
        .select(
            "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("tp")
        )
        .distinct()
    )
    tokens = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("tp"), "tok")
    kept = tokens.join(removal, ["doc_id", "tp"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tp", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        docs.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("n_toks"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("n_toks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed_tokens"),
        )
        .orderBy("doc_id")
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from searty_spark import dedup
    from searty_spark.session import get_spark

    spark = get_spark()
    WORK.mkdir(parents=True, exist_ok=True)
    path = str(WORK / f"skew_{n_docs}")
    gen(spark, n_docs, True, path)
    docs = spark.read.parquet(path)

    out: dict = {"n_docs": n_docs, "reps": reps, "k": K}
    for rep in range(reps):
        t0 = time.monotonic()
        s1 = excise_v1(docs, k=K).agg(F.sum("n_removed_tokens")).collect()[0][0]
        out.setdefault("v1_sec", []).append(time.monotonic() - t0)
        t0 = time.monotonic()
        s2 = dedup.excise_duplicates(docs, k=K).agg(
            F.sum("n_removed_tokens")
        ).collect()[0][0]
        out.setdefault("v2_sec", []).append(time.monotonic() - t0)
        assert s1 == s2, f"rep {rep}: v1 removed {s1} != v2 removed {s2}"
        out["removed_tokens"] = s2
    # full row identity, once (collect both on the smaller prefix if huge)
    ident = (
        excise_v1(docs, k=K)
        .exceptAll(dedup.excise_duplicates(docs, k=K))
        .isEmpty()
    )
    out["rows_identical"] = bool(ident)
    for key in ("v1_sec", "v2_sec"):
        out[key.replace("_sec", "_median_sec")] = round(statistics.median(out[key]), 3)
        out[key] = [round(x, 3) for x in out[key]]
    out["v2_over_v1"] = round(out["v2_median_sec"] / out["v1_median_sec"], 3)

    dest = REPO / "BENCH" / "excise_ab.json"
    dest.write_text(json.dumps(out, indent=2) + "\n")
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
