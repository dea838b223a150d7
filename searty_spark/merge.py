"""Hierarchical index merge — the reduce stage (SURVEY.md §3.2,
re-expressing ref lib/indexer/merge.go:455-502 Spark-first).

Differences from the reference, by design:

- No docID remapping (ref merge.go:137-190): doc IDs are globally
  unique at assignment time, so merging posting lists for a term is
  the concatenation of disjoint sorted runs + one argsort
  (the `Push`-descending trick of merge.go:259-262 has no analogue —
  Spark sorts explicitly).
- No tokenID remapping (ref merge.go:192-238): token identity is the
  term string / its xxhash64, stable across indexes.
- Segments are stats-free (block metadata is (max_tf, min_dl), no
  baked-in df/n_docs/avgdl — see segments.py), so the merge re-encode
  is a pure concatenation + re-block: no global-stats recompute, no df
  join. The merged dictionary's df_global is the sum of source dfs
  (doc sets disjoint), aggregated from the tiny segment-row table.

One shuffle: unioned segment rows group by (shard, bucket); each group
decodes, concatenates, re-sorts and re-encodes its terms in numpy.
Merging is associative and the result is content-identical to a
single-shot build over the union corpus (tested in
tests/test_merge_index.py — the analogue of FIXTURES.md §6).
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searty_spark.index import (
    INDEX_FORMAT,
    load_segments,
    load_stats,
    write_dictionary,
    write_segments,
)
from searty_spark.segments import (
    SEGMENT_COLS,
    SEGMENT_SCHEMA,
    decode_segment_positions,
    decode_segment_scores,
    encode_segment_rows,
)


def merge_segment_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (shard, bucket) group of unioned segment rows (several rows
    per term, disjoint doc sets) -> merged segment rows.

    Per input segment row: decode its arrays once and append them as
    columns (no per-posting Python). The re-sort, duplicate-doc check
    (ref postinglist.go:96-106) and re-encode all happen inside
    encode_segment_rows (stats-free — nothing global to recompute).
    """
    cols: dict[str, list] = {k: [] for k in
                             ["shard", "bucket", "term", "doc_id", "tf", "doc_len"]}
    pos_col: list[np.ndarray] = []
    for rec in pdf.to_dict("records"):
        docs, tfs, dls = decode_segment_scores(rec)
        _, plists = decode_segment_positions(rec)
        n = docs.size
        cols["shard"].append(np.full(n, rec["shard"], dtype=np.int64))
        cols["bucket"].append(np.full(n, rec["bucket"], dtype=np.int64))
        cols["term"].append(np.full(n, rec["term"], dtype=object))
        cols["doc_id"].append(docs.astype(np.int64))
        cols["tf"].append(tfs.astype(np.int64))
        cols["doc_len"].append(dls.astype(np.int64))
        pos_col.extend(plists)
    if not pos_col and not cols["doc_id"]:
        return pd.DataFrame(columns=pd.Index(SEGMENT_COLS))
    flat = pd.DataFrame({k: np.concatenate(v) for k, v in cols.items()})
    flat["positions"] = pd.Series(pos_col, dtype=object)
    return encode_segment_rows(flat)


def _write_derived(
    spark: SparkSession, out_dir: str, analyzer: str, n_docs: int, sum_dl: int,
    n_shards: int, n_buckets: int, derive_champions: bool,
) -> dict:
    """stats.json, then the dictionary and the champion sidecar, both
    derived from the tiny MERGED segment-row table on disk under the
    merged stats: identical to a single-shot build's (the sidecar is a
    pure function of segments + (n_docs, avgdl)). derive_champions=
    False is for INTERMEDIATE compaction tiers (compact_partials),
    whose sidecar the next merge would discard; such a tier has no
    champions dir and ChampionClient degrades to theta0=0, still
    exact."""
    out = Path(out_dir)
    stats = {
        "format": INDEX_FORMAT, "analyzer": analyzer, "n_docs": n_docs,
        "sum_dl": sum_dl, "avgdl": sum_dl / n_docs, "n_shards": n_shards,
        "n_buckets": n_buckets,
    }
    (out / "stats.json").write_text(json.dumps(stats))
    seg = load_segments(spark, out_dir)
    write_dictionary(seg, str(out / "dictionary"))
    if derive_champions:
        from searty_spark.champions import write_champions

        write_champions(
            seg, out_dir, n_docs, stats["avgdl"],
            dictionary=spark.read.parquet(str(out / "dictionary")),
        )
    return stats


def _decoded_postings(spark: SparkSession, index_dirs: list[str]) -> DataFrame:
    """Union of all source segments decoded back to posting rows
    (ord, term, doc_id, tf, doc_len, positions), ``ord`` being the
    source index's position in ``index_dirs`` — the input shape
    build_segments consumes plus the provenance column the dedup
    filter keys on (doc_ids may collide ACROSS indexes when the same
    document was indexed twice, so (ord, doc_id) is the row identity).
    Used only by the shared-identity merge, which must FILTER postings
    and therefore can't stay in blob space."""
    segs = None
    for i, d in enumerate(index_dirs):
        s = load_segments(spark, d).withColumn("ord", F.lit(i))
        segs = s if segs is None else segs.unionByName(s)

    def run(batches):
        for pdf in batches:
            for rec in pdf.to_dict("records"):
                docs, tfs, dls = decode_segment_scores(rec)
                if docs.size == 0:
                    continue
                _, plists = decode_segment_positions(rec)
                out = pd.DataFrame(
                    {
                        "doc_id": docs.astype(np.int64),
                        "tf": tfs.astype(np.int64),
                        "doc_len": dls.astype(np.int64),
                    }
                )
                out.insert(0, "term", rec["term"])
                out.insert(0, "ord", int(rec["ord"]))
                out["positions"] = pd.Series(
                    [p.astype(np.int64) for p in plists], dtype=object
                )
                yield out

    return segs.mapInPandas(
        run,
        "ord int, term string, doc_id long, tf long, doc_len long, positions array<long>",
    )


def merge_indexes(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    dedup_docs: bool = False,
    derive_champions: bool = True,
) -> dict:
    """Merge N on-disk indexes into one.

    ``dedup_docs=False`` (default): doc_id spaces must be disjoint and
    document identities unique — the blob-space fast path (decode,
    concatenate sorted runs, re-encode under merged stats; one
    shuffle).

    ``dedup_docs=True``: the reference's shared-document-identity
    semantics (merge.go:137-190 maps source docs onto the destination
    doc with the same filename). Documents are keyed by the ``key``
    column write_index stores in docstats (url/source); when the same
    key appears in several indexes, the copy from the EARLIEST index
    (ties: lowest doc_id) wins and every other copy's postings,
    docstats and definition rows are dropped. The result is
    content-identical to a single-shot build over the
    union-minus-duplicates corpus (tested byte-for-byte). This path
    must filter inside posting lists, so it decodes to posting rows
    and re-encodes — two shuffles instead of one; use the default for
    crawl pipelines that guarantee unique doc identity upstream."""
    stats_list = [load_stats(d) for d in index_dirs]
    n_shards = stats_list[0]["n_shards"]
    n_buckets = stats_list[0]["n_buckets"]
    analyzer = stats_list[0].get("analyzer", "trigram")
    assert all(s["n_shards"] == n_shards and s["n_buckets"] == n_buckets for s in stats_list)
    if not all(s.get("analyzer", "trigram") == analyzer for s in stats_list):
        raise ValueError("cannot merge indexes built with different analyzers")
    if dedup_docs:
        return _merge_dedup(
            spark, index_dirs, out_dir, n_shards, n_buckets, analyzer,
            derive_champions=derive_champions,
        )
    n_docs = sum(s["n_docs"] for s in stats_list)
    sum_dl = sum(s["sum_dl"] for s in stats_list)

    # validate docstats schema compatibility BEFORE any expensive work
    # or writes: failing after the segment merge would leave a
    # half-written index dir that load_stats accepts
    parts = {d: spark.read.parquet(str(Path(d) / "docstats")) for d in index_dirs}
    if len({tuple(sorted(x.columns)) for x in parts.values()}) > 1:
        # fail with the actionable cause, not unionByName's raw
        # AnalysisException: the usual mismatch is one index built with
        # a doc_key (docstats has key/lang) and one without
        raise ValueError(
            "docstats schemas differ across the inputs — every index in a "
            "merge must be built with the same doc_key/lang columns: "
            + "; ".join(f"{d}: {sorted(x.columns)}" for d, x in parts.items())
        )

    segs = None
    for d in index_dirs:
        s = load_segments(spark, d)
        segs = s if segs is None else segs.unionByName(s)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return merge_segment_group(pdf)

    merged = segs.groupBy("shard", "bucket").applyInPandas(run, SEGMENT_SCHEMA)

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    write_segments(merged, str(out / "segments"), n_shards)
    # docstats by union; stats, dictionary and champions re-derive
    ds = None
    for d in index_dirs:
        x = parts[d]
        ds = x if ds is None else ds.unionByName(x)
    ds.write.mode("overwrite").parquet(str(out / "docstats"))
    stats = _write_derived(spark, out_dir, analyzer, n_docs, sum_dl, n_shards, n_buckets,
                           derive_champions)

    # --- symbol/package metadata (ref merge.go:240-309, M4) -------------
    # Entity ids are content hashes (md5 of name), identical across
    # independently-built indexes, so entity merge is union+distinct and
    # needs none of the reference's id remapping; definition facts are
    # doc-keyed and docs are disjoint, so they union as-is. A package
    # shared by several indexes keeps its lowest defining doc_id —
    # exactly what a single-shot build over the union corpus produces.
    if all((Path(d) / "symbols").exists() for d in index_dirs):
        for name in ("symbols", "packages", "symbol_definitions", "package_definitions"):
            t = None
            for d in index_dirs:
                x = spark.read.parquet(str(Path(d) / name))
                t = x if t is None else t.unionByName(x)
            if name in ("symbols", "packages"):
                t = t.distinct()
            elif name == "package_definitions":
                t = t.groupBy("package_id", "specifier").agg(
                    F.min("doc_id").alias("doc_id"), F.min("position").alias("position")
                )
            t.write.mode("overwrite").parquet(str(out / name))
    return stats


def _merge_dedup(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    n_shards: int,
    n_buckets: int,
    analyzer: str = "trigram",
    derive_champions: bool = True,
) -> dict:
    """Shared-document-identity merge (see merge_indexes docstring)."""
    from pyspark.sql import Window

    from searty_spark.segments import build_segments

    parts = {d: spark.read.parquet(str(Path(d) / "docstats")) for d in index_dirs}
    if len({tuple(sorted(x.columns)) for x in parts.values()}) > 1:
        raise ValueError(
            "docstats schemas differ across the inputs — every index in a "
            "merge must be built with the same doc_key/lang columns: "
            + "; ".join(f"{d}: {sorted(x.columns)}" for d, x in parts.items())
        )
    ds = None
    for i, d in enumerate(index_dirs):
        x = parts[d].withColumn("ord", F.lit(i))
        ds = x if ds is None else ds.unionByName(x)
    if "key" not in ds.columns:
        raise ValueError(
            "dedup_docs=True requires indexes built from a corpus with a "
            "document-identity key column — pass doc_key to write_index "
            "(auto-picked only when a url column exists)"
        )
    w = Window.partitionBy("key").orderBy("ord", "doc_id")
    ranked = ds.withColumn("rn", F.row_number().over(w))
    survivors = ranked.filter("rn = 1").drop("rn", "ord").cache()
    dropped = ranked.filter("rn > 1").select("ord", "doc_id").cache()

    row = survivors.agg(
        F.count("*").alias("n"),
        F.sum("doc_len").alias("s"),
        F.count_distinct("doc_id").alias("nd"),
    ).collect()[0]
    n_docs, sum_dl = int(row["n"]), int(row["s"])
    if int(row["nd"]) != n_docs:
        raise ValueError(
            "surviving documents do not have unique doc_ids — two DISTINCT "
            "keys share a doc_id across the input indexes; re-key one side "
            "before a shared-identity merge"
        )

    # losers' postings are filtered in row space (keyed by provenance +
    # doc_id), then the survivors re-encode under the merged global
    # stats — content-identical to a single-shot build over the
    # deduplicated union corpus
    flat = (
        _decoded_postings(spark, index_dirs)
        .join(dropped, ["ord", "doc_id"], "left_anti")
        .drop("ord")
    )
    seg = build_segments(
        flat,
        n_shards=n_shards,
        n_buckets=n_buckets,
    )
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    write_segments(seg, str(out / "segments"), n_shards)
    survivors.write.mode("overwrite").parquet(str(out / "docstats"))
    stats = _write_derived(spark, out_dir, analyzer, n_docs, sum_dl, n_shards, n_buckets,
                           derive_champions)

    # sidecar: definitions are doc-keyed facts -> drop losers' rows;
    # entities re-derive from the surviving facts / surviving docs so
    # the result equals the single-shot sidecar
    if all((Path(d) / "symbols").exists() for d in index_dirs):
        defs = None
        syms = None
        for i, d in enumerate(index_dirs):
            x = spark.read.parquet(str(Path(d) / "symbol_definitions")).withColumn(
                "ord", F.lit(i)
            )
            defs = x if defs is None else defs.unionByName(x)
            y = spark.read.parquet(str(Path(d) / "symbols"))
            syms = y if syms is None else syms.unionByName(y)
        defs = (
            defs.join(dropped, ["ord", "doc_id"], "left_anti").drop("ord").distinct().cache()
        )
        defs.select("symbol_id", "specifier", "doc_id", "position").write.mode(
            "overwrite"
        ).parquet(str(out / "symbol_definitions"))
        syms.distinct().join(
            defs.select(F.col("symbol_id").alias("id")).distinct(), "id", "left_semi"
        ).write.mode("overwrite").parquet(str(out / "symbols"))
        if "lang" in survivors.columns:
            pkgs = survivors.select(F.upper("lang").alias("name")).distinct()
            pkgs.select(F.md5("name").alias("id"), "name").write.mode("overwrite").parquet(
                str(out / "packages")
            )
            survivors.groupBy(F.upper("lang").alias("name")).agg(
                F.min("doc_id").alias("doc_id")
            ).select(
                F.md5("name").alias("package_id"),
                F.lit("DEFPACKAGE").alias("specifier"),
                "doc_id",
                F.lit(0).cast("long").alias("position"),
            ).write.mode("overwrite").parquet(str(out / "package_definitions"))
        defs.unpersist()
    survivors.unpersist()
    dropped.unpersist()
    return stats


def compact_partials(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    fanin: int = 8,
    dedup_docs: bool = False,
) -> dict:
    """Tiered compaction: reduce many partial indexes (e.g. the
    per-micro-batch outputs of streaming.incremental_index_stream) to
    one, merging at most ``fanin`` inputs per step — the LSM-style
    policy that bounds per-merge memory and write amplification when
    partials arrive continuously. Merging is associative (tested: tree
    == flat == single-shot), so the tree shape is purely an
    operational choice.

    Intermediate tiers land under ``<out_dir>.tiers/``; the final tier
    writes ``out_dir`` itself. Only the FINAL tier derives the champion
    sidecar — an intermediate tier's sidecar would be thrown away by
    the next merge, so deriving it per tier was pure write
    amplification in exactly the continuous-ingest path where
    compaction runs most (each derivation is a head-term decode skim).
    """
    if fanin < 2:
        raise ValueError("fanin must be >= 2 (each step must reduce the input count)")
    tier = 0
    dirs = list(index_dirs)
    while len(dirs) > 1:
        if len(dirs) <= fanin:
            merge_indexes(spark, dirs, out_dir, dedup_docs=dedup_docs)
            return load_stats(out_dir)
        nxt: list[str] = []
        for i in range(0, len(dirs), fanin):
            group = dirs[i : i + fanin]
            if len(group) == 1:
                nxt.append(group[0])
                continue
            d = f"{out_dir}.tiers/t{tier}_{i // fanin}"
            merge_indexes(spark, group, d, dedup_docs=dedup_docs,
                          derive_champions=False)
            nxt.append(d)
        dirs = nxt
        tier += 1
    # single input: a merge of one is a copy-through merge
    merge_indexes(spark, dirs, out_dir, dedup_docs=dedup_docs)
    return load_stats(out_dir)
