"""Champion lists: per-term top-B postings by impact, the seed for
MaxScore's threshold (the "impact-ordered head postings" lever for
head-term query latency — Brown/Fagin champion lists as used in
WAND-family engines; cf. the Broder et al. WAND paper's idea of a
priming threshold).

Why it is SAFE (and stays stats-free, CLAUDE.md invariant):

- A champion row stores (doc_id, tf, dl) — never a score. At query
  time the EXACT impacts of those (tf, dl) pairs are recomputed with
  the CURRENT corpus stats (n_docs, avgdl, df_global), so the numbers
  can never go stale.
- The threshold theta0 derived from champions is the kth-largest
  per-doc SUM of champion impacts. Each champion partial sum is <= the
  doc's true total BM25 score, so theta0 <= the true kth-best total —
  a valid prune threshold: every pruning decision it drives keeps the
  exact top-k (see wand.shard_topk).
- Which B postings a term's list holds was chosen with the BUILD-time
  avgdl ordering. After merges shift avgdl the stored set may no
  longer be the exact top-B — that degrades theta0's TIGHTNESS (less
  pruning), never correctness, because ANY subset of a term's real
  postings yields a valid lower bound. merge re-derives the sidecar
  from the merged segments anyway.

Only terms with df_global >= min_df get a list: decoding a tail term
is already cheap, and the sidecar stays tiny (head terms are the Zipf
head — thousands of terms, not the whole vocabulary).

Cited parity: the reference has no analogue (it does exhaustive
conjunctive resolution, ref lib/searcher/phrase_searcher.go:211-245);
this is part of the WAND/top-k surface the north rule adds.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searty_spark import BM25_B, BM25_K1

CHAMPION_SCHEMA = (
    "term string, doc_ids array<long>, tfs array<long>, dls array<long>"
)

CHAMPION_FORMAT = 2


def segment_fingerprint(segments: DataFrame) -> int:
    """Deterministic identity of a segment table: an order-independent
    sum of per-row hashes over (term, shard, df, cf) PLUS the per-block
    metadata (block_last_doc, block_max_tf, block_min_dl,
    block_offset). Computed WITHOUT touching blobs (the block arrays
    are tiny next to the encoded postings), so it costs one scan of
    the n_terms x n_shards row table. theta0 soundness requires every
    champion row to be a real posting of the CURRENT segments; the
    sidecar stamps this fingerprint at build time and ChampionClient
    degrades to theta0=0 (no pruning, still exact) when the stamp no
    longer matches — e.g. a sidecar copied between indexes, or segments
    rewritten by a path that forgot to re-derive.

    This is a strong HEURISTIC guard, not a cryptographic proof over
    the blobs: a rewrite that redistributes tf/dl while preserving
    df, cf, every block's last_doc/max_tf/min_dl AND every encoded
    block's byte offsets would pass — folding the block stats in
    (format 2) closes the realistic version of that hole (the format-1
    stamp over (term, shard, df, cf) alone missed any same-df
    redistribution). Summed in decimal(38,0) (ANSI long sum would
    overflow) and reduced mod 2^64 driver-side."""
    return _table_fingerprint(segments, _SEGMENT_FP_COLS)


_SEGMENT_FP_COLS = [
    "term", "shard", "df", "cf",
    "block_last_doc", "block_max_tf", "block_min_dl", "block_offset",
]
_SIDECAR_FP_COLS = ["term", "doc_ids", "tfs", "dls"]


def fingerprint_expr(cols: list[str]):
    """The aggregate expression behind _table_fingerprint, exposed so a
    job that already scans the rows can compute the fingerprint as an
    ``observe`` metric instead of paying a second scan (write_index's
    dictionary stage hosts the segment fingerprint this way; the
    champions write hosts its own sidecar stamp). Exact integer math
    (xxhash64 summed in decimal(38,0)), so the observed value equals
    the standalone recompute bit-for-bit."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("fp")


def _fp_mod(raw) -> int:
    return int(raw or 0) % (1 << 64)


def sidecar_fingerprint(champions: DataFrame) -> int:
    """Content identity of the champions parquet itself — stamping the
    segment fingerprint alone would pass a sidecar DIRECTORY copied in
    from another index (the meta file describes the segments, not the
    parquet next to it)."""
    return _table_fingerprint(champions, _SIDECAR_FP_COLS)


def _table_fingerprint(df: DataFrame, cols: list[str]) -> int:
    row = df.agg(fingerprint_expr(cols)).collect()[0]
    return _fp_mod(row["fp"])


def g_impact(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    """Idf-less BM25 impact tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)).
    Within one term idf is a positive constant, so ordering postings by
    g orders them by true impact — the build-time ranking key."""
    tf = tfs.astype(np.float64)
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dls.astype(np.float64) / avgdl)
    return tf * (BM25_K1 + 1.0) / denom


def default_min_df(n_docs: int) -> int:
    """Champion lists pay off where full decode hurts: terms whose
    posting list is a meaningful fraction of the corpus. ~1% of docs,
    floored so tiny test corpora get no lists (theta0=0, plain path)."""
    return max(256, n_docs // 100)


def head_terms(
    df_source: DataFrame, min_df: int, max_terms: int, df_col: str = "df"
) -> list[str]:
    """The championed vocabulary: terms with df_global >= min_df,
    capped at max_terms (df_global DESC, term tiebreak — deterministic).
    ``df_source`` is either the persisted dictionary (term, df_global —
    already aggregated, the cheap path write_index uses) or the raw
    segment-row table (per-shard df rows, summed here). Bounded driver
    fetch: at most max_terms strings."""
    if "df_global" in df_source.columns:
        agg = df_source.select("term", "df_global")
    else:
        agg = df_source.groupBy("term").agg(F.sum(df_col).alias("df_global"))
    rows = (
        agg.filter(F.col("df_global") >= min_df)
        .orderBy(F.desc("df_global"), F.asc("term"))
        .limit(max_terms)
        .select("term")
        .collect()
    )
    return [r["term"] for r in rows]


def build_champions(
    segments: DataFrame,
    avgdl: float,
    budget: int = 64,
    min_df: int = 1024,
    max_terms: int = 1024,
    heads: list[str] | None = None,
) -> DataFrame:
    """segments -> (term, doc_ids, tfs, dls): each head term's top-
    ``budget`` postings by g_impact, arrays ordered (g DESC, doc_id).

    Plan: the head-term list (<= max_terms strings, bounded) becomes a
    pushed isin filter on the segment scan. Each (shard, term) row
    decodes ONCE and emits only its local top-B rows (map-side
    reduction BEFORE the shuffle — blobs never move); one
    groupBy(term) applyInPandas cuts the global top-B and assembles
    the arrays."""
    # min_df floors the candidates; max_terms CAPS the build cost and
    # sidecar size deterministically (df_global DESC, term tiebreak):
    # theta seeding only ever needs the hottest terms — a corpus whose
    # vocabulary is so small that thousands of terms clear min_df (the
    # synthetic fixture does) must not turn the champions stage into a
    # decode pass over a third of the dictionary.
    if heads is None:
        heads = head_terms(segments, min_df, max_terms)
    # isin is a pushed filter: the segment files' term statistics
    # prune row groups, as for a query.
    rows = segments.filter(F.col("term").isin(heads)).select(
        "term", "blob", "block_offset", "block_max_tf", "block_min_dl"
    )

    def local_top(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from searty_spark.segments import decode_segment_scores

        for pdf in batches:
            for rec in pdf.to_dict("records"):
                # block-bound-pruned top-B: g(tf, dl) <= g(max_tf,
                # min_dl) per block, so decoding blocks in descending
                # bound order can stop once B postings are held and the
                # running Bth-best is strictly above every remaining
                # bound (ties decode — the selected set must equal the
                # full computation's exactly, tested vs brute force).
                # Head terms are exactly the rows where full decode
                # hurts; this turns the champions build stage from a
                # full decode of the corpus's heaviest terms into a
                # few-blocks-per-row skim.
                bounds = g_impact(
                    np.asarray(rec["block_max_tf"], dtype=np.float64),
                    np.asarray(rec["block_min_dl"], dtype=np.float64),
                    avgdl,
                )
                border = np.argsort(-bounds, kind="stable")
                parts: list[tuple] = []
                have, kth = 0, -np.inf
                for b in border:
                    if have >= budget and kth > bounds[b]:
                        break
                    d, t, l = decode_segment_scores(rec, [int(b)])
                    g = g_impact(t, l, avgdl)
                    parts.append((d.astype(np.int64), t, l, g))
                    have += d.size
                    if have >= budget:
                        allg = np.concatenate([p[3] for p in parts])
                        kth = float(np.partition(allg, -budget)[-budget])
                if not parts:
                    continue
                docs = np.concatenate([p[0] for p in parts])
                tfs = np.concatenate([p[1] for p in parts])
                dls = np.concatenate([p[2] for p in parts])
                g = np.concatenate([p[3] for p in parts])
                order = np.lexsort((docs, -g))[:budget]
                yield pd.DataFrame(
                    {
                        "term": rec["term"],
                        "doc_id": docs[order],
                        "tf": tfs[order].astype(np.int64),
                        "dl": dls[order].astype(np.int64),
                        "g": g[order],
                    }
                )

    local = rows.mapInPandas(
        local_top, "term string, doc_id long, tf long, dl long, g double"
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        # global top-B directly inside the per-term group (each term
        # carries at most n_shards * budget local-top rows) — one
        # shuffle, no separate window stage
        pdf = pdf.sort_values(["g", "doc_id"], ascending=[False, True]).head(budget)
        return pd.DataFrame(
            {
                "term": [pdf["term"].iloc[0]],
                "doc_ids": [pdf["doc_id"].to_numpy(dtype=np.int64).tolist()],
                "tfs": [pdf["tf"].to_numpy(dtype=np.int64).tolist()],
                "dls": [pdf["dl"].to_numpy(dtype=np.int64).tolist()],
            }
        )

    return local.groupBy("term").applyInPandas(assemble, CHAMPION_SCHEMA)


def write_champions(
    segments: DataFrame,
    out_dir: str,
    n_docs: int,
    avgdl: float,
    budget: int = 64,
    min_df: int | None = None,
    max_terms: int = 1024,
    dictionary: DataFrame | None = None,
    seg_fp: int | None = None,
) -> int:
    """Build + persist the sidecar; returns the number of championed
    terms. ``min_df=None`` -> default_min_df(n_docs). Pass the
    persisted ``dictionary`` when one exists (write_index does): head
    selection then reads the tiny (term, df_global) table instead of
    re-aggregating the segment rows. Writes champions_meta.json with
    TWO stamps: the segment fingerprint (are these still the segments
    the sidecar was derived from?) and a sidecar content hash (is this
    parquet the one that was stamped?) — ChampionClient requires both
    to match and degrades to theta0=0 otherwise, so neither a
    segments rewrite nor a sidecar dir copied in from another index
    can make pruning unsound.

    Job economy: the sidecar stamp rides the write itself as an
    ``observe`` metric (no read-back scan), and ``seg_fp`` accepts a
    segment fingerprint the caller already observed on a job that
    scanned the rows anyway (write_index's dictionary stage does) —
    with it, the whole stage is two Spark jobs (heads fetch + skim/
    write) instead of four."""
    from pyspark.sql import Observation

    from searty_spark.index import write_term_sorted

    if min_df is None:
        min_df = default_min_df(n_docs)
    out = Path(out_dir) / "champions"
    heads = head_terms(dictionary if dictionary is not None else segments,
                       min_df, max_terms)
    ch = build_champions(
        segments, avgdl, budget=budget, min_df=min_df, max_terms=max_terms,
        heads=heads,
    )
    # The sidecar job is BOUNDED (<= max_terms*budget = 64k rows after
    # the map-side cut) no matter the corpus size, so AQE's per-stage
    # materialize-and-replan only adds latency here (measured ~2x the
    # write wall at sf0.1) and its skew/coalesce help can never apply.
    # Conf flips are session-wide: write_champions runs in the
    # single-threaded build/merge orchestration, restored in finally.
    conf = segments.sparkSession.conf
    prev_aqe = conf.get("spark.sql.adaptive.enabled")
    prev_sp = conf.get("spark.sql.shuffle.partitions")
    obs = Observation("sidecar_fp")
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", "8")
        write_term_sorted(ch.observe(obs, fingerprint_expr(_SIDECAR_FP_COLS)), str(out))
    finally:
        conf.set("spark.sql.adaptive.enabled", prev_aqe)
        conf.set("spark.sql.shuffle.partitions", prev_sp)
    meta = {
        "format": CHAMPION_FORMAT,
        "fingerprint": segment_fingerprint(segments) if seg_fp is None else seg_fp,
        "sidecar_fingerprint": _fp_mod(obs.get["fp"]),
    }
    (Path(out_dir) / "champions_meta.json").write_text(json.dumps(meta))
    # every head term has >= min_df postings, so each emits exactly one
    # sidecar row — no read-back count job needed
    return len(heads)


def champion_theta(
    champs: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    df_lookup: dict[str, int],
    k: int,
    n_docs: int,
    avgdl: float,
) -> float:
    """Driver-side theta seed: kth-largest per-doc sum of EXACT
    champion impacts under the current stats. 0.0 (no pruning) when
    fewer than k champion docs exist or no term has a list."""
    from searty_spark.wand import _impacts

    parts_docs, parts_imp = [], []
    for term, (docs, tfs, dls) in champs.items():
        df = df_lookup.get(term)
        if df is None or len(docs) == 0:
            continue
        imp = _impacts(
            np.asarray(tfs, dtype=np.float64),
            np.asarray(dls, dtype=np.float64),
            n_docs,
            avgdl,
            int(df),
        )
        parts_docs.append(np.asarray(docs, dtype=np.int64))
        parts_imp.append(imp)
    if not parts_docs:
        return 0.0
    all_docs = np.concatenate(parts_docs)
    all_imp = np.concatenate(parts_imp)
    docs, inv = np.unique(all_docs, return_inverse=True)
    sums = np.zeros(docs.size, dtype=np.float64)
    np.add.at(sums, inv, all_imp)
    if sums.size < k:
        return 0.0
    return float(np.partition(sums, -k)[-k])


_VERIFY_CACHE: dict[tuple, bool] = {}
_NAMES_CACHE: dict[tuple, frozenset[str]] = {}


def _sidecar_state_key(index_dir: str) -> tuple:
    """Filesystem identity of (sidecar, segments) used to memoize the
    fingerprint verification and the championed term names per
    process: one-shot paths (query_index
    constructs a ChampionClient per query) must not pay a scan per
    query. FILE mtimes are folded in alongside directory mtimes — an
    in-place part-file overwrite leaves its directory's mtime alone,
    and must not serve a cached verdict."""
    import os

    d = Path(index_dir).resolve()
    keys: list[int] = []
    for p in ("champions_meta.json", "stats.json"):
        f = d / p
        keys.append(f.stat().st_mtime_ns if f.exists() else -1)
    for sub in ("segments", "champions"):
        mx = -1
        n = 0
        p = d / sub
        if p.exists():
            for root, _dirs, files in os.walk(p):
                mx = max(mx, os.stat(root).st_mtime_ns)
                for fn in files:
                    mx = max(mx, os.stat(os.path.join(root, fn)).st_mtime_ns)
                    n += 1
        keys.append(mx)
        keys.append(n)
    return (str(d), *keys)


class ChampionClient:
    """Per-query champion fetch — the same deployment shape as
    wand.TermDfClient: a championed term is a pyarrow point read of the
    term-sorted sidecar in the driver (index.TermTable), no Spark job,
    and repeats are answered from index's byte-bounded cache of decoded
    row groups; the client keeps no per-term state. The championed term
    names (at most write_champions' ``max_terms`` strings) load once
    per process per sidecar state, so a query whose terms have no list
    reads nothing."""

    def __init__(self, spark: SparkSession, index_dir: str, verify: bool = True):
        """``verify=True`` (default) recomputes the segment fingerprint
        once at init (one scan of the tiny row table, blobs untouched)
        and compares it to the stamp write_champions left in
        champions_meta.json. On mismatch — a sidecar copied from
        another index, or segments rewritten without re-deriving — the
        client degrades to an EMPTY sidecar: every lookup returns {},
        champion_theta yields 0.0, pruning is off, results stay exact.
        Mirrors the stats.json format fail-fast policy, but soft: a
        missing/stale sidecar is a performance state, not an error.
        Both the verdict and the term names are memoized per process
        under _sidecar_state_key; the verification runs on Spark (the
        stamps are JVM xxhash64 sums), everything else in the driver."""
        import pyarrow.parquet as pq

        from searty_spark.index import TermTable

        p = Path(index_dir) / "champions"
        self._table = None
        self.stale = False
        self._names: frozenset[str] = frozenset()
        if p.exists():
            key = _sidecar_state_key(index_dir)
            if verify and not self._verified(spark, index_dir, key):
                self.stale = True
            else:
                self._table = TermTable(str(p), ["doc_ids", "tfs", "dls"])
                if key not in _NAMES_CACHE:  # bounded: at most max_terms rows
                    _NAMES_CACHE[key] = frozenset(
                        pq.read_table(p, columns=["term"])["term"].to_pylist()
                    )
                self._names = _NAMES_CACHE[key]

    def _verified(self, spark: SparkSession, index_dir: str, key: tuple) -> bool:
        meta_p = Path(index_dir) / "champions_meta.json"
        if not meta_p.exists():
            return False  # pre-stamp sidecar: unprovable
        ok = _VERIFY_CACHE.get(key)
        if ok is None:
            meta = json.loads(meta_p.read_text())
            from searty_spark.index import load_segments

            # the known schema spares the schema-inference job
            side = spark.read.schema(CHAMPION_SCHEMA).parquet(
                str(Path(index_dir) / "champions")
            )
            ok = (
                meta.get("format") == CHAMPION_FORMAT
                and meta.get("fingerprint")
                == segment_fingerprint(load_segments(spark, index_dir))
                and meta.get("sidecar_fingerprint") == sidecar_fingerprint(side)
            )
            _VERIFY_CACHE[key] = ok
        return ok

    def lookup(self, terms) -> dict[str, tuple]:
        wanted = [t for t in terms if t in self._names]
        if not wanted:
            return {}
        rows = self._table.rows(wanted)
        return {
            t: tuple(np.asarray(a, dtype=np.int64) for a in rows[t])
            for t in wanted if t in rows
        }
