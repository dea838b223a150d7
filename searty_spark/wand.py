"""Top-k BM25 over compressed segments with MaxScore/block-max pruning.

Exact top-k (rank- and score-identical to the DataFrame path and the
brute-force oracle), structured like the query pipeline of SURVEY.md
§3.3 (ref lib/searcher/phrase_searcher.go:211-245, with the WAND-style
pruning the north rule adds where the reference does exhaustive
intersection — Q4 hook):

1. driver: tokenize query, prune the segment scan to the query terms
   (predicate pushdown: row groups skipped by their term statistics);
2. per shard (``_per_shard``: mapInPandas over the segment rows
   repartitioned by shard, one kernel call per shard): MaxScore —
   - seed the threshold from the highest-max-impact term's postings,
   - split terms into essential / non-essential by cumulative bound,
   - TAAT-score essential terms vectorized (np.add.at),
   - candidates = docs whose essential score + Σ non-essential bounds
     clears the threshold; decode ONLY the non-essential blocks that
     can contain candidates (searchsorted on block_last_doc),
   - exact rescore of candidates -> local top-k (``_shard_request``,
     which ``serve_topk`` also runs);
3. global top-k = orderBy(score desc, doc_id) + limit over the union
   of local top-ks (exact: each doc lives in one shard).

Per-block upper bounds are reconstructed at query time from the
stats-free block metadata: bound = idf(df_global) * g(max_tf, min_dl),
where idf is the term's positive scalar and g is increasing in tf /
decreasing in dl — always >= every true impact in the block, so
pruning never changes results. df_global itself is the sum of the
term's per-shard ``df`` values: either taken from the dictionary
(``df_lookup``, a dict) or aggregated from the pruned segment rows
inside the same query plan (no extra job either way).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searty_spark import BM25_B, BM25_K1, NGRAM_N, SCORE_NDIGITS
from searty_spark.segments import bm25_impact, decode_score_block
from searty_spark.tokenize import tokenize

# the columns BM25 scoring actually reads — everything the score
# kernels touch, nothing the phrase path needs (pos_blob et al.)
SCORE_COLS = [
    "shard", "term", "df", "blob",
    "block_offset", "block_last_doc", "block_max_tf", "block_min_dl",
]


def _impacts(tfs, dls, n_docs: int, avgdl: float, df_global: int) -> np.ndarray:
    idf = math.log((n_docs - df_global + 0.5) / (df_global + 0.5) + 1.0)
    tf = tfs.astype(np.float64)
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dls.astype(np.float64) / avgdl)
    return idf * tf * (BM25_K1 + 1.0) / denom


def _decode_blocks(row: dict, blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    blob = row["blob"]
    offs = list(row["block_offset"]) + [len(blob)]
    ds, ts, ls = [], [], []
    for b in blocks:
        d, t, l = decode_score_block(blob[offs[b] : offs[b + 1]])
        ds.append(d)
        ts.append(t)
        ls.append(l)
    if not ds:
        z = np.empty(0, dtype=np.uint64)
        return z, z.copy(), z.copy()
    return np.concatenate(ds), np.concatenate(ts), np.concatenate(ls)


def _require_df(row: dict) -> int:
    v = row["df_global"]
    if v is None or v != v:  # None or NaN (nulls arrive as NaN via Arrow)
        raise ValueError(
            f"df_lookup has no entry for term {row['term']!r}, which has "
            "postings — the lookup must cover every indexed query term"
        )
    return int(row["df_global"])


def _term_scores(row: dict, n_docs: int, avgdl: float, blocks=None):
    blocks = blocks if blocks is not None else range(len(row["block_offset"]))
    docs, tfs, dls = _decode_blocks(row, blocks)
    return docs.astype(np.int64), _impacts(tfs, dls, n_docs, avgdl, _require_df(row))


def _check_duplicate_term_rows(rows: list[dict]) -> None:
    """Duplicate (shard, term) rows come from unmerged partial indexes.
    Summing their impacts is exact BM25 only while each duplicate's doc
    set is disjoint (impact(tf1)+impact(tf2) != impact(tf1+tf2)); an
    overlapping doc would be silently mis-scored, so verify
    disjointness and raise — the symmetric guard to the
    wand_topk_batch / phrase path raises. Decodes doc_ids only (no
    impact math; the scoring pass re-decodes with block pruning)."""
    from collections import Counter

    counts = Counter(r["term"] for r in rows)
    for term, n in counts.items():
        if n < 2:
            continue
        all_docs = np.concatenate(
            [
                _decode_blocks(r, range(len(r["block_offset"])))[0]
                for r in rows
                if r["term"] == term
            ]
        ).astype(np.int64)
        if np.unique(all_docs).size != all_docs.size:
            raise ValueError(
                f"duplicate segment rows for term {term!r} share doc_ids — "
                "unmerged partial indexes overlap; merge them before querying"
            )


def _rows_by_term(rows: list[dict]) -> dict[str, dict]:
    """term -> the shard's one row for it. >1 row per (shard, term)
    means unmerged partial indexes: keeping one would silently drop
    postings, so the term-keyed kernels (phrase, batch) raise — merge
    the partial indexes first (shard_topk's list form accepts disjoint
    duplicates instead)."""
    out: dict[str, dict] = {}
    for rec in rows:
        if rec["term"] in out:
            raise ValueError(
                f"duplicate segment row for (shard={rec['shard']}, "
                f"term={rec['term']!r}); merge partial indexes before querying"
            )
        out[rec["term"]] = rec
    return out


def _gather_add(
    r: dict,
    blocks: list[int],
    cdocs: np.ndarray,
    cscores: np.ndarray,
    n_docs: int,
    avgdl: float,
) -> np.ndarray:
    """Decode the given blocks of one term row and add each candidate
    doc's exact impact to its running score (one searchsorted gather,
    no per-doc Python)."""
    tdocs, tsc = _term_scores(r, n_docs, avgdl, blocks)
    idx = np.searchsorted(tdocs, cdocs)
    ok = idx < tdocs.size
    hit = ok.copy()
    hit[ok] = tdocs[idx[ok]] == cdocs[ok]
    add = np.zeros(cdocs.size, dtype=np.float64)
    add[hit] = tsc[idx[hit]]
    return cscores + add


def _candidate_blocks(r: dict, cdocs: np.ndarray) -> np.ndarray:
    """Block ids of ``r`` that can contain any of the (sorted)
    candidate docs — searchsorted on block_last_doc."""
    last = np.asarray(r["block_last_doc"], dtype=np.int64)
    first_needed = np.searchsorted(last, cdocs, side="left")
    return np.unique(first_needed[first_needed < last.size])


def shard_topk(
    rows: list[dict], n_docs: int, avgdl: float, k: int, theta0: float = 0.0
) -> pd.DataFrame:
    """Exact MaxScore top-k for one shard's query-term segment rows.

    ``theta0`` is an optional EXTERNAL lower bound on the global
    kth-best total score (champions.champion_theta) — with it, the
    kernel block-prunes the ESSENTIAL terms too (including the seed):
    a block b of term i may be skipped when
    bound(b) + sum(other terms' upper bounds) < theta, because every
    doc in it then provably scores below the global kth best. Docs that
    were partially scored but may have contributions in skipped blocks
    are exactly rescored from just those blocks before the top-k cut,
    so results stay identical to the exhaustive path (tested). With
    theta0 == 0 the behavior is the original seed-then-split MaxScore.

    Duplicate (shard, term) rows (unmerged partial indexes) are
    accepted when their doc sets are disjoint — then per-row scoring
    sums to exact BM25 — and rejected otherwise."""
    if not rows:
        return pd.DataFrame({"doc_id": [], "score": []})
    if len({r["term"] for r in rows}) != len(rows):
        _check_duplicate_term_rows(rows)
    bubs = [
        bm25_impact(
            np.asarray(r["block_max_tf"], dtype=np.float64),
            np.asarray(r["block_min_dl"], dtype=np.float64),
            n_docs,
            avgdl,
            _require_df(r),
        )
        for r in rows
    ]
    ubs = np.array([float(b.max()) for b in bubs])
    order = np.argsort(-ubs, kind="stable")  # descending upper bound
    rows = [rows[i] for i in order]
    bubs = [bubs[i] for i in order]
    ubs = ubs[order]
    n_terms = len(rows)

    # PAD makes every pruning decision safe under the final 1e-6
    # rounding of the ranking key (a pruned doc's ROUNDED score is
    # strictly below the kth's — see tests/test_wand.py).
    PAD = 2e-6
    theta = (theta0 - PAD) if theta0 > 0.0 else -np.inf
    skipped: list[tuple[dict, np.ndarray, float]] = []

    # --- seed term: decode, block-pruned by theta0 when one is given
    # (with theta = -inf the keep test is vacuous -> full decode, the
    # original behavior). Skip rule for block b of term i:
    # bound(b) + sum_{j != i} ub_j < theta => no doc in b can reach the
    # global kth best, even with maximal help from every other term.
    bub0, other0 = bubs[0], float(ubs[1:].sum())
    keep0 = np.nonzero(bub0 + other0 >= theta)[0]
    if keep0.size == bub0.size:
        seed_docs, seed_sc = _term_scores(rows[0], n_docs, avgdl)
    else:
        sk = np.setdiff1d(np.arange(bub0.size), keep0)
        skipped.append((rows[0], sk, float(bub0[sk].max())))
        if keep0.size:
            seed_docs, seed_sc = _term_scores(rows[0], n_docs, avgdl, keep0.tolist())
        else:
            seed_docs = np.empty(0, dtype=np.int64)
            seed_sc = np.empty(0, dtype=np.float64)
    # decoded seed impacts are exact per-doc partials -> valid bound
    theta = max(theta, _kth(seed_sc, k) - PAD)
    if n_terms == 1:
        return _topk_frame(seed_docs, seed_sc, k)

    # --- split essential / non-essential by cumulative bound (asc)
    cum = np.cumsum(ubs[::-1])[::-1]  # cum[i] = ubs[i] + ubs[i+1] + ...
    # non-essential suffix: maximal suffix with sum(ubs) < theta
    ness_start = n_terms
    for i in range(n_terms - 1, 0, -1):
        if cum[i] < theta:
            ness_start = i
        else:
            break
    essential, non_essential = rows[:ness_start], rows[ness_start:]
    ub_ness = float(cum[ness_start]) if ness_start < n_terms else 0.0

    # --- TAAT over essential terms (term 0 already decoded), each
    # decode block-pruned by the same skip rule
    ess_ub_sum = float(ubs[:ness_start].sum())
    parts = [(seed_docs, seed_sc)]
    for i, r in enumerate(essential[1:], start=1):
        bub = bubs[i]
        other = ess_ub_sum - float(ubs[i]) + ub_ness
        keep = np.nonzero(bub + other >= theta)[0]
        if keep.size == bub.size:
            parts.append(_term_scores(r, n_docs, avgdl))
        else:
            sk = np.setdiff1d(np.arange(bub.size), keep)
            skipped.append((r, sk, float(bub[sk].max())))
            if keep.size:
                parts.append(_term_scores(r, n_docs, avgdl, keep.tolist()))
    all_docs = np.concatenate([p[0] for p in parts])
    all_sc = np.concatenate([p[1] for p in parts])
    if all_docs.size == 0:
        # every essential block provably scores below the global kth
        # best: this shard contributes nothing to the top-k
        return pd.DataFrame({"doc_id": [], "score": []})
    docs, inv = np.unique(all_docs, return_inverse=True)
    scores = np.zeros(docs.size, dtype=np.float64)
    np.add.at(scores, inv, all_sc)

    # partial sums are lower bounds on totals -> still a valid theta
    theta = max(theta, _kth(scores, k) - PAD)
    slack = sum(s[2] for s in skipped)  # max possible skipped impact
    cand = scores + ub_ness + slack >= theta - 1e-12
    cdocs, cscores = docs[cand], scores[cand]

    # --- exact rescore: skipped essential blocks first (restores exact
    # scores for candidates that ALSO live in a pruned block), then
    # non-essential terms — in both cases only blocks that can contain
    # candidates decode
    for r, sk, _ in skipped:
        needed = np.intersect1d(_candidate_blocks(r, cdocs), sk)
        if needed.size:
            cscores = _gather_add(r, needed.tolist(), cdocs, cscores, n_docs, avgdl)
    for r in non_essential:
        blocks = _candidate_blocks(r, cdocs)
        if blocks.size:
            cscores = _gather_add(r, blocks.tolist(), cdocs, cscores, n_docs, avgdl)
    return _topk_frame(cdocs, cscores, k)


def _kth(scores: np.ndarray, k: int) -> float:
    """kth-largest, or 0.0 when fewer than k entries exist (only then
    is it NOT a valid lower bound on the true kth-best total, so no
    pruning leverage — all impacts are positive, 0 is always safe)."""
    if scores.size < k:
        return 0.0
    return float(np.partition(scores, -k)[-k])


def _topk_frame(docs: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    r = np.round(scores, SCORE_NDIGITS)
    order = np.lexsort((docs, -r))[:k]
    return pd.DataFrame({"doc_id": docs[order].astype(np.int64), "score": r[order]})


def _shard_request(
    rows: list[dict], mode: str, toks: list[str], n_docs: int, avgdl: float,
    k: int, theta0: float = 0.0,
) -> pd.DataFrame:
    """One request's local top-k on one shard, in (score DESC, doc_id
    ASC) order: mode "bm25" is shard_topk over ``rows`` (theta0 as
    there), mode "phrase" is _shard_phrase_bm25 over the trigram
    sequence ``toks`` — (doc_id, score, n_matches) — cut to k. The
    one-shot entries and serve_topk both answer through it."""
    if mode != "phrase":
        return shard_topk(rows, n_docs, avgdl, k, theta0)
    from searty_spark.phrase_seg import _shard_phrase_bm25

    f = _shard_phrase_bm25(_rows_by_term(rows), toks, n_docs, avgdl)
    return f.iloc[np.lexsort((f["doc_id"].to_numpy(), -f["score"].to_numpy()))[:k]]


class TermDfClient:
    """Per-query term->df_global fetch from the on-disk dictionary — the
    query-server deployment shape. A lookup is a pyarrow point read in
    the driver (index.TermTable: the dictionary is term-sorted, and the
    footers' term ranges pick the one small row group a term can lie
    in), so no lookup starts a Spark job and the dictionary never moves
    to the driver whole. Repeats are answered from index's byte-bounded
    cache of decoded row groups; the client itself keeps no per-term
    state. ``lookup(terms)`` returns a plain dict usable as
    ``df_lookup`` — terms absent from the dictionary are omitted, which
    is safe: the dictionary is derived from the segment rows, so an
    absent term has no postings and never reaches the scoring kernel.
    ``spark`` is unused; it stays for the callers' sake."""

    def __init__(self, spark, index_dir: str):
        from searty_spark.index import TermTable

        self._table = TermTable(f"{index_dir}/dictionary", ["df_global"])

    def lookup(self, terms) -> dict[str, int]:
        return {t: int(df) for t, (df,) in self._table.rows(terms).items()}


def _with_df_global(pruned: DataFrame, terms, df_lookup) -> DataFrame:
    """Attach df_global to the pruned segment rows. ``df_lookup`` is
    either a dict term -> global df (TermDfClient.lookup: driver point
    reads, no Spark job), injected as a literal map with ZERO extra plan
    nodes or exchanges, or None: the sum of the term's per-shard ``df``
    over the pruned rows themselves (adds one small exchange)."""
    if df_lookup is None:
        dfg = pruned.groupBy("term").agg(F.sum("df").cast("long").alias("df_global"))
        return pruned.join(F.broadcast(dfg), "term")
    if not isinstance(df_lookup, dict):
        raise TypeError(f"df_lookup must be a dict or None, not {type(df_lookup).__name__}")
    # terms absent from the dict map to NULL; if such a term turns
    # out to HAVE segment rows, the scoring kernel raises rather
    # than silently over-weighting it with df=0 (a term with no
    # rows never reaches the kernel, so a FULL dictionary is
    # always safe even for query terms missing from the corpus)
    present = [t for t in terms if t in df_lookup]
    if not present:
        return pruned.withColumn("df_global", F.lit(None).cast("long"))
    mapping = F.create_map(
        *[x for t in present for x in (F.lit(t), F.lit(int(df_lookup[t])))]
    )
    return pruned.withColumn("df_global", mapping[F.col("term")])


_NO_DF = object()  # _per_shard attaches no df_global


def _per_shard(
    segments: DataFrame,
    terms: list[str],
    cols: list[str],
    kernel,
    schema: str,
    n_shards: int | None,
    df_lookup=_NO_DF,
) -> DataFrame:
    """The plan of every segment query: ``kernel(rows)`` once per shard
    over that shard's segment rows of ``terms`` (row dicts, df_global
    attached when a ``df_lookup`` is passed); the frames it returns,
    None skipped, make up the result, of ``schema``.

    The term filter reaches the parquet scan, whose row-group term
    statistics skip the groups no term can lie in. ``cols`` is projected
    EXPLICITLY: mapInPandas consumes its child's whole schema, so
    Catalyst cannot prune for us, and a BM25 query would carry pos_blob
    (often the largest column) through the exchange and Arrow.
    ``n_shards`` caps the parallelism at the shard count (else
    spark.sql.shuffle.partitions schedules mostly-empty tasks); over a
    frame already hash-partitioned that way, e.g. a cached
    ``repartition(n_shards, "shard")``, Spark drops the exchange."""
    if not terms:
        return segments.sparkSession.createDataFrame([], schema)
    pruned = segments.filter(F.col("term").isin(terms)).select(*cols)
    if df_lookup is not _NO_DF:
        pruned = _with_df_global(pruned, terms, df_lookup)
    rep = pruned.repartition(n_shards, "shard") if n_shards else pruned.repartition("shard")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        by_shard: dict[int, list[dict]] = {}
        for pdf in batches:
            for rec in pdf.to_dict("records"):
                by_shard.setdefault(int(rec["shard"]), []).append(rec)
        for rows in by_shard.values():
            frame = kernel(rows)
            if frame is not None:
                yield frame

    return rep.mapInPandas(run, schema)


def wand_topk(
    segments: DataFrame,
    dstats: DataFrame,
    query: str,
    k: int = 10,
    n: int = NGRAM_N,
    n_docs: int | None = None,
    avgdl: float | None = None,
    n_shards: int | None = None,
    df_lookup=None,
    terms: list[str] | None = None,
    theta0: float = 0.0,
    pre_partitioned: bool = False,
) -> DataFrame:
    """(doc_id, score) exact BM25 top-k from the segment table.

    ``n_docs`` / ``avgdl`` default to ``dstats``' count and mean
    ``doc_len`` (one job); ``df_lookup`` is a dict term -> df_global or
    None (_with_df_global); ``n_shards`` as in _per_shard.

    ``terms`` overrides the default trigram tokenization of ``query``
    — the hook for alternate analyzers (e.g. the Lisp analyzer's
    kind-composite terms, index.query_index_lisp).

    ``theta0``: external lower bound on the global kth-best score
    (champions.champion_theta) — enables essential-term block pruning
    in every shard kernel; results are identical with or without it
    (the bound only skips blocks that provably can't affect the
    top-k).

    ``pre_partitioned`` is ignored: Spark itself drops the exchange over
    a frame already partitioned by shard (bench.py's cached frame)."""
    if terms is None:
        terms = sorted(set(tokenize(query, n)))
    if terms and (n_docs is None or avgdl is None):
        row = dstats.agg(F.count("*").alias("n"), F.avg("doc_len").alias("a")).collect()[0]
        n_docs, avgdl = int(row["n"]), float(row["a"])
    local = _per_shard(
        segments, terms, SCORE_COLS,
        lambda rows: _shard_request(rows, "bm25", terms, n_docs, avgdl, k, theta0),
        "doc_id long, score double", n_shards, df_lookup,
    )
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def wand_topk_batch(
    segments: DataFrame,
    queries: dict[str, str],
    k: int = 10,
    n: int = NGRAM_N,
    n_docs: int | None = None,
    avgdl: float | None = None,
    n_shards: int | None = None,
    df_lookup=None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """(query_id, doc_id, score) — exact top-k for MANY queries in ONE
    segment scan. Each term's blocks decode once per shard and are
    shared by every query that uses the term; the global per-query
    top-k is a window row_number (partitioned by query, so no global
    sort). This is the batch-evaluation shape: at 10^12 docs the scan
    dominates, and it amortizes across the whole query set.

    ``n_docs`` and ``avgdl`` are required; ``df_lookup`` and
    ``n_shards`` are as in wand_topk, and ``pre_partitioned`` is ignored
    as there."""
    from pyspark.sql import Window

    if n_docs is None or avgdl is None:
        raise ValueError("wand_topk_batch needs n_docs and avgdl")
    q_terms = {qid: sorted(set(tokenize(q, n))) for qid, q in queries.items()}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})

    def kernel(shard_rows: list[dict]) -> pd.DataFrame | None:
        rows = _rows_by_term(shard_rows)
        # decode every needed term once, share across queries
        cache: dict[str, tuple] = {}
        frames = []
        for qid, terms in q_terms.items():
            sub = [rows[t] for t in terms if t in rows]
            if sub:
                frame = shard_topk_cached(sub, n_docs, avgdl, k, cache)
                frame.insert(0, "query_id", qid)
                frames.append(frame)
        return pd.concat(frames) if frames else None

    local = _per_shard(
        segments, all_terms, SCORE_COLS, kernel,
        "query_id string, doc_id long, score double", n_shards, df_lookup,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def shard_topk_cached(
    rows: list[dict], n_docs: int, avgdl: float, k: int, cache: dict
) -> pd.DataFrame:
    """shard_topk variant sharing decoded term scores across queries
    (exhaustive TAAT per query — the decode, not the arithmetic, is the
    cost being amortized)."""
    parts = []
    for r in rows:
        key = r["term"]
        if key not in cache:
            cache[key] = _term_scores(r, n_docs, avgdl)
        parts.append(cache[key])
    all_docs = np.concatenate([p[0] for p in parts])
    all_sc = np.concatenate([p[1] for p in parts])
    docs, inv = np.unique(all_docs, return_inverse=True)
    scores = np.zeros(docs.size, dtype=np.float64)
    np.add.at(scores, inv, all_sc)
    return _topk_frame(docs, scores, k)


def serve_topk(
    index_dir: str,
    stats: dict,
    requests: list[tuple[str, list[str], float]],
    k: int,
    df_lookup: dict[str, int],
) -> list[list[list]]:
    """Exact top-k for MANY requests — BM25 and ranked phrase mixed —
    answered in the driver with no Spark job: the query server's batch
    (cli serve).

    Each request is ``(mode, toks, theta0)``: mode "bm25" with its
    distinct terms and its champion theta0 (wand_topk's semantics), or
    "phrase" with the phrase's trigram sequence (phrase_bm25_topk_
    segments' semantics; theta0 unused). Returns, aligned with
    ``requests``, each one's ``[doc_id, score]`` list — identical to
    what the single-request functions return.

    The batch is a shard scatter-gather run as a plain loop over the
    shards of the index at ``index_dir`` (stats.json's ``stats``). For
    each shard it point-reads the rows of the batch's terms with
    pyarrow (index.read_segment_rows: only the row groups of the
    shard's files whose term range can hold a term, each decoded once
    per process while index's row-group cache holds it; position
    streams only when a phrase request is in the batch), attaches df_global
    from ``df_lookup``, and runs _shard_request per request (the
    one-shot entries' shard kernel: a local top-k). The first k per request under
    (score DESC, doc_id ASC) are kept, exact because every doc lives
    in one shard.

    ``df_lookup`` maps the requests' dictionary terms to df_global
    (TermDfClient.lookup). Every query term's rows are read, whether
    or not the dictionary has it, so a term with rows but no
    df_lookup entry makes the kernel raise "df_lookup has no entry"
    instead of scoring it with no df."""
    from searty_spark.index import read_segment_rows
    from searty_spark.phrase_seg import PHRASE_COLS

    out: list[list[list]] = [[] for _ in requests]
    terms = sorted({t for _, toks, _ in requests for t in toks})
    if not terms:
        return out
    cols = PHRASE_COLS if any(m == "phrase" for m, _, _ in requests) else SCORE_COLS
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    found: list[tuple[int, int, float]] = []
    for shard in range(stats["n_shards"]):
        rows = read_segment_rows(index_dir, shard, terms, cols)
        for r in rows:
            r["df_global"] = df_lookup.get(r["term"])
        for i, (mode, toks, theta0) in enumerate(requests):
            want = set(toks)
            sub = [r for r in rows if r["term"] in want]
            if not sub:
                continue
            frame = _shard_request(sub, mode, toks, n_docs, avgdl, k, theta0)
            for d, sc in zip(frame["doc_id"].tolist(), frame["score"].tolist()):
                found.append((i, d, sc))
    for i, d, sc in sorted(found, key=lambda r: (r[0], -r[2], r[1])):
        if len(out[i]) < k:
            out[i].append([d, sc])
    return out
