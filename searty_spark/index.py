"""On-disk index: build, checkpoint/resume, load, query.

Directory layout (each stage is an independently committed table —
the Spark analogue of the reference's one-transaction-per-build,
ref lib/database/database.go:79-105, re-architected so a failed build
resumes from the last committed unit):

    <dir>/docstats/           (doc_id, doc_len) parquet
    <dir>/dictionary/         (term, token_id, df_global) parquet —
                              DERIVED from the segment rows after the
                              segment stage (segments are stats-free,
                              so no dictionary pre-pass exists and the
                              whole build is ONE token pass)
    <dir>/segments/shard=N/bucket=M/   segment rows parquet
                              (token rows shuffle straight from the
                              tokenizer into the segment encoder —
                              no postings intermediate; see
                              segments.build_segments_from_tokens)
    <dir>/stats.json          {n_docs, avgdl, sum_dl, n_shards, n_buckets}
    <dir>/checkpoint.jsonl    one line per committed unit + metrics
                              (stage, shard, wall_sec, rows, docs_per_sec)

Resume: completed units are read from checkpoint.jsonl and skipped;
a unit's data write is idempotent (mode=overwrite of its own subtree)
so a crash between data-commit and checkpoint-append just redoes one
unit. On a real deployment the checkpoint file would be an Iceberg
table; the protocol is identical.

The segment table is hive-partitioned by (shard, bucket) so query-term
bucket pruning happens at file-listing time — the analogue of the
reference's token_id PK index seek (ref lib/database/database.go:508-526).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SHARDS = 4
DEFAULT_BUCKETS = 32

# Kind-composite token identity for the Lisp analyzer (SURVEY.md T2):
# the reference declares a per-token `kind` column it never writes
# (ref lib/database/schema.sql:12-16, SURVEY §1.2); here token identity
# IS (kind, term), realized as one composite string so the entire
# segment/bucket/dictionary/query machinery applies unchanged — a
# kind-filtered query is an ordinary pushed-filter term lookup.
LISP_KIND_SEP = "\x1f"


def lisp_term(kind: str, term: str) -> str:
    return f"{kind}{LISP_KIND_SEP}{term}"


# On-disk format version, stamped into stats.json. Bump whenever the
# segment/dictionary layout changes incompatibly (format 1 = round-1
# indexes with df_global/block_max_impact baked into segments; format 2
# = stats-free blocks with (block_max_tf, block_min_dl) and a post-hoc
# dictionary). load_stats fails fast with a rebuild hint instead of
# letting the query kernels die on a deep KeyError.
INDEX_FORMAT = 2


def term_buckets(spark: SparkSession, terms: list[str], n_buckets: int) -> list[int]:
    """Buckets of the given terms — computed with the SAME JVM xxhash64
    used at write time (a driver-side reimplementation would risk
    drift)."""
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    return [
        r[0]
        for r in df.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    ]


def _ckpt_path(out_dir: str) -> Path:
    return Path(out_dir) / "checkpoint.jsonl"


def _done_units(out_dir: str) -> set[str]:
    p = _ckpt_path(out_dir)
    if not p.exists():
        return set()
    return {json.loads(line)["unit"] for line in p.read_text().splitlines() if line}


_CKPT_LOCK = __import__("threading").Lock()


def _commit(out_dir: str, unit: str, **metrics) -> None:
    rec = {"unit": unit, "ts": time.time(), **metrics}
    # stages 1/1b commit from concurrent threads (write_index) — the
    # lock keeps the jsonl line-atomic within this process
    with _CKPT_LOCK, _ckpt_path(out_dir).open("a") as f:
        f.write(json.dumps(rec) + "\n")


def _unit_metric(out_dir: str, unit: str, key: str):
    """A metric a completed unit committed (last record wins), or None
    — resume's way to reuse e.g. the observed segment fingerprint
    without re-scanning."""
    p = _ckpt_path(out_dir)
    if not p.exists():
        return None
    val = None
    for line in p.read_text().splitlines():
        if line:
            rec = json.loads(line)
            if rec["unit"] == unit and key in rec:
                val = rec[key]
    return val


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Warm one reusable Python worker per core in the background (see
    write_index). Thread-safe: job descriptions/groups are thread-local
    in Spark, so the prewarm job never relabels the caller's jobs."""
    import threading

    def _go():
        try:
            n = spark.sparkContext.defaultParallelism

            def _touch(batches):
                import numpy  # noqa: F401  — the encoder's imports
                import pandas  # noqa: F401

                import searty_spark  # noqa: F401  — lazy zip invalidation

                yield from batches

            (
                spark.range(n)
                .repartition(n)
                .mapInPandas(_touch, "id long")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        except Exception:
            pass  # best-effort; the real stage pays the spin-up instead

    threading.Thread(target=_go, daemon=True).start()


def write_index(
    corpus: DataFrame,
    out_dir: str,
    n_shards: int = DEFAULT_SHARDS,
    n_buckets: int = DEFAULT_BUCKETS,
    resume: bool = True,
    text_col: str = "text",
    shard_batch: int | None = None,
    store_docs: bool = False,
    doc_key: str | None = "auto",
    analyzer: str = "trigram",
) -> dict:
    """Build the full index with per-unit checkpoints. Returns metrics.

    ``analyzer`` selects the tokenizer (ref: the per-corpus analyzer
    choice, SURVEY.md T1/T2): "trigram" (default) or "lisp" — the
    kind-aware lexical scanner, whose token identity is the
    (kind, term) composite (see LISP_KIND_SEP). The lisp doc length is
    the document's TOKEN count (trigram doc_len is char-derived), so
    stage 1 runs one extra tokenize pass; query with query_index_lisp.

    ``store_docs`` additionally persists (doc_id, url, text) — the
    analogue of the reference's ``document`` table (schema.sql:1-8)
    that its result pretty-printer resolves against
    (lib/searcher/pretty_print.go:43-76). Off by default: at corpus
    scale the source table itself serves that role.

    ``doc_key`` names the DOCUMENT-IDENTITY column (the reference's
    ``document.filename``) stored in docstats for shared-identity
    merge. "auto" picks ``url`` when present and nothing otherwise —
    it deliberately does NOT fall back to categorical columns like
    ``source`` (a non-unique key would make dedup merge collapse
    distinct documents). Pass the column name explicitly to override.
    """
    if analyzer not in ("trigram", "lisp"):
        raise ValueError(f"unknown analyzer {analyzer!r} (trigram | lisp)")
    spark = corpus.sparkSession
    # Overlap Python-worker spin-up with the pure-JVM early stages
    # (guide §2.6, overlapping independent jobs): the first
    # applyInPandas stage (segments) otherwise pays daemon fork +
    # numpy/pandas import for every core inside its own wall. A
    # background thread runs one trivial mapInPandas job across the
    # session's cores while docstats/symbols (no Python) execute, so
    # the worker pool is warm (spark.python.worker.reuse) by the time
    # the encoder needs it. Fire-and-forget: failure or a tardy finish
    # costs nothing — the job's output is discarded.
    _prewarm_python_workers(spark)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    done = _done_units(out_dir) if resume else set()
    if not resume and _ckpt_path(out_dir).exists():
        _ckpt_path(out_dir).unlink()
    metrics: dict[str, float] = {}

    # the document-identity key (ref: document.filename) rides along in
    # docstats — it is what shared-identity merge dedups on
    if doc_key == "auto":
        key_col = "url" if "url" in corpus.columns else None
    else:
        key_col = doc_key
        if key_col is not None and key_col not in corpus.columns:
            raise ValueError(f"doc_key column {key_col!r} not in corpus")

    # --- stages 1 + 1b: doc stats and the symbol sidecar ------------------
    # Independent stages (both pure functions of the corpus, writing
    # disjoint subtrees, committing separate units) run CONCURRENTLY
    # from a 2-thread pool (guide §2.6): their jobs back-fill each
    # other's stragglers instead of serializing two corpus passes.
    # Resume semantics are unchanged — the done-units set is unordered.
    def run_docstats():
        t0 = time.perf_counter()
        # one narrow projection, no join: doc_len is an expression over
        # the text column and key/lang ride along from the same row
        extra = ([F.col(key_col).alias("key")] if key_col else []) + (
            [F.col("lang")] if "lang" in corpus.columns else []
        )
        if analyzer == "lisp":
            # lisp doc length = token count (the BM25 length norm for
            # the lexical analyzer); docs with zero tokens keep a row
            from searty_spark.lisp_tokenizer import lisp_token_rows

            counts = (
                lisp_token_rows(corpus, text_col)
                .groupBy("doc_id")
                .agg(F.count("*").alias("doc_len"))
            )
            extra_names = (["key"] if key_col else []) + (
                ["lang"] if "lang" in corpus.columns else []
            )
            ds = (
                corpus.select("doc_id", *extra)
                .join(counts, "doc_id", "left")
                .withColumn("doc_len", F.coalesce("doc_len", F.lit(0)).cast("long"))
                .select("doc_id", "doc_len", *extra_names)
            )
        else:
            ds = corpus.select(
                "doc_id",
                F.greatest(F.char_length(F.col(text_col)) - F.lit(2), F.lit(0))
                .cast("long")
                .alias("doc_len"),
                *extra,
            )
        # the corpus scalars ride the write itself as observe metrics —
        # no read-back aggregation job (same trick as the dictionary
        # stage's segment fingerprint)
        from pyspark.sql import Observation

        obs_ds = Observation("docstats_scalars")
        ds.observe(
            obs_ds,
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_len").alias("s"),
            F.avg("doc_len").alias("a"),
        ).write.mode("overwrite").parquet(str(out / "docstats"))
        row = obs_ds.get
        stats = {
            "format": INDEX_FORMAT,
            "analyzer": analyzer,
            "n_docs": int(row["n"]),
            "sum_dl": int(row["s"]),
            "avgdl": float(row["a"]),
            "n_shards": n_shards,
            "n_buckets": n_buckets,
        }
        (out / "stats.json").write_text(json.dumps(stats))
        wall = time.perf_counter() - t0
        _commit(out_dir, "docstats", wall_sec=wall, rows=stats["n_docs"],
                docs_per_sec=stats["n_docs"] / wall)

    # stage 1b body: the analogue of the reference's symbol/package/
    # symbol_definition/package_definition tables (schema.sql:26-64),
    # persisted next to the segments so `query --symbol` never touches
    # the corpus. Only emitted when the corpus carries a lang column
    # (the package analogue).
    def run_symbols():
        t0 = time.perf_counter()
        from searty_spark.symbols import _definition_sites, _symbol_id

        # the two symbol tables each recompute the sites explode — with
        # the stepped-sequence extraction (symbols.py) the recompute
        # (~0.8 s at sf1.0) is cheaper than cache materialization
        # (measured: cold cache 6.1 s vs recompute 2.6 s for the stage;
        # warm a wash), and no storage stays pinned
        sites = _definition_sites(corpus)

        def write_entity():
            # entity tables are small by construction (distinct symbols
            # / packages, not per-occurrence rows) — coalesce so local
            # runs don't write shuffle.partitions-many near-empty
            # files. distinct BEFORE the md5: the surrogate id is a
            # pure function of (package_name, symbol_name), so hashing
            # after the distinct computes ~n_symbols md5s instead of
            # one per occurrence row.
            sites.select(
                F.col("symbol_name").alias("name"), "package_name"
            ).distinct().select(
                F.md5(F.concat_ws(":", F.col("package_name"), F.col("name"))).alias(
                    "id"
                ),
                "name",
                "package_name",
            ).coalesce(4).write.mode("overwrite").parquet(str(out / "symbols"))

        def write_defs():
            # the per-occurrence definitions table keeps its partitioning
            sites.select(
                _symbol_id().alias("symbol_id"), "specifier", "doc_id", "position"
            ).write.mode("overwrite").parquet(str(out / "symbol_definitions"))

        def write_packages():
            # nb: the package tables are bounded by the number of
            # distinct languages, but collecting them and writing via
            # spark.createDataFrame is NOT a shortcut here —
            # local-relation parquet writes cost 4-7 s each in this
            # environment (measured) versus ~0.45 s per
            # corpus-aggregation write. Both tables project from ONE
            # corpus aggregation (distinct langs with their min doc_id
            # — a superset of package_table's key set and exactly
            # package_definitions' rows), checkpointed because it is
            # bounded by the language count, so the corpus is scanned
            # once here instead of twice.
            pk = (
                corpus.groupBy(F.upper("lang").alias("name"))
                .agg(F.min("doc_id").alias("doc_id"))
                .localCheckpoint(eager=True)
            )
            pk.select(F.md5("name").alias("id"), "name").coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(out / "packages"))
            pk.select(
                F.md5("name").alias("package_id"),
                F.lit("DEFPACKAGE").alias("specifier"),
                "doc_id",
                F.lit(0).cast("long").alias("position"),
            ).coalesce(1).write.mode("overwrite").parquet(
                str(out / "package_definitions")
            )

        # the four sidecar writes are independent jobs over disjoint
        # output dirs — overlap them (guide §2.6) instead of paying
        # four sequential job walls
        import concurrent.futures as cf

        with cf.ThreadPoolExecutor(max_workers=3) as wpool:
            for f in [
                wpool.submit(write_entity),
                wpool.submit(write_defs),
                wpool.submit(write_packages),
            ]:
                f.result()
        _commit(out_dir, "symbols", wall_sec=time.perf_counter() - t0)

    if "docstats" in done:
        # resuming: fail fast on a foreign format / mixed analyzer
        # BEFORE any further stage runs (see the check below)
        prior = load_stats(out_dir)
        if prior.get("analyzer", "trigram") != analyzer:
            raise ValueError(
                f"index at {out_dir} was started with analyzer="
                f"{prior.get('analyzer', 'trigram')!r}; resuming with "
                f"{analyzer!r} would mix analyzers — use a fresh out_dir "
                "or resume with the original analyzer"
            )

    # Web text compresses ~10x in parquet and explodes ~3x at tokenize
    # time, so input splits sized for scan parallelism are far too
    # coarse for the tokenize stages — spread the corpus first.
    target = spark.sparkContext.defaultParallelism
    src = corpus
    if corpus.rdd.getNumPartitions() < target:
        src = corpus.repartition(target)

    def tokens_with_len():
        if analyzer == "lisp":
            from searty_spark.lisp_tokenizer import lisp_token_rows

            toks = lisp_token_rows(src, text_col).select(
                "doc_id",
                F.concat(F.col("kind"), F.lit(LISP_KIND_SEP), F.col("term")).alias(
                    "term"
                ),
                "pos",
            )
            dl = spark.read.parquet(str(out / "docstats")).select("doc_id", "doc_len")
            return toks.join(dl, "doc_id").select("doc_id", "doc_len", "pos", "term")
        from searty_spark.tokenize import trigrams_col

        return src.select(
            "doc_id",
            F.greatest(F.char_length(F.col(text_col)) - F.lit(2), F.lit(0))
            .cast("long")
            .alias("doc_len"),
            F.posexplode(trigrams_col(text_col)).alias("pos", "term"),
        )

    # --- stage 3 body: segments, in resumable shard batches ---------------
    # Default: ONE job covering every shard (dynamic partition
    # overwrite makes the unit write idempotent). shard_batch < n_shards
    # trades throughput for finer resume granularity — at 10^12 docs a
    # batch is the unit a preempted cluster re-runs. For the TRIGRAM
    # analyzer the token stream derives from the corpus alone (doc_len
    # is an expression over text), so this runs CONCURRENTLY with
    # stages 1/1b — corpus stats are only needed for the commit's
    # throughput metric, fetched via ``get_stats`` (which waits for the
    # docstats future) after the data write. The lisp analyzer's token
    # lengths JOIN the docstats table, so it stays sequential.
    def run_segments(get_stats):
        batch = shard_batch or n_shards
        sdone = _done_units(out_dir) if resume else set()
        from searty_spark.segments import build_segments_from_tokens

        for lo in range(0, n_shards, batch):
            hi = min(lo + batch, n_shards)
            unit = f"segments/shards={lo}-{hi - 1}"
            if unit in sdone:
                continue
            t0 = time.perf_counter()
            toks = tokens_with_len().filter(
                F.pmod(F.col("doc_id"), F.lit(n_shards)).between(lo, hi - 1)
            )
            seg = build_segments_from_tokens(
                toks,
                n_shards=n_shards,
                n_buckets=n_buckets,
            )
            seg.write.partitionBy("shard", "bucket").mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(str(out / "segments"))
            wall = time.perf_counter() - t0
            # dense doc_ids spread uniformly over shards by pmod
            n_docs_part = get_stats()["n_docs"] * (hi - lo) // n_shards
            _commit(
                out_dir,
                unit,
                wall_sec=wall,
                docs=n_docs_part,
                docs_per_sec=n_docs_part / wall if wall else 0.0,
            )
            metrics[unit] = wall

    import concurrent.futures as cf

    with cf.ThreadPoolExecutor(max_workers=3) as pool:
        f_ds = pool.submit(run_docstats) if "docstats" not in done else None
        f_sym = (
            pool.submit(run_symbols)
            if "lang" in corpus.columns and "symbols" not in done
            else None
        )

        def get_stats():
            if f_ds is not None:
                f_ds.result()  # surfaces a docstats failure here too
            return load_stats(out_dir)

        f_seg = pool.submit(run_segments, get_stats) if analyzer == "trigram" else None
        for f in (f_ds, f_sym, f_seg):
            if f is not None:
                f.result()

    # load_stats (not a raw read) so resuming over a foreign-format
    # index dir fails fast instead of skipping relocated stages
    stats = load_stats(out_dir)
    if stats.get("analyzer", "trigram") != analyzer:
        # resuming a trigram checkpoint with analyzer="lisp" would skip
        # the char-derived docstats stage and then join lisp tokens onto
        # trigram doc lengths — a silently inconsistent index
        raise ValueError(
            f"index at {out_dir} was started with analyzer="
            f"{stats.get('analyzer', 'trigram')!r}; resuming with "
            f"{analyzer!r} would mix analyzers — use a fresh out_dir or "
            "resume with the original analyzer"
        )

    if store_docs and "documents" not in done:
        t0 = time.perf_counter()
        cols = ["doc_id"] + [c for c in ("url",) if c in corpus.columns] + [text_col]
        corpus.select(*cols).write.mode("overwrite").parquet(str(out / "documents"))
        _commit(out_dir, "documents", wall_sec=time.perf_counter() - t0,
                rows=stats["n_docs"])

    if analyzer == "lisp":
        run_segments(lambda: stats)

    # --- stage 3: dictionary, DERIVED from the segment rows ---------------
    # global df of a term = sum of its per-shard dfs (doc sets disjoint);
    # this aggregates the tiny (n_terms x n_shards) segment-row table, not
    # the token stream — the second tokenize pass the old design needed is
    # gone entirely.
    done = _done_units(out_dir) if resume else set()
    need_dict = "dictionary" not in done
    need_champ = "champions" not in done
    seg_fp: int | None = None

    def run_dictionary() -> int:
        from pyspark.sql import Observation

        from searty_spark.champions import (
            _SEGMENT_FP_COLS,
            _fp_mod,
            fingerprint_expr,
        )

        t0 = time.perf_counter()
        # observe metrics ride the single dictionary job: the SEGMENT
        # fingerprint (stage 4's sidecar stamp — this job scans every
        # segment row anyway) on the pre-agg rows, the term count on
        # the post-agg rows. No read-back job, no second segment scan.
        obs_fp = Observation("segment_fp")
        obs_n = Observation("dict_rows")
        d = (
            load_segments(spark, out_dir)
            .observe(obs_fp, fingerprint_expr(_SEGMENT_FP_COLS))
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df_global"))
            .select("term", F.xxhash64("term").alias("token_id"), "df_global")
            .observe(obs_n, F.count(F.lit(1)).alias("n"))
        )
        d.write.mode("overwrite").parquet(str(out / "dictionary"))
        wall = time.perf_counter() - t0
        fp = _fp_mod(obs_fp.get["fp"])
        _commit(
            out_dir, "dictionary",
            wall_sec=wall, rows=int(obs_n.get["n"]), segment_fp=fp,
        )
        return fp

    # --- stage 4: champion lists, DERIVED like the dictionary ------------
    # per-head-term top-B postings by impact (stats-free: (doc, tf, dl)
    # rows, scores recomputed at query time) — seeds MaxScore's theta so
    # the seed term stops decoding early (champions.py for the safety
    # argument). Tail corpora produce an empty sidecar (no head terms).
    def run_champions(dictionary, fp):
        t0 = time.perf_counter()
        from searty_spark.champions import write_champions

        n_ch = write_champions(
            load_segments(spark, out_dir), out_dir, stats["n_docs"], stats["avgdl"],
            dictionary=dictionary,
            seg_fp=fp,
        )
        _commit(out_dir, "champions", wall_sec=time.perf_counter() - t0, rows=n_ch)

    if need_dict and need_champ:
        # Both stages derive independently from the WRITTEN segments
        # (head selection can sum per-shard df from the segment rows
        # directly — the same df_global the dictionary materializes —
        # and the champion meta stamp recomputes the segment
        # fingerprint in its own thread), so they overlap (guide §2.6).
        # nb: write_champions flips AQE/shuffle-partition conf around
        # its bounded write; the dictionary job is a small aggregation
        # for which those settings are immaterial either way.
        with cf.ThreadPoolExecutor(max_workers=2) as pool:
            f_dict = pool.submit(run_dictionary)
            f_champ = pool.submit(run_champions, None, None)
            f_champ.result()
            seg_fp = f_dict.result()
    else:
        if need_dict:
            seg_fp = run_dictionary()
        elif resume:
            seg_fp = _unit_metric(out_dir, "dictionary", "segment_fp")
        if need_champ:
            run_champions(spark.read.parquet(str(out / "dictionary")), seg_fp)
    return {"stats": stats, "units": metrics}


def load_segments(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(str(Path(index_dir) / "segments"))


def load_stats(index_dir: str) -> dict:
    stats = json.loads((Path(index_dir) / "stats.json").read_text())
    fmt = stats.get("format", 1)
    if fmt != INDEX_FORMAT:
        raise ValueError(
            f"index at {index_dir} is on-disk format {fmt}, this build reads "
            f"format {INDEX_FORMAT} — rebuild it with write_index (or re-merge "
            "its sources); resuming a foreign-format checkpoint is unsafe"
        )
    return stats


def upgrade_index(spark: SparkSession, old_dir: str, out_dir: str) -> dict:
    """Re-encode a format-1 index (round-1 layout: df_global +
    block_max_impact baked into segment rows) as a current format-2
    index, without the corpus — the alternative to load_stats'
    fail-fast-and-rebuild when the source documents are gone.

    The posting BLOBS are layout-identical across the two formats
    (``n, doc_delta*n, tf*n, doc_len*n`` score stream + the positions
    stream); only the row metadata changed. Each (shard, bucket) group
    therefore runs the MERGE kernel as a merge-of-one
    (merge.merge_segment_group): decode once, re-encode stats-free —
    the baked-in columns are simply not re-emitted, block_min_dl is
    computed from the decoded doc_lens. Deterministic encode order
    makes the result byte-identical to a fresh format-2 build of the
    same corpus (tested). Dictionary and champion sidecar re-derive
    exactly as write_index's stage 3/4 do; docstats and the symbol
    sidecar (if any) copy through unchanged.
    """
    import shutil

    old = Path(old_dir)
    out = Path(out_dir)
    stats = json.loads((old / "stats.json").read_text())
    fmt = stats.get("format", 1)
    if fmt == INDEX_FORMAT:
        raise ValueError(f"{old_dir} is already format {INDEX_FORMAT}")
    if fmt != 1:
        raise ValueError(f"{old_dir} is format {fmt}; upgrade reads format 1 only")

    from searty_spark.merge import merge_segment_group
    from searty_spark.segments import SEGMENT_SCHEMA

    segs = spark.read.parquet(str(old / "segments"))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return merge_segment_group(pdf)

    out.mkdir(parents=True, exist_ok=True)
    upgraded = segs.groupBy("shard", "bucket").applyInPandas(run, SEGMENT_SCHEMA)
    upgraded.write.partitionBy("shard", "bucket").mode("overwrite").parquet(
        str(out / "segments")
    )

    new_stats = {
        "format": INDEX_FORMAT,
        # format 1 predates the Lisp analyzer: trigram is the only
        # tokenizer that ever wrote it
        "analyzer": stats.get("analyzer", "trigram"),
        "n_docs": stats["n_docs"],
        "sum_dl": stats["sum_dl"],
        "avgdl": stats["avgdl"],
        "n_shards": stats["n_shards"],
        "n_buckets": stats["n_buckets"],
    }
    (out / "stats.json").write_text(json.dumps(new_stats))

    # sidecars that don't depend on the segment layout: copy through
    for name in ("docstats", "documents", "symbols", "packages",
                 "symbol_definitions", "package_definitions"):
        if (old / name).exists() and not (out / name).exists():
            shutil.copytree(old / name, out / name)

    # derived tables: same derivations as write_index stages 3-4
    d = (
        load_segments(spark, str(out))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df_global"))
        .select("term", F.xxhash64("term").alias("token_id"), "df_global")
    )
    d.write.mode("overwrite").parquet(str(out / "dictionary"))
    from searty_spark.champions import write_champions

    write_champions(
        load_segments(spark, str(out)), str(out),
        new_stats["n_docs"], new_stats["avgdl"],
        dictionary=spark.read.parquet(str(out / "dictionary")),
    )
    return new_stats


def query_symbols(spark: SparkSession, index_dir: str, query: str) -> DataFrame:
    """Symbol-definition search against the persisted sidecar — the
    reference's `searty -symbol` path (cmd/searty/searty.go:38-44)."""
    from searty_spark.symbols import search_definition_tables

    d = Path(index_dir)
    if not (d / "symbols").exists():
        raise FileNotFoundError(f"{index_dir} has no symbol sidecar")
    syms = spark.read.parquet(str(d / "symbols"))
    defs = spark.read.parquet(str(d / "symbol_definitions"))
    ds = spark.read.parquet(str(d / "docstats"))
    meta = ds.select(
        "doc_id",
        (F.col("key") if "key" in ds.columns else F.col("doc_id").cast("string")).alias(
            "source"
        ),
    )
    return search_definition_tables(syms, defs, meta, query)


def query_index(
    spark: SparkSession, index_dir: str, query: str, k: int = 10
) -> DataFrame:
    """Top-k BM25 via block-max MaxScore with bucket partition pruning."""
    from searty_spark.tokenize import tokenize

    stats = load_stats(index_dir)
    if stats.get("analyzer", "trigram") != "trigram":
        raise ValueError(
            f"index at {index_dir} uses the {stats['analyzer']!r} analyzer — "
            "query it with query_index_lisp"
        )
    return _query_terms(spark, index_dir, stats, sorted(set(tokenize(query))), k)


def query_index_lisp(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    kind: str = "SYMBOL",
) -> DataFrame:
    """Kind-filtered BM25 top-k over a Lisp-analyzer index: the query
    is lexed with the same scanner and its tokens OF THE GIVEN KIND
    become the composite query terms — e.g. kind="SYMBOL" matches only
    symbol occurrences, never the same text inside a string literal or
    comment. This is the query side of the reference's declared
    token.kind column (schema.sql:12-16); kind filtering costs nothing
    extra because kind is part of the pushed-down term key."""
    from searty_spark.lisp_tokenizer import lisp_tokenize

    stats = load_stats(index_dir)
    if stats.get("analyzer", "trigram") != "lisp":
        raise ValueError(
            f"index at {index_dir} uses the "
            f"{stats.get('analyzer', 'trigram')!r} analyzer, not 'lisp'"
        )
    terms = sorted({lisp_term(kind, t) for t, _, kd in lisp_tokenize(query) if kd == kind})
    return _query_terms(spark, index_dir, stats, terms, k)


def _query_terms(
    spark: SparkSession, index_dir: str, stats: dict, terms: list[str], k: int
) -> DataFrame:
    from searty_spark.wand import wand_topk

    seg = load_segments(spark, index_dir)
    theta0 = 0.0
    if terms:
        buckets = term_buckets(spark, terms, stats["n_buckets"])
        seg = seg.filter(F.col("bucket").isin(buckets))
        # champion-seeded theta: two bounded pushed-filter fetches
        # (query terms only), then every shard kernel block-prunes its
        # essential terms against it — results identical either way
        if (Path(index_dir) / "champions").exists():
            from searty_spark.champions import ChampionClient, champion_theta

            champs = ChampionClient(spark, index_dir).lookup(terms)
            if champs:
                dfs = {
                    r["term"]: int(r["df_global"])
                    for r in spark.read.parquet(str(Path(index_dir) / "dictionary"))
                    .filter(F.col("term").isin(list(champs)))
                    .collect()
                }
                theta0 = champion_theta(
                    champs, dfs, k, stats["n_docs"], stats["avgdl"]
                )
    dictionary = spark.read.parquet(str(Path(index_dir) / "dictionary"))
    return wand_topk(
        seg,
        dstats=None,
        query="",
        k=k,
        n_docs=stats["n_docs"],
        avgdl=stats["avgdl"],
        n_shards=stats["n_shards"],
        df_lookup=dictionary,
        terms=terms,
        theta0=theta0,
    )
