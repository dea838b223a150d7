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
                              whole build is ONE token pass); one file
                              sorted by term in small row groups, which
                              TermTable point-reads in the driver
    <dir>/segments/shard=N/   segment rows parquet: ONE file per
                              shard, rows sorted by term in row groups
                              of TERM_ROW_GROUP_ROWS, min/max statistics
                              on term only (write_segments; token rows
                              shuffle straight from the tokenizer into
                              the segment encoder — no postings
                              intermediate; see
                              segments.build_segments_from_tokens)
    <dir>/stats.json          {format, analyzer, n_docs, avgdl, sum_dl,
                              n_shards, n_buckets}
    <dir>/checkpoint.jsonl    one line per committed unit + metrics
                              (stage, shard, wall_sec, rows, docs_per_sec)

Resume: completed units are read from checkpoint.jsonl and skipped;
a unit's data write is idempotent (mode=overwrite of its own subtree)
so a crash between data-commit and checkpoint-append just redoes one
unit. On a real deployment the checkpoint file would be an Iceberg
table; the protocol is identical.

The segment table is hive-partitioned by shard only. A query term's
rows are found by the term column's row-group statistics, which the
parquet scan's pushed term filter (Spark) and TermTable (pyarrow, the
serve path) both use to skip groups: the analogue of the reference's
token_id PK index seek (ref lib/database/database.go:508-526). The
``bucket`` column (pmod(xxhash64(term), n_buckets)) stays a stored
column and the encode and merge grouping key, not a directory.

TermTable's decoded row groups live in one per-process LRU cache
bounded by GROUP_CACHE_BYTES and keyed on the file's
(path, st_mtime_ns, st_size) and the group, like the footer cache:
the analogue of the page cache that keeps the reference's SQLite
pages warm across queries. A group is held as Arrow; a term's rows
are converted to Python on its first lookup and kept with the group.
group_cache_info() reports its hits, misses, evictions and size.
"""

from __future__ import annotations

import collections
import functools
import json
import sys
import threading
import time
from pathlib import Path

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
# dictionary, segments in shard=N/bucket=M directories; format 3 = one
# term-sorted segment file per shard). load_stats fails fast with a
# rebuild hint instead of letting the query kernels die on a deep
# KeyError or read a layout they no longer list.
INDEX_FORMAT = 3


# Rows per parquet row group of the term-sorted tables (segments,
# dictionary, champion sidecar): a point read decodes one group.
TERM_ROW_GROUP_ROWS = 1024


def _term_sorted_writer(df: DataFrame):
    """``df``'s overwrite writer with the term-sorted tables' parquet
    options: row groups of TERM_ROW_GROUP_ROWS rows, and min/max
    statistics on ``term`` only, the one column readers filter on."""
    return (
        df.write.mode("overwrite")
        .option("parquet.block.row.count.limit", TERM_ROW_GROUP_ROWS)
        .option("parquet.column.statistics.enabled", False)
        .option("parquet.column.statistics.enabled#term", True)
    )


def write_term_sorted(df: DataFrame, path: str) -> None:
    """Write ``df`` as ONE parquet file sorted by term, in row groups
    of TERM_ROW_GROUP_ROWS rows: the layout TermTable point-reads.
    Spark orders strings by unsigned UTF-8 bytes, the order of
    parquet's min/max statistics, so groups hold disjoint term ranges.
    One file needs no range exchange (whose sampling seed follows the
    RDD id) and writes the same pages every time."""
    _term_sorted_writer(df.coalesce(1).sortWithinPartitions("term")).parquet(path)


def write_segments(seg: DataFrame, path: str, n_shards: int, dynamic: bool = False) -> None:
    """Write segment rows as write_term_sorted's layout per shard: ONE
    file per ``shard=S/`` directory, sorted by term. (shard, term) is
    unique in a built or merged index, so the order is total and the
    bytes repeat. ``dynamic`` replaces only the shard directories
    ``seg`` holds (a shard-batch build's resume unit); otherwise the
    whole table is replaced."""
    _term_sorted_writer(
        seg.repartition(n_shards, "shard").sortWithinPartitions("shard", "term")
    ).partitionBy("shard").option(
        "partitionOverwriteMode", "dynamic" if dynamic else "static"
    ).parquet(path)


def write_dictionary(segments: DataFrame, out: str) -> int:
    """segment rows -> (term, token_id, df_global) at ``out``, term-
    sorted; returns its row count (an observe metric: no read-back).
    df_global is the sum of the term's per-shard dfs (doc sets are
    disjoint); token_id is xxhash64(term), whose pmod by n_buckets is
    the term's bucket."""
    from pyspark.sql import Observation

    obs = Observation("dict_rows")
    d = (
        segments.groupBy("term")
        .agg(F.sum("df").cast("long").alias("df_global"))
        .select("term", F.xxhash64("term").alias("token_id"), "df_global")
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    write_term_sorted(d, out)
    return int(obs.get["n"])


@functools.lru_cache(maxsize=1024)
def _footer_at(path: str, mtime_ns: int, size: int):
    import pyarrow.parquet as pq

    return pq.read_metadata(path)


def _cached_footer(f: Path):
    """A file's (path, st_mtime_ns, st_size) and its parquet footer,
    cached per process under that key: a file rewritten in place is
    read fresh, and the cache holds at most 1,024 footers."""
    st = f.stat()
    key = (str(f), st.st_mtime_ns, st.st_size)
    return key, _footer_at(*key)


# Byte budget of the per-process cache of decoded row groups
# (_group): each _Group's Arrow buffers, its term -> row-indices map
# and the _held_bytes of the rows converted from it. Serving a
# perfbench index (1,000 documents) holds ~11 MB of it after 300
# serve_tail requests (18 groups: ~2 MB of Arrow, ~2.6 MB of maps,
# ~7 MB of rows), so no group of it is decoded twice. A stream
# whose groups do not fit pays a decode per read, as with no cache.
GROUP_CACHE_BYTES = 64 << 20

GroupCacheInfo = collections.namedtuple(
    "GroupCacheInfo", "hits misses evictions bytes groups"
)

_GROUPS: collections.OrderedDict = collections.OrderedDict()  # key -> _Group, LRU first
_GROUP_COUNTS = {"hits": 0, "misses": 0, "evictions": 0, "bytes": 0}
_GROUP_LOCK = threading.Lock()


def group_cache_info() -> GroupCacheInfo:
    """The decoded row-group cache's hits, misses (row groups decoded),
    evictions, bytes held and groups held, like functools' cache_info."""
    with _GROUP_LOCK:
        return GroupCacheInfo(**_GROUP_COUNTS, groups=len(_GROUPS))


def _held_bytes(term: str, rows: list[dict]) -> int:
    """What ``term`` and its ``rows`` hold in Python objects: the
    string, the list, the dicts and their values, list elements
    included. Objects shared between rows are counted once per
    reference, so this errs high."""
    size = sys.getsizeof
    n = size(term) + size(rows)
    for r in rows:
        n += size(r)
        for v in r.values():
            n += size(v)
            if isinstance(v, list):
                n += sum(map(size, v))
    return n


class _Group:
    """One decoded row group: its Arrow table (``term`` and
    ``columns``), the row indices of each of its terms (every one, so
    duplicate rows of unmerged partials and unsorted layouts stay
    exact), and the rows of each term looked up so far, converted to
    Python once: term -> its rows as dicts, [] if the group has none.
    ``nbytes`` counts all three."""

    __slots__ = ("columns", "tbl", "at", "rows", "nbytes")

    def __init__(self, tbl, columns: frozenset):
        self.columns, self.tbl, self.rows = columns, tbl, {}
        self.at: dict[str, list[int]] = {}
        names = tbl["term"].to_numpy().tolist()
        for i, t in enumerate(names):
            self.at.setdefault(t, []).append(i)
        size = sys.getsizeof
        # a fresh decode shares no buffer, and get_total_buffer_size
        # costs a 25th of nbytes; an index int is counted at 28 bytes
        self.nbytes = (
            tbl.get_total_buffer_size() + size(self.at) + 28 * len(names)
            + sum(map(size, self.at)) + sum(map(size, self.at.values()))
        )


def _evict() -> None:
    """Drop least recently used groups until the cache is within
    GROUP_CACHE_BYTES; the caller holds _GROUP_LOCK."""
    while _GROUP_COUNTS["bytes"] > GROUP_CACHE_BYTES:
        _, old = _GROUPS.popitem(last=False)
        _GROUP_COUNTS["bytes"] -= old.nbytes
        _GROUP_COUNTS["evictions"] += 1


def _group(gkey: tuple, md, columns: frozenset) -> _Group:
    """Row group ``gkey`` = (*_cached_footer key, row group) of the
    file with footer ``md``, decoded with at least ``term`` and
    ``columns``. Groups are cached per process under that key, least
    recently used evicted first; a cached group lacking a column is
    decoded again with the union of both column sets and replaces it.
    A group whose Arrow buffers exceed the whole budget is returned
    uncached."""
    import pyarrow.parquet as pq

    with _GROUP_LOCK:
        grp = _GROUPS.get(gkey)
        if grp is not None and columns <= grp.columns:
            _GROUPS.move_to_end(gkey)
            _GROUP_COUNTS["hits"] += 1
            return grp
        _GROUP_COUNTS["misses"] += 1
        if grp is not None:
            columns |= grp.columns
    # decode OUTSIDE the lock, so readers of warm groups never wait on
    # a cold one
    with pq.ParquetFile(gkey[0], metadata=md) as pf:
        # one small group: pyarrow's thread pool only adds CPU
        tbl = pf.read_row_group(gkey[3], columns=["term", *sorted(columns)], use_threads=False)
    grp = _Group(tbl, columns)
    if grp.nbytes <= GROUP_CACHE_BYTES:
        with _GROUP_LOCK:
            old = _GROUPS.get(gkey)
            if old is not None and columns <= old.columns:
                return old  # a racing decode got there first
            if old is not None:
                _GROUP_COUNTS["bytes"] -= old.nbytes
                del _GROUPS[gkey]
            _GROUPS[gkey] = grp
            _GROUP_COUNTS["bytes"] += grp.nbytes
            _evict()
    return grp


def _group_rows(gkey: tuple, md, columns: frozenset, terms) -> dict[str, list[dict]]:
    """term -> its rows in row group ``gkey`` (every row, duplicates
    included, in file order; [] if none) for each of ``terms``, as
    dicts of ``term`` and at least ``columns``. The group (_group) and
    each term's rows are decoded and converted once while the cache
    holds them; a term's first lookup takes its rows' indices from the
    group's term index and converts those rows alone. The rows are the
    cache's own: callers copy before changing them."""
    grp = _group(gkey, md, columns)
    new = {t for t in terms if t not in grp.rows}
    if new:
        found: dict[str, list[dict]] = {t: [] for t in new}
        for i in sorted(i for t in new for i in grp.at.get(t, ())):
            # a one-row slice is zero-copy; take() copies every column
            # first, which costs as much as converting the row
            (r,) = grp.tbl.slice(i, 1).to_pylist()
            found[r["term"]].append(r)
        n = {t: _held_bytes(t, rows) for t, rows in found.items()}
        with _GROUP_LOCK:
            for t, rows in found.items():
                if grp.rows.setdefault(t, rows) is rows:
                    grp.nbytes += n[t]
                    if _GROUPS.get(gkey) is grp:
                        _GROUP_COUNTS["bytes"] += n[t]
            _evict()
    return {t: grp.rows[t] for t in terms}


@functools.lru_cache(maxsize=256)
def _layout(keys: tuple) -> tuple[tuple, tuple]:
    """The row groups of the files with _cached_footer ``keys``, sorted
    by their term lower bound: (lo, hi, (*footer key, row group),
    footer), hi None = unbounded, and the running max of the upper
    bounds (the walk down from a term's insertion point stops once no
    group below can reach the term). Memoized per process on the keys,
    so the statistics walk runs once per directory state."""
    import itertools

    groups = []
    for key in keys:
        md = _footer_at(*key)
        col = md.schema.names.index("term")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            ok = st is not None and st.has_min_max
            groups.append((st.min if ok else "", st.max if ok else None, (*key, g), md))
    groups.sort(key=lambda x: x[0])
    reach = itertools.accumulate(
        (x[1] for x in groups),
        lambda a, b: None if a is None or b is None else max(a, b),
    )
    return tuple(groups), tuple(reach)


class TermTable:
    """Point reads of a term-keyed parquet table with pyarrow, no Spark
    job, all in the driver: the dictionary, the champion sidecar and a
    segment shard directory (read_segment_rows, for wand.serve_topk).
    The footers' per-row-group term min/max pick the groups a term can
    lie in, and a read touches only those; the sorted layout is built
    once per directory state (_layout) and found again from a listing
    and a stat per file. On
    write_term_sorted's layout the ranges are disjoint and a term
    touches at most one group. Any other layout (unsorted or multi-file,
    from an older or foreign writer) stays exact and only loses that
    bound; a group without term statistics is read for every term.
    Footers (_cached_footer) and decoded groups with their converted
    rows (_group_rows) come from per-process caches shared by every
    TermTable, whatever its columns, so a warm read decodes nothing and
    memory stays within GROUP_CACHE_BYTES plus the groups of one read."""

    def __init__(self, path: str, columns: list[str]):
        self._columns = tuple(columns)
        self._names = ("term", *columns)
        # every call lists and stats the directory, so a file rewritten
        # or added is seen; the layout of an unchanged one is _layout's
        keys = tuple(
            _cached_footer(f)[0]
            for f in sorted(Path(path).iterdir())
            if f.is_file() and not f.name.startswith(("_", "."))
        )
        self._groups, self._reach = _layout(keys)

    def rows(self, terms) -> dict[str, tuple]:
        """term -> its ``columns`` values, for the terms in the table."""
        return {r["term"]: tuple(r[c] for c in self._columns) for r in self._matches(terms)}

    def dicts(self, terms) -> list[dict]:
        """Every row whose term is in ``terms`` (duplicates included),
        each a fresh dict of ``term`` and ``columns``: the caller may
        set keys on it (its list values are shared; don't mutate them)."""
        return [{c: r[c] for c in self._names} for r in self._matches(terms)]

    def _matches(self, terms):
        """The cached rows behind rows() and dicts(), never to be changed."""
        import bisect

        want: dict[int, list[str]] = {}
        for t in set(terms):
            j = bisect.bisect_right(self._groups, t, key=lambda x: x[0]) - 1
            while j >= 0 and (self._reach[j] is None or self._reach[j] >= t):
                if self._groups[j][1] is None or self._groups[j][1] >= t:
                    want.setdefault(j, []).append(t)
                j -= 1
        columns = frozenset(self._columns)
        for j, ts in sorted(want.items()):
            _, _, gkey, md = self._groups[j]
            by_term = _group_rows(gkey, md, columns, ts)
            for t in sorted(ts):  # the file's order on a sorted layout
                yield from by_term[t]


def read_segment_rows(
    index_dir: str, shard: int, terms, columns: list[str]
) -> list[dict]:
    """The segment rows of one shard for ``terms``, read with pyarrow
    straight from ``segments/shard=S/`` (no Spark): the serve path's
    point read, run in the driver by wand.serve_topk. Row-group term
    statistics skip groups as TermTable does, and footers and decoded
    groups are cached per process. EVERY matching row comes back,
    including several rows for one term from unmerged partial indexes
    copied in beside the shard's file, so the kernels' duplicate checks
    still see them. Each row is a fresh dict of ``columns`` (``shard``
    from the directory)."""
    d = Path(index_dir) / "segments" / f"shard={shard}"
    if not d.is_dir():
        return []
    cols = [c for c in columns if c not in ("shard", "term")]
    rows = TermTable(str(d), cols).dicts(terms)
    for r in rows:
        r["shard"] = shard
    return rows


def _ckpt_path(out_dir: str) -> Path:
    return Path(out_dir) / "checkpoint.jsonl"


def _done_units(out_dir: str) -> set[str]:
    p = _ckpt_path(out_dir)
    if not p.exists():
        return set()
    return {json.loads(line)["unit"] for line in p.read_text().splitlines() if line}


_CKPT_LOCK = threading.Lock()


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
    from searty_spark.session import spread_input

    src = spread_input(corpus)

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
    # Default: ONE job covering every shard (write_segments' dynamic
    # partition overwrite makes the unit write idempotent). shard_batch < n_shards
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
            write_segments(seg, str(out / "segments"), n_shards, dynamic=True)
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
    # (the tiny n_terms x n_shards table, never the token stream)
    done = _done_units(out_dir) if resume else set()

    def run_dictionary() -> int:
        from pyspark.sql import Observation

        from searty_spark.champions import (
            _SEGMENT_FP_COLS,
            _fp_mod,
            fingerprint_expr,
        )

        t0 = time.perf_counter()
        # the SEGMENT fingerprint (stage 4's sidecar stamp) rides the
        # dictionary job as an observe metric on the pre-agg rows: this
        # job scans every segment row anyway, so no second scan
        obs_fp = Observation("segment_fp")
        n = write_dictionary(
            load_segments(spark, out_dir).observe(
                obs_fp, fingerprint_expr(_SEGMENT_FP_COLS)
            ),
            str(out / "dictionary"),
        )
        fp = _fp_mod(obs_fp.get["fp"])
        _commit(out_dir, "dictionary", wall_sec=time.perf_counter() - t0, rows=n,
                segment_fp=fp)
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

    # champions run AFTER the dictionary, never beside it: head
    # selection reads the written dictionary and the sidecar stamp
    # reuses the fingerprint the dictionary job observed (no segment
    # re-aggregation, no fingerprint rescan), and write_champions'
    # session-wide AQE/shuffle-partition flip races no other job
    if "dictionary" not in done:
        seg_fp = run_dictionary()
    else:
        seg_fp = _unit_metric(out_dir, "dictionary", "segment_fp")
    if "champions" not in done:
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
    """Top-k BM25 via block-max MaxScore; the pushed term filter skips
    segment row groups by their term statistics."""
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
    """The scoring job is the only Spark job: df_global comes from a
    driver point read of the dictionary, champions from
    ChampionClient. The scan's pushed term filter prunes the segment
    files' row groups by their term statistics."""
    from searty_spark.segments import SEGMENT_SCHEMA
    from searty_spark.wand import wand_topk

    dic = TermTable(str(Path(index_dir) / "dictionary"), ["df_global"])
    dfs = {t: int(df) for t, (df,) in dic.rows(terms).items()}
    # the known schema spares load_segments' schema-inference job
    seg = spark.read.schema(SEGMENT_SCHEMA).parquet(str(Path(index_dir) / "segments"))
    theta0 = 0.0
    # champion-seeded theta: every shard kernel block-prunes its
    # essential terms against it — results identical either way
    if terms and (Path(index_dir) / "champions").exists():
        from searty_spark.champions import ChampionClient, champion_theta

        champs = ChampionClient(spark, index_dir).lookup(terms)
        if champs:
            theta0 = champion_theta(champs, dfs, k, stats["n_docs"], stats["avgdl"])
    return wand_topk(
        seg,
        dstats=None,
        query="",
        k=k,
        n_docs=stats["n_docs"],
        avgdl=stats["avgdl"],
        n_shards=stats["n_shards"],
        df_lookup=dfs,
        terms=terms,
        theta0=theta0,
    )
