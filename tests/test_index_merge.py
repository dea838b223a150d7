"""On-disk index lifecycle: build -> query, checkpoint/resume
idempotence, and hierarchical merge == single-shot build
(FIXTURES.md §6; semantics of ref lib/indexer/merge.go:455-502)."""

import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from searty_spark import oracle as O
from searty_spark.corpus import synth_corpus
from searty_spark.index import load_segments, query_index, write_index
from searty_spark.merge import merge_indexes
from searty_spark.segments import decode_segment_positions

N_DOCS = 120


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_corpus(spark, N_DOCS, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_idx(corpus):
    docs = {r["doc_id"]: r["text"] for r in corpus.select("doc_id", "text").collect()}
    return O.build_index(docs)


def _index_content(spark, d):
    """Logical content: {(shard, term): (df, blob, pos_blob, block meta)}."""
    rows = load_segments(spark, d).collect()
    return {
        (r["shard"], r["term"]): (
            r["df"], bytes(r["blob"]), bytes(r["pos_blob"]),
            tuple(r["block_max_tf"]), tuple(r["block_min_dl"]),
        )
        for r in rows
    }


def test_build_query_resume_and_merge(spark, corpus, oracle_idx, tmp_path_factory):
    base = tmp_path_factory.mktemp("idx")
    full_dir = str(base / "full")

    # --- build (per-shard resume units) + query ---------------------------
    write_index(corpus, full_dir, n_shards=3, n_buckets=8, shard_batch=1)
    for q in ["the", "shared phrase", "spark"]:
        got = [(r["doc_id"], r["score"]) for r in query_index(spark, full_dir, q, k=10).collect()]
        assert got == O.bm25_topk(oracle_idx, q, k=10), q

    ckpt = Path(full_dir) / "checkpoint.jsonl"
    units = [json.loads(x)["unit"] for x in ckpt.read_text().splitlines()]
    assert units == ["docstats", "symbols"] + [
        f"segments/shards={s}-{s}" for s in range(3)
    ] + ["dictionary", "champions"]

    # --- resume: drop one shard, rebuild only it, content identical ------
    before = _index_content(spark, full_dir)
    shutil.rmtree(Path(full_dir) / "segments" / "shard=1")
    kept = [
        x for x in ckpt.read_text().splitlines()
        if json.loads(x)["unit"] != "segments/shards=1-1"
    ]
    ckpt.write_text("\n".join(kept) + "\n")
    write_index(corpus, full_dir, n_shards=3, n_buckets=8, resume=True, shard_batch=1)
    units2 = [json.loads(x)["unit"] for x in ckpt.read_text().splitlines()]
    assert units2.count("segments/shards=1-1") == 1 and len(units2) == len(units)
    assert _index_content(spark, full_dir) == before  # byte-identical blobs

    # --- resume: champions re-derived from the checkpointed fingerprint --
    # (the segment fp was observed on the dictionary job; a resumed
    # process must reuse it — and the reused stamp must still equal the
    # from-disk recompute, or ChampionClient would silently degrade)
    import shutil as _sh

    from searty_spark.champions import ChampionClient, segment_fingerprint
    from searty_spark.index import load_segments

    _sh.rmtree(Path(full_dir) / "champions")
    (Path(full_dir) / "champions_meta.json").unlink()
    kept = [
        x for x in ckpt.read_text().splitlines()
        if json.loads(x)["unit"] != "champions"
    ]
    ckpt.write_text("\n".join(kept) + "\n")
    write_index(corpus, full_dir, n_shards=3, n_buckets=8, resume=True, shard_batch=1)
    meta = json.loads((Path(full_dir) / "champions_meta.json").read_text())
    assert meta["fingerprint"] == segment_fingerprint(load_segments(spark, full_dir))
    assert not ChampionClient(spark, full_dir).stale
    assert _index_content(spark, full_dir) == before

    # --- merge: two disjoint halves == single-shot ------------------------
    a = corpus.filter(F.col("doc_id") < N_DOCS // 2)
    b = corpus.filter(F.col("doc_id") >= N_DOCS // 2)
    dir_a, dir_b, dir_m = str(base / "a"), str(base / "b"), str(base / "m")
    write_index(a, dir_a, n_shards=3, n_buckets=8)
    write_index(b, dir_b, n_shards=3, n_buckets=8)
    merge_indexes(spark, [dir_a, dir_b], dir_m)

    assert json.loads((Path(dir_m) / "stats.json").read_text()) == json.loads(
        (Path(full_dir) / "stats.json").read_text()
    )
    merged, full = _index_content(spark, dir_m), before
    assert merged.keys() == full.keys()
    assert merged == full  # byte-identical segments after merge

    for q in ["the", "shared phrase"]:
        got = [(r["doc_id"], r["score"]) for r in query_index(spark, dir_m, q, k=10).collect()]
        assert got == O.bm25_topk(oracle_idx, q, k=10), q


def test_merge_dedup_shared_urls(spark, corpus, tmp_path_factory):
    """Shared-document-identity merge (ref merge.go:137-190): the same
    url indexed in two partial indexes (a re-crawl, under a DIFFERENT
    doc_id the second time) merges into one document — byte-identical
    to a single-shot build over the union-minus-duplicates corpus."""
    base = tmp_path_factory.mktemp("idx_dedup")
    a = corpus.filter(F.col("doc_id") < 80)
    # re-crawl: docs 60..119, re-assigned doc_ids 1060..1119
    b = corpus.filter(F.col("doc_id") >= 60).withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    dir_a, dir_b, dir_m, dir_ss = (str(base / x) for x in ("a", "b", "m", "ss"))
    write_index(a, dir_a, n_shards=3, n_buckets=8)
    write_index(b, dir_b, n_shards=3, n_buckets=8)
    merge_indexes(spark, [dir_a, dir_b], dir_m, dedup_docs=True)

    # single-shot truth: index A's docs win for shared urls, B keeps
    # only its unique docs (under the re-assigned ids)
    single = a.unionByName(b.filter(F.col("doc_id") >= 1080))
    write_index(single, dir_ss, n_shards=3, n_buckets=8)

    assert json.loads((Path(dir_m) / "stats.json").read_text()) == json.loads(
        (Path(dir_ss) / "stats.json").read_text()
    )
    assert _index_content(spark, dir_m) == _index_content(spark, dir_ss)

    ds_m = spark.read.parquet(str(Path(dir_m) / "docstats"))
    ds_ss = spark.read.parquet(str(Path(dir_ss) / "docstats"))
    assert sorted(map(tuple, ds_m.collect())) == sorted(map(tuple, ds_ss.collect()))

    for t in ("dictionary",):
        got = sorted(map(tuple, spark.read.parquet(str(Path(dir_m) / t)).collect()))
        want = sorted(map(tuple, spark.read.parquet(str(Path(dir_ss) / t)).collect()))
        assert got == want, t
    _assert_term_sorted(Path(dir_m))

    # sidecar parity: definitions and entities equal the single-shot set
    for t in ("symbol_definitions", "symbols", "packages", "package_definitions"):
        got = sorted(map(tuple, spark.read.parquet(str(Path(dir_m) / t)).collect()))
        want = sorted(map(tuple, spark.read.parquet(str(Path(dir_ss) / t)).collect()))
        assert got == want, t

    # identical doc_id + identical url in both inputs also dedups
    dir_m2 = str(base / "m2")
    c = corpus.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 80))
    dir_c = str(base / "c")
    write_index(c, dir_c, n_shards=3, n_buckets=8)
    merge_indexes(spark, [dir_a, dir_c], dir_m2, dedup_docs=True)
    ss_a = _index_content(spark, dir_a)
    assert _index_content(spark, dir_m2) == ss_a


def test_doc_key_never_falls_back_to_categorical(spark, corpus, tmp_path_factory):
    """A corpus with only a categorical `source` column (no url) must
    NOT get an identity key auto-picked — dedup merge on a non-unique
    key would silently collapse distinct documents (found by a CLI
    drive: 500 docs -> 20). It must refuse instead, and an explicit
    doc_key must be honored."""
    base = tmp_path_factory.mktemp("idx_key")
    no_url = corpus.withColumnRenamed("url", "source").filter(F.col("doc_id") < 30)
    d1, d2 = str(base / "k1"), str(base / "k2")
    write_index(no_url, d1, n_shards=2, n_buckets=4)
    assert "key" not in spark.read.parquet(d1 + "/docstats").columns
    with pytest.raises(ValueError, match="key"):
        merge_indexes(spark, [d1, d1], str(base / "m"), dedup_docs=True)

    # explicit doc_key is honored (source IS unique here — it's the url)
    write_index(no_url, d2, n_shards=2, n_buckets=4, doc_key="source")
    assert "key" in spark.read.parquet(d2 + "/docstats").columns
    with pytest.raises(ValueError, match="not in corpus"):
        write_index(no_url, str(base / "k3"), doc_key="nope")


def test_merge_rejects_overlapping_docids(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("idx_overlap")
    d1, d2 = str(base / "x"), str(base / "y")
    half = corpus.filter(F.col("doc_id") < 40)
    write_index(half, d1, n_shards=2, n_buckets=4)
    write_index(half, d2, n_shards=2, n_buckets=4)
    with pytest.raises(Exception, match="overlapping"):
        merge_indexes(spark, [d1, d2], str(base / "m"))
        load_segments(spark, str(base / "m")).collect()


def test_tiered_compaction_is_associative(spark, corpus, tmp_path_factory):
    """Tree merge (fanin 2 over 4 partials) == flat merge == single-shot,
    byte-identical — merge associativity, the property that lets a
    streaming compactor pick any tier shape."""
    from searty_spark.merge import compact_partials

    base = tmp_path_factory.mktemp("idx_tiered")
    quarters = []
    for i in range(4):
        d = str(base / f"p{i}")
        write_index(
            corpus.filter((F.col("doc_id") % 4) == i), d, n_shards=3, n_buckets=8
        )
        quarters.append(d)
    tree_dir, flat_dir, ss_dir = (str(base / x) for x in ("tree", "flat", "ss"))
    compact_partials(spark, quarters, tree_dir, fanin=2)
    merge_indexes(spark, quarters, flat_dir)
    write_index(corpus, ss_dir, n_shards=3, n_buckets=8)

    ss = _index_content(spark, ss_dir)
    assert _index_content(spark, tree_dir) == ss
    assert _index_content(spark, flat_dir) == ss
    assert json.loads((Path(tree_dir) / "stats.json").read_text()) == json.loads(
        (Path(ss_dir) / "stats.json").read_text()
    )

    # champion sidecar: derived ONCE, at the final tier only — every
    # intermediate tier skips it (its sidecar would be discarded by the
    # next merge); the final sidecar equals the single-shot build's
    tiers = sorted((Path(tree_dir).parent / "tree.tiers").glob("t*"))
    assert tiers, "fanin-2 over 4 partials must produce intermediate tiers"
    for t in tiers:
        assert not (t / "champions").exists(), t
        assert not (t / "champions_meta.json").exists(), t
    assert (Path(tree_dir) / "champions").exists()

    def champs(d):
        return {
            r["term"]: (tuple(r["doc_ids"]), tuple(r["tfs"]), tuple(r["dls"]))
            for r in spark.read.parquet(str(Path(d) / "champions")).collect()
        }

    assert champs(tree_dir) == champs(ss_dir) == champs(flat_dir)
    assert (
        (Path(tree_dir) / "champions_meta.json").read_text()
        == (Path(ss_dir) / "champions_meta.json").read_text()
    )


def test_compact_partials_rejects_fanin_below_two(spark, tmp_path_factory):
    from searty_spark.merge import compact_partials

    with pytest.raises(ValueError, match="fanin"):
        compact_partials(spark, ["a", "b", "c"], "/tmp/nope", fanin=1)


def test_load_stats_rejects_foreign_format(tmp_path):
    """A round-1 on-disk index (no format stamp) and a format-2 index
    (segments in shard=N/bucket=M directories) must fail fast with a
    rebuild hint, not die on a deep KeyError in the Arrow kernel or
    read a layout this build no longer lists."""
    from searty_spark.index import load_stats

    stats = {"n_docs": 5, "sum_dl": 50, "avgdl": 10.0, "n_shards": 2, "n_buckets": 4}
    for fmt in (None, 2):
        (tmp_path / "stats.json").write_text(
            json.dumps(stats if fmt is None else {**stats, "format": fmt})
        )
        with pytest.raises(ValueError, match=f"format {fmt or 1}, .*rebuild"):
            load_stats(str(tmp_path))


def test_merge_rejects_mismatched_docstats_schemas(spark, corpus, tmp_path_factory):
    """Merging an index built WITH a doc_key with one built WITHOUT
    must raise a clear ValueError pointing at the column mismatch, not
    unionByName's raw AnalysisException."""
    base = tmp_path_factory.mktemp("idx_schema")
    with_key = corpus.filter(F.col("doc_id") < 20)
    without_key = corpus.filter(F.col("doc_id") >= 100).drop("url")
    d1, d2 = str(base / "w"), str(base / "wo")
    write_index(with_key, d1, n_shards=2, n_buckets=4)
    write_index(without_key, d2, n_shards=2, n_buckets=4)
    with pytest.raises(ValueError, match="docstats schemas differ"):
        merge_indexes(spark, [d1, d2], str(base / "m"))
    with pytest.raises(ValueError, match="docstats schemas differ"):
        merge_indexes(spark, [d1, d2], str(base / "m2"), dedup_docs=True)


def _dir_bytes(d: Path) -> list[bytes]:
    """A written table's content: its part files' bytes, name-independent
    (part file names carry a per-write UUID)."""
    return sorted(f.read_bytes() for f in d.glob("part-*"))


def _assert_term_sorted(d: Path) -> None:
    """The dictionary's terms rise strictly across its files (in
    file-name order) and row groups, and no group is larger than the
    point-read bound: the layout index.TermTable reads one group per
    term from. Checked on the pyarrow footers and the term column."""
    import pyarrow.parquet as pq

    from searty_spark.index import TERM_ROW_GROUP_ROWS

    terms, n_groups = [], 0
    for f in sorted((d / "dictionary").glob("part-*")):
        md = pq.read_metadata(f)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(0).statistics
            got = pq.ParquetFile(f).read_row_group(g, columns=["term"])["term"].to_pylist()
            assert md.schema.column(0).name == "term" and st.has_min_max
            assert (st.min, st.max) == (got[0], got[-1])
            assert 0 < rg.num_rows <= TERM_ROW_GROUP_ROWS
            terms += got
            n_groups += 1
    assert n_groups > 1, "expected a multi-group dictionary"
    # str order is code point order, i.e. UTF-8 byte order
    assert all(a < b for a, b in zip(terms, terms[1:]))


def _assert_one_file_per_shard(d: Path, n_shards: int) -> None:
    """Each shard directory of the segments holds exactly one parquet
    file, and no column but ``term`` carries min/max statistics."""
    import pyarrow.parquet as pq

    shards = sorted((d / "segments").glob("shard=*"))
    assert [s.name for s in shards] == [f"shard={i}" for i in range(n_shards)]
    for s in shards:
        files = [f for f in s.iterdir() if not f.name.startswith(("_", "."))]
        assert len(files) == 1 and files[0].name.startswith("part-"), files
        md = pq.read_metadata(files[0])
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                st = md.row_group(g).column(c).statistics
                has = st is not None and st.has_min_max
                assert has == (md.schema.column(c).path == "term"), (s, g, c)


def test_build_is_deterministic_and_stamps_without_rescan(
    spark, tmp_path, monkeypatch
):
    """Champions run after the dictionary and reuse the segment
    fingerprint its job observed: write_index never calls
    segment_fingerprint. Two builds of one corpus write byte-identical
    segment files per shard, dictionary and champion sidecars (300
    docs, so the default min_df of 256 leaves real head terms), one
    segment file per shard with term statistics only, the dictionary
    term-sorted in small row groups; so does a merge of the build."""
    import searty_spark.champions as champions

    def no_rescan(_segments):
        raise AssertionError("write_index rescanned the segments for the fingerprint")

    monkeypatch.setattr(champions, "segment_fingerprint", no_rescan)
    docs = synth_corpus(spark, 300, seed=7).cache()
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        write_index(docs, str(d), n_shards=2, n_buckets=4)
    assert spark.read.parquet(str(a / "champions")).count() > 0
    subs = ["dictionary", "champions", "segments/shard=0", "segments/shard=1"]
    for sub in subs:
        assert _dir_bytes(a / sub) == _dir_bytes(b / sub), sub
    assert (a / "champions_meta.json").read_text() == (
        b / "champions_meta.json"
    ).read_text()
    _assert_term_sorted(a)
    _assert_one_file_per_shard(a, 2)
    monkeypatch.undo()  # the merge re-derives its sidecar stamp
    m = tmp_path / "m"
    merge_indexes(spark, [str(a)], str(m))
    _assert_term_sorted(m)
    _assert_one_file_per_shard(m, 2)
    for sub in subs:
        assert _dir_bytes(a / sub) == _dir_bytes(m / sub), sub
