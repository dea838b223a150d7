"""The serve path's segment read (index.read_segment_rows), run
without Spark: for any term list it returns exactly the rows a full
pyarrow read of the shard's directory holds for those terms —
duplicates from unmerged partial indexes included — skips row groups
by their term statistics, and reads a file rewritten in place fresh
despite the per-process footer and row-group caches. A warm read
decodes no row group, and each read returns rows of its own."""

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from searty_spark.index import _footer_at, read_segment_rows
from searty_spark.phrase_seg import PHRASE_COLS
from searty_spark.wand import SCORE_COLS
from test_term_table import ABSENT, TERMS

N_SHARDS = 3


def _rows(terms, shard: int, tag: int) -> pa.Table:
    """Segment-shaped rows; every value derives from (term, shard, tag),
    so rows from different files differ."""
    n = len(terms)
    return pa.table({
        "bucket": pa.array([sum(t.encode()) % 4 for t in terms], pa.int32()),
        "term": pa.array(terms, pa.string()),
        "df": pa.array([len(t) + tag for t in terms], pa.int64()),
        "cf": pa.array([7] * n, pa.int64()),
        "blob": pa.array([f"{t}|{shard}|{tag}".encode() for t in terms], pa.binary()),
        "pos_blob": pa.array([bytes([shard, tag, i % 256]) for i in range(n)], pa.binary()),
        "block_last_doc": pa.array([[i, i + 100 + tag] for i in range(n)], pa.list_(pa.int64())),
        "block_max_tf": pa.array([[1 + tag, 2] for _ in terms], pa.list_(pa.int32())),
        "block_min_dl": pa.array([[5, 6 + shard] for _ in terms], pa.list_(pa.int64())),
        "block_offset": pa.array([[0, 3] for _ in terms], pa.list_(pa.int32())),
        "pos_block_offset": pa.array([[0, 1] for _ in terms], pa.list_(pa.int32())),
    })


@pytest.fixture
def index_dir(tmp_path):
    """A shard-partitioned segments tree like a Spark write: per shard
    one term-sorted file in small row groups. Shard 0 has a second file
    in descending term order repeating some of its terms (an unmerged
    partial index copied in beside it); shard 2 is an empty directory
    and shard 3 has none; every directory carries a _SUCCESS and a
    .crc file."""
    seg = tmp_path / "segments"
    for s in range(N_SHARDS):
        d = seg / f"shard={s}"
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_bytes(b"")
        (d / ".part-00000.parquet.crc").write_bytes(b"junk")
        if s == 2:
            continue
        mine = [t for t in TERMS if (sum(t.encode()) + s) % 5 != 0]
        pq.write_table(_rows(mine, s, 0), d / "part-00000.parquet", row_group_size=2)
        if s == 0:
            pq.write_table(_rows(mine[::-1][::2], s, 1), d / "part-00001.parquet",
                           row_group_size=2)
    return tmp_path


def _key(r: dict) -> tuple:
    return tuple((c, tuple(v) if isinstance(v, list) else v) for c, v in sorted(r.items()))


def _full(index_dir, shard: int, terms) -> list[tuple]:
    """Every row of the shard for ``terms`` from a whole-file read."""
    out = []
    for f in sorted((index_dir / "segments" / f"shard={shard}").glob("part-*.parquet")):
        for r in pq.read_table(f).to_pylist():
            if r["term"] in terms:
                out.append(_key({c: r[c] for c in PHRASE_COLS if c != "shard"}
                                | {"shard": shard}))
    return sorted(out)


def _read(index_dir, shard: int, terms) -> list[tuple]:
    got = read_segment_rows(str(index_dir), shard, list(terms), PHRASE_COLS)
    return sorted(_key(r) for r in got)


def test_reader_equals_a_full_read(index_dir, groups_read):
    queries = [[], [TERMS[0]], [TERMS[-1]], ABSENT, TERMS, ["a,b", "@@!", "{}(", "..."],
               ["éte", "日本語", "\U0001f600ab", "本語の"], ["sha", "zzzz", "ét", "mod"]]
    queries += [[t] for t in TERMS + ABSENT]
    for shard in range(N_SHARDS + 1):
        for q in queries:
            before = groups_read[0]
            assert _read(index_dir, shard, q) == _full(index_dir, shard, set(q)), (shard, q)
            # sorted files: a term lies in at most one group per file,
            # and at most two files share a directory
            assert groups_read[0] - before <= 2 * len(set(q)), (shard, q)
    assert read_segment_rows(str(index_dir), 0, [], PHRASE_COLS) == []
    # a shard with no directory at all reads nothing
    assert read_segment_rows(str(index_dir), N_SHARDS, TERMS, PHRASE_COLS) == []


def test_empty_directory_and_stray_files(index_dir):
    assert _read(index_dir, 2, TERMS) == []
    # a directory holding only a _SUCCESS marker and a checksum
    d = index_dir / "segments" / "shard=0"
    for f in d.glob("part-*"):
        f.unlink()
    assert _read(index_dir, 0, TERMS) == []


def test_duplicate_term_rows_all_come_back(index_dir):
    d = index_dir / "segments" / "shard=0"
    dup = set(pq.read_table(d / "part-00000.parquet")["term"].to_pylist()) & set(
        pq.read_table(d / "part-00001.parquet")["term"].to_pylist()
    )
    assert len(dup) >= 2
    got = read_segment_rows(str(index_dir), 0, sorted(dup), PHRASE_COLS)
    assert sorted(r["term"] for r in got) == sorted(list(dup) * 2)
    # the two rows of a term are the two files' rows, not one row twice
    assert {(r["term"], r["df"]) for r in got} == {
        (t, len(t) + tag) for t in dup for tag in (0, 1)
    }
    assert _read(index_dir, 0, dup) == _full(index_dir, 0, dup)


def test_rewritten_file_is_read_fresh(index_dir):
    terms = TERMS[::3]
    f = index_dir / "segments" / "shard=0" / "part-00001.parquet"
    before = _read(index_dir, 0, terms)
    hits = _footer_at.cache_info().hits
    assert _read(index_dir, 0, terms) == before
    assert _footer_at.cache_info().hits > hits  # the repeat used the cache
    # rewrite in place with other rows and other row-group bounds
    pq.write_table(_rows(terms[:3], 0, 2), f, row_group_size=1)
    got = _read(index_dir, 0, terms)
    assert got == _full(index_dir, 0, set(terms)) != before
    assert {dict(r)["df"] - len(dict(r)["term"]) for r in got} == {0, 2}
    # and a file replaced by a copy of another one (new inode, new size)
    shutil.copy(index_dir / "segments" / "shard=1" / "part-00000.parquet", f)
    assert _read(index_dir, 0, terms) == _full(index_dir, 0, set(terms))
    assert {dict(r)["shard"] for r in _read(index_dir, 0, terms)} == {0}


def test_repeated_read_decodes_no_group(index_dir, groups_read, group_cache):
    q = ["sha", "日本語", "zzzz", "...", TERMS[0], TERMS[-1]]
    for shard in range(N_SHARDS):
        cold = _read(index_dir, shard, q)
        before = groups_read[0]
        assert _read(index_dir, shard, q) == cold == _full(index_dir, shard, set(q))
        assert groups_read[0] == before, shard
    info = group_cache.group_cache_info()
    assert info.misses == groups_read[0] > 0 and info.hits == info.misses


def test_mutating_a_returned_row_changes_no_later_read(index_dir, group_cache):
    want = _full(index_dir, 0, set(TERMS))
    for r in read_segment_rows(str(index_dir), 0, TERMS, PHRASE_COLS):
        r["shard"] = 7
        r["df_global"] = 1
        r["df"] = -1
        del r["blob"]
    assert _read(index_dir, 0, TERMS) == want


def test_score_and_phrase_reads_share_one_group(index_dir, groups_read, group_cache):
    """A segment group is cached once whatever columns are asked: a
    score read after a phrase read decodes nothing, and a phrase read
    after a score read decodes the group once more with both column
    sets and replaces it. Each read gets exactly its own columns."""
    n_groups = sum(
        pq.ParquetFile(f).num_row_groups
        for f in (index_dir / "segments" / "shard=1").glob("part-*.parquet")
    )
    score = read_segment_rows(str(index_dir), 1, TERMS, SCORE_COLS)
    assert {frozenset(r) for r in score} == {frozenset(SCORE_COLS)}
    assert groups_read[0] == n_groups
    phrase = read_segment_rows(str(index_dir), 1, TERMS, PHRASE_COLS)
    assert {frozenset(r) for r in phrase} == {frozenset(PHRASE_COLS)}
    assert groups_read[0] == 2 * n_groups
    assert read_segment_rows(str(index_dir), 1, TERMS, SCORE_COLS) == score
    assert groups_read[0] == 2 * n_groups
    assert sorted(_key(r) for r in phrase) == _full(index_dir, 1, set(TERMS))
    info = group_cache.group_cache_info()
    assert info.groups == n_groups and info.misses == 2 * n_groups
