"""Driver point reads of term-keyed tables (index.TermTable, behind
wand.TermDfClient and champions.ChampionClient), without Spark: a
lookup equals a full-table filter, and on the term-sorted layout a
k-term lookup decodes at most k row groups. An unsorted multi-file
table (an older build, a foreign writer) keeps the exact answer and
loses only the bound."""

import random

import pyarrow as pa
import pyarrow.parquet as pq

from searty_spark.champions import ChampionClient
from searty_spark.wand import TermDfClient

# trigrams of every shape the tokenizer emits: ASCII, punctuation and
# spaces, accented, CJK, a supplementary-plane character
TERMS = sorted(
    {"aaa", "abc", " ab", "ab ", "a,b", "@@!", "!!!", "...", "x y", "zzz",
     "éte", "ét ", "ñan", "日本語", "本語の", "\U0001f600ab", "b\U0001f600c",
     "mod", "odu", "dul", "ule", "sha", "har", "are", "red", "{}(", "\x1fab"}
)
ABSENT = ["aab", "zzzz", "", " ", "ét", "日本", "\U0001f601ab", "~~~", "\x00"]


def _dictionary(terms):
    return pa.table({
        "term": pa.array(terms, pa.string()),
        "token_id": pa.array([sum(t.encode()) for t in terms], pa.int64()),
        "df_global": pa.array([len(t.encode()) * 7 + i for i, t in enumerate(terms)],
                              pa.int64()),
    })


def _full(table) -> dict[str, int]:
    return dict(zip(table["term"].to_pylist(), table["df_global"].to_pylist()))


def test_sorted_lookup_is_exact_and_reads_one_group_per_term(tmp_path, groups_read):
    # Python orders str by code point, which is UTF-8 byte order: the
    # order Spark sorts by and parquet's min/max statistics use
    assert TERMS == sorted(TERMS, key=lambda t: t.encode())
    tbl = _dictionary(TERMS)
    (tmp_path / "dictionary").mkdir()
    pq.write_table(tbl, tmp_path / "dictionary" / "part-00000.parquet", row_group_size=4)
    full = _full(tbl)
    client = TermDfClient(None, str(tmp_path))
    queries = [[], [TERMS[0]], [TERMS[-1]], ABSENT, TERMS, ["a,b", "@@!", "{}("],
               ["éte", "日本語", "\U0001f600ab"], ["sha", "zzzz", "ét", "mod"]]
    for q in queries:
        before = groups_read[0]
        assert TermDfClient(None, str(tmp_path)).lookup(q) == {
            t: full[t] for t in q if t in full
        }, q
        assert groups_read[0] - before <= len(set(q)), q
    for t in TERMS + ABSENT:
        before = groups_read[0]
        assert client.lookup([t]) == ({t: full[t]} if t in full else {}), t
        assert groups_read[0] - before <= 1, t
    # every answer, present or absent, is cached: repeats read nothing
    before = groups_read[0]
    assert client.lookup(TERMS + ABSENT) == full
    assert groups_read[0] == before


def test_unsorted_multi_file_lookup_stays_exact(tmp_path):
    rows = list(range(len(TERMS)))
    random.Random(5).shuffle(rows)
    tbl = _dictionary(TERMS).take(rows)
    d = tmp_path / "dictionary"
    d.mkdir()
    # three unsorted files (overlapping ranges), one written without
    # statistics (read for every term), plus the files a Spark write
    # leaves beside its parts
    for i, (lo, hi) in enumerate([(0, 11), (11, 20), (20, len(rows))]):
        pq.write_table(tbl.slice(lo, hi - lo), d / f"part-{i:05d}.parquet",
                       row_group_size=3, write_statistics=i != 1)
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-00000.parquet.crc").write_bytes(b"junk")
    full = _full(tbl)
    rng = random.Random(9)
    for _ in range(30):
        q = rng.sample(TERMS + ABSENT, rng.randint(0, 8))
        assert TermDfClient(None, str(tmp_path)).lookup(q) == {
            t: full[t] for t in q if t in full
        }, q


def test_champion_lookup_reads_the_sidecar_in_the_driver(tmp_path, groups_read):
    terms = TERMS[::2]
    side = pa.table({
        "term": pa.array(terms, pa.string()),
        "doc_ids": [[i, i + 10] for i in range(len(terms))],
        "tfs": [[i + 1, 1] for i in range(len(terms))],
        "dls": [[50, 60 + i] for i in range(len(terms))],
    })
    (tmp_path / "champions").mkdir()
    pq.write_table(side, tmp_path / "champions" / "part-00000.parquet", row_group_size=2)
    cc = ChampionClient(None, str(tmp_path), verify=False)
    want = {r["term"]: (r["doc_ids"], r["tfs"], r["dls"]) for r in side.to_pylist()}
    q = ["sha", "aaa", "zzzz", terms[3], terms[-1], "ét"]
    before = groups_read[0]
    got = cc.lookup(q)
    assert {t: tuple(a.tolist() for a in v) for t, v in got.items()} == {
        t: want[t] for t in q if t in want
    }
    assert groups_read[0] - before <= len([t for t in q if t in want])
    # a term with no list reads nothing
    before = groups_read[0]
    assert cc.lookup(ABSENT) == {} and groups_read[0] == before


def test_concurrent_lookups_agree_with_the_table(tmp_path):
    """Threads sharing one client (the server's answering thread and
    callers) each get exactly the table's rows while the cache fills."""
    import sys
    import threading

    tbl = _dictionary(TERMS)
    (tmp_path / "dictionary").mkdir()
    pq.write_table(tbl, tmp_path / "dictionary" / "part-00000.parquet", row_group_size=4)
    full = _full(tbl)
    client = TermDfClient(None, str(tmp_path))
    wrong = []

    def work(seed):
        rng = random.Random(seed)
        for _ in range(40):
            q = rng.sample(TERMS + ABSENT, 5)
            if client.lookup(q) != {t: full[t] for t in q if t in full}:
                wrong.append(q)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
