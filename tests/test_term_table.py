"""Driver point reads of term-keyed tables (index.TermTable, behind
wand.TermDfClient and champions.ChampionClient), without Spark: a
lookup equals a full-table filter, and on the term-sorted layout a
k-term lookup decodes at most k row groups. An unsorted multi-file
table (an older build, a foreign writer) keeps the exact answer and
loses only the bound. Decoded groups come from index's byte-bounded
LRU cache: a warm lookup decodes nothing, the cache stays within
GROUP_CACHE_BYTES, and the per-term clients keep no state of their
own."""

import random

import pyarrow as pa
import pyarrow.parquet as pq

from searty_spark.champions import ChampionClient
from searty_spark.index import TermTable
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


def _write_dictionary(tmp_path, name="dictionary", row_group_size=2):
    tbl = _dictionary(TERMS)
    (tmp_path / name).mkdir()
    pq.write_table(tbl, tmp_path / name / "part-00000.parquet", row_group_size=row_group_size)
    return str(tmp_path / name), _full(tbl)


def test_repeated_lookup_decodes_no_group(tmp_path, groups_read, group_cache):
    path, full = _write_dictionary(tmp_path)
    q = ["sha", "日本語", "zzzz", TERMS[0], TERMS[-1]]
    want = {t: full[t] for t in q if t in full}
    assert TermTable(path, ["df_global"]).rows(q) == {t: (v,) for t, v in want.items()}
    cold = group_cache.group_cache_info()
    assert cold.misses == groups_read[0] == cold.groups > 0 and cold.hits == 0
    # a new client over the same file: every group comes from the cache
    assert TermDfClient(None, str(tmp_path)).lookup(q) == want
    warm = group_cache.group_cache_info()
    assert groups_read[0] == cold.misses and warm.misses == cold.misses
    assert warm.hits == cold.groups and warm.bytes == cold.bytes > 0


def test_unchanged_directory_layout_is_walked_once(tmp_path):
    """A TermTable over a directory whose files are unchanged reuses
    the sorted group layout: the second one walks no row-group
    statistics. A file rewritten in place gets a new layout."""
    from searty_spark.index import _layout

    path, full = _write_dictionary(tmp_path)
    TermTable(path, ["df_global"])
    before = _layout.cache_info()
    t = TermTable(path, ["token_id", "df_global"])
    after = _layout.cache_info()
    assert after.misses == before.misses and after.hits == before.hits + 1
    assert {x: v for x, (_, v) in t.rows(TERMS).items()} == full
    few = TERMS[:5]
    pq.write_table(_dictionary(few), f"{path}/part-00000.parquet", row_group_size=1)
    assert TermDfClient(None, str(tmp_path)).lookup(TERMS) == _full(_dictionary(few))
    assert _layout.cache_info().misses == after.misses + 1


def test_tables_with_other_columns_get_their_own_columns(tmp_path, group_cache):
    path, full = _write_dictionary(tmp_path)
    tok = {t: sum(t.encode()) for t in TERMS}
    q = TERMS[::3] + ABSENT
    a = TermTable(path, ["df_global"])
    b = TermTable(path, ["token_id"])
    c = TermTable(path, ["token_id", "df_global"])
    for _ in range(2):  # cold, then warm
        assert a.rows(q) == {t: (full[t],) for t in q if t in full}
        assert b.rows(q) == {t: (tok[t],) for t in q if t in full}
        assert c.dicts(q) == [
            {"term": t, "token_id": tok[t], "df_global": full[t]} for t in sorted(q) if t in full
        ]


def test_mutating_a_returned_row_changes_no_later_read(tmp_path, group_cache):
    path, full = _write_dictionary(tmp_path)
    t = TermTable(path, ["df_global"])
    first = t.dicts(TERMS)
    for r in first:
        r["df_global"] = -1
        r["shard"] = 9
        del r["term"]
    assert t.dicts(TERMS) == [{"term": x, "df_global": full[x]} for x in TERMS]
    assert TermDfClient(None, str(tmp_path)).lookup(TERMS) == full


def test_cache_stays_within_its_budget_and_evicts_lru_first(
    tmp_path, groups_read, group_cache, monkeypatch
):
    """Reads of one group's terms over a 14-group table, with the
    budget monkeypatched to just under four groups' bytes: after each
    read the cache holds at most GROUP_CACHE_BYTES, every answer equals
    the table's, and which reads decode a group is exactly what an LRU
    model of the same group sizes predicts."""
    import collections

    path, full = _write_dictionary(tmp_path)
    groups = [TERMS[i:i + 2] for i in range(0, len(TERMS), 2)]
    TermTable(path, ["df_global"]).rows(TERMS)  # learn each group's size
    size = [grp.nbytes for grp in group_cache._GROUPS.values()]
    assert len(size) == len(groups)
    monkeypatch.setattr(group_cache, "_GROUPS", collections.OrderedDict())
    monkeypatch.setattr(group_cache, "_GROUP_COUNTS", dict.fromkeys(group_cache._GROUP_COUNTS, 0))
    budget = sum(size[:4]) - 1
    monkeypatch.setattr(group_cache, "GROUP_CACHE_BYTES", budget)

    model: collections.OrderedDict = collections.OrderedDict()
    evictions = 0
    rng = random.Random(17)

    def read(g):
        nonlocal evictions
        before = groups_read[0]
        assert TermDfClient(None, str(tmp_path)).lookup(groups[g]) == {
            t: full[t] for t in groups[g]
        }
        hit = g in model
        assert groups_read[0] - before == (0 if hit else 1), (g, list(model))
        if hit:
            model.move_to_end(g)
        else:
            model[g] = size[g]
            while sum(model.values()) > budget:
                model.popitem(last=False)
                evictions += 1
        info = group_cache.group_cache_info()
        assert info.bytes == sum(model.values()) <= budget
        assert info.groups == len(model) and info.evictions == evictions

    for g in (0, 1, 2, 0, 3):
        read(g)
    # group 1 was the least recently used when group 3 came in
    assert list(model) == [2, 0, 3] and evictions == 1
    for _ in range(200):
        read(rng.randrange(len(groups)))
    assert evictions > 10


def test_group_larger_than_the_budget_is_answered_uncached(
    tmp_path, groups_read, group_cache, monkeypatch
):
    path, full = _write_dictionary(tmp_path, row_group_size=len(TERMS))
    # below the group's Arrow buffers: 27 terms and their df_global
    monkeypatch.setattr(group_cache, "GROUP_CACHE_BYTES", 100)
    for _ in range(3):
        before = groups_read[0]
        assert TermDfClient(None, str(tmp_path)).lookup(TERMS + ABSENT) == full
        assert groups_read[0] - before == 1
    info = group_cache.group_cache_info()
    assert info.misses == 3 and (info.groups, info.bytes, info.evictions) == (0, 0, 0)


def test_term_df_client_keeps_no_per_term_state(tmp_path, group_cache):
    """20,000 lookups of distinct terms, present or absent, leave the
    client's and its table's state as they were: repeats are the
    group cache's, whose bytes stay within the budget."""
    path, full = _write_dictionary(tmp_path)
    client = TermDfClient(None, str(tmp_path))

    def state():
        return set(vars(client)), id(client._table), {
            k: (id(v), len(v)) for k, v in vars(client._table).items()
        }

    before = state()
    rng = random.Random(3)
    queries = TERMS + [f"{i:05d}{rng.choice(TERMS)}" for i in range(20_000 - len(TERMS))]
    for t in queries:
        assert client.lookup([t]) == ({t: full[t]} if t in full else {})
    assert state() == before and before[0] == {"_table"}
    info = group_cache.group_cache_info()
    assert info.groups == len(range(0, len(TERMS), 2))
    assert info.bytes <= group_cache.GROUP_CACHE_BYTES


def test_cold_lookup_converts_only_its_terms(tmp_path, groups_read, group_cache):
    """A group is decoded once and held as Arrow; a lookup converts the
    rows of its own terms alone, and a later lookup of other terms in
    the same group decodes nothing."""
    path, full = _write_dictionary(tmp_path, row_group_size=len(TERMS))
    table = TermTable(path, ["df_global"])
    assert table.rows(["sha", "zzzz"]) == {"sha": (full["sha"],)}
    (grp,) = group_cache._GROUPS.values()
    assert set(grp.rows) == {"sha", "zzzz"} and grp.rows["zzzz"] == []
    one = group_cache.group_cache_info()
    assert one.misses == groups_read[0] == 1 and one.bytes == grp.nbytes
    assert table.rows(TERMS) == {t: (full[t],) for t in TERMS}
    assert groups_read[0] == 1 and set(grp.rows) == set(TERMS) | {"zzzz"}
    assert group_cache.group_cache_info().bytes == grp.nbytes > one.bytes


def test_every_row_of_a_term_in_one_group_comes_back(tmp_path, group_cache):
    """A row group holding several rows of one term, apart (an unsorted
    foreign layout), answers every one of them in file order, on the
    cold read and on the warm one."""
    d = tmp_path / "t"
    d.mkdir()
    terms = ["mod", "abc", "mod", "zzz", "abc", "mod"]
    pq.write_table(pa.table({"term": terms, "df_global": list(range(6))}),
                   d / "part-00000.parquet")
    for _ in range(2):
        got = TermTable(str(d), ["df_global"]).dicts(["mod", "zzz", "nope"])
        assert [(r["term"], r["df_global"]) for r in got] == [
            ("mod", 0), ("mod", 2), ("mod", 5), ("zzz", 3)
        ]
    assert group_cache.group_cache_info().misses == 1


def test_champion_client_keeps_no_per_term_state(tmp_path, groups_read, group_cache):
    """Champion lookups leave the client as it was: a repeat is
    answered from index's group cache and decodes nothing."""
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
    before = {k: id(v) for k, v in vars(cc).items()}
    first = cc.lookup(TERMS + ABSENT)
    assert {t: [a.tolist() for a in v] for t, v in first.items()} == {
        r["term"]: [r["doc_ids"], r["tfs"], r["dls"]] for r in side.to_pylist()
    }
    n = groups_read[0]
    again = cc.lookup(TERMS + ABSENT)
    assert groups_read[0] == n and list(again) == list(first)
    assert all(
        all(x.dtype == "int64" and (x == y).all() for x, y in zip(again[t], first[t]))
        for t in first
    )
    assert {k: id(v) for k, v in vars(cc).items()} == before
