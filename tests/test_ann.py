"""ANN operators: sign-LSH near-dup parity and trained-IVF behavior."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from searty_spark import ann


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    df.count()
    return df


def test_lsh_dup_pairs_match_exact(emb):
    exact = [tuple(r) for r in ann.cosine_dup_pairs(emb, threshold=0.45).collect()]
    lsh = [tuple(r) for r in ann.cosine_dup_pairs_lsh(emb, threshold=0.45, dim=64).collect()]
    assert lsh == exact and len(exact) > 0


def test_ivf_train_deterministic(emb):
    c1 = ann.ivf_train(emb, n_cells=16, n_iter=2)
    c2 = ann.ivf_train(emb, n_cells=16, n_iter=2)
    assert np.array_equal(c1, c2)
    assert c1.shape == (16, 64)
    # unit-norm centroids
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_assign_centroids_covers_all(emb):
    cents = ann.ivf_train(emb, n_cells=16, n_iter=2)
    a = ann.ivf_assign_centroids(emb, cents)
    assert a.count() == emb.count()
    assert a.filter((F.col("cell") < 0) | (F.col("cell") >= 16)).count() == 0
    # k-means assignment matches a local numpy recomputation
    rows = emb.select("vec_id", "embedding").collect()
    v = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    want = {r["vec_id"]: int(c) for r, c in zip(rows, np.argmax(v @ cents.T, axis=1))}
    got = {r["vec_id"]: r["cell"] for r in a.collect()}
    assert got == want


def test_ivf_topk_trained_recall(emb):
    """Trained IVF at n_probe=4/16 cells must recover most of the
    brute-force top-10 (recall floor asserted; exact value reported in
    BENCH/BASELINE.md)."""
    cents = ann.ivf_train(emb, n_cells=16, n_iter=2)
    truth = [r["vec_id"] for r in ann.cosine_topk(emb, 0, k=10).collect()]
    approx = [r["vec_id"] for r in ann.ivf_topk_trained(emb, 0, cents, k=10, n_probe=4).collect()]
    recall = len(set(truth) & set(approx)) / 10
    assert recall >= 0.5, recall
    # probing every cell is exhaustive -> exact
    full = [r["vec_id"] for r in ann.ivf_topk_trained(emb, 0, cents, k=10, n_probe=16).collect()]
    assert full == truth


def test_pq_roundtrip_and_recall(emb):
    """PQ: deterministic codebooks/codes, codes in range, ADC+refine
    top-k contains most of the exact top-k (refine bounds the miss)."""
    books = ann.pq_train(emb, m=8, k=16, n_iter=2)
    assert books.shape == (8, 16, 8)
    assert np.array_equal(books, ann.pq_train(emb, m=8, k=16, n_iter=2))

    codes = {r["vec_id"]: r["codes"] for r in ann.pq_encode(emb, books).collect()}
    assert len(codes) == emb.count()
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in codes.values())
    # partitioning-invariant encoding
    codes2 = {
        r["vec_id"]: r["codes"]
        for r in ann.pq_encode(emb.repartition(7), books).collect()
    }
    assert codes == codes2

    truth = [r["vec_id"] for r in ann.cosine_topk(emb, 0, k=10).collect()]
    approx = [r["vec_id"] for r in ann.pq_topk(emb, 0, books, k=10, refine=50).collect()]
    recall = len(set(truth) & set(approx)) / 10
    assert recall >= 0.5, recall
    # refine = corpus size degenerates to exact brute force
    exact = [
        (r["vec_id"], r["cos"])
        for r in ann.pq_topk(emb, 0, books, k=10, refine=emb.count()).collect()
    ]
    brute = [(r["vec_id"], r["cos"]) for r in ann.cosine_topk(emb, 0, k=10).collect()]
    assert exact == brute


def test_ivf_pq_composition(emb):
    """IVF+PQ: probing ALL cells degenerates to plain PQ (both in flat
    and in residual mode); fewer probes return a subset-quality result
    with a sane recall floor."""
    cents = ann.ivf_train(emb, n_cells=8, n_iter=2)
    books = ann.pq_train(emb, m=8, k=16, n_iter=2)
    full = [
        (r["vec_id"], r["cos"])
        for r in ann.ivf_pq_topk(
            emb, 0, cents, books, k=10, n_probe=8, refine=50, residual=False
        ).collect()
    ]
    pq_only = [
        (r["vec_id"], r["cos"])
        for r in ann.pq_topk(emb, 0, books, k=10, refine=50).collect()
    ]
    assert full == pq_only  # n_probe == n_cells: coarse stage prunes nothing

    rbooks = ann.pq_train(emb, m=8, k=16, n_iter=2, cents=cents)
    rfull = [
        (r["vec_id"], r["cos"])
        for r in ann.ivf_pq_topk(
            emb, 0, cents, rbooks, k=10, n_probe=8, refine=50, residual=True
        ).collect()
    ]
    rpq_only = [
        (r["vec_id"], r["cos"])
        for r in ann.pq_topk(emb, 0, rbooks, k=10, refine=50, cents=cents).collect()
    ]
    assert rfull == rpq_only

    truth = {r["vec_id"] for r in ann.cosine_topk(emb, 0, k=10).collect()}
    probed = {
        r["vec_id"]
        for r in ann.ivf_pq_topk(
            emb, 0, cents, rbooks, k=10, n_probe=4, refine=50, residual=True
        ).collect()
    }
    assert len(truth & probed) / 10 >= 0.4


def test_ann_index_roundtrip(emb, tmp_path):
    """write_ann_index -> load_ann_index: artifacts round-trip exactly
    (JSON float repr is lossless for doubles) and the stored (cell,
    codes) table equals the in-query assign/encode pass."""
    from searty_spark import ann_index

    d = str(tmp_path / "ann")
    stats = ann_index.write_ann_index(
        emb, d, n_cells=8, n_iter=2, sample=4096, m=8, pq_k=16
    )
    assert stats["n_vectors"] == emb.count() and stats["dim"] == 64

    loaded, cents, books, vectors = ann_index.load_ann_index(emb.sparkSession, d)
    assert loaded == stats and stats["residual"] is True
    assert np.array_equal(cents, ann.ivf_train(emb, n_cells=8, n_iter=2))
    # default artifact stores RESIDUAL codes: books trained on
    # v - centroid[cell], encode twin passes the same cents
    assert np.array_equal(books, ann.pq_train(emb, m=8, k=16, n_iter=2, cents=cents))

    stored = {
        r["vec_id"]: (r["cell"], tuple(r["codes"])) for r in vectors.collect()
    }
    assign = {r["vec_id"]: r["cell"] for r in ann.ivf_assign_centroids(emb, cents).collect()}
    codes = {
        r["vec_id"]: tuple(r["codes"])
        for r in ann.pq_encode(emb, books, cents=cents).collect()
    }
    assert stored == {v: (assign[v], codes[v]) for v in assign}

    # the vectors table stores codes only — no float vector column
    assert "embedding" not in vectors.columns

    # foreign format fails fast
    import json as _json
    from pathlib import Path

    s = _json.loads((Path(d) / "ann_stats.json").read_text())
    s["format"] = 99
    (Path(d) / "ann_stats.json").write_text(_json.dumps(s))
    with pytest.raises(ValueError, match="format"):
        ann_index.load_ann_index(emb.sparkSession, d)


def test_ann_index_query_parity(emb, tmp_path):
    """Stored-artifact queries are result-identical to the
    self-contained recompute paths, and the probed ADC scan carries the
    cell filter down to the partitioned parquet scan."""
    from searty_spark import ann_index

    d = str(tmp_path / "ann")
    ann_index.write_ann_index(emb, d, n_cells=8, n_iter=2, m=8, pq_k=16)
    cents = ann.ivf_train(emb, n_cells=8, n_iter=2)
    books = ann.pq_train(emb, m=8, k=16, n_iter=2, cents=cents)

    want_pq = [
        tuple(r)
        for r in ann.pq_topk(emb, 0, books, k=10, refine=50, cents=cents).collect()
    ]
    got_pq = [
        tuple(r) for r in ann_index.pq_topk_indexed(emb, d, 0, k=10, refine=50).collect()
    ]
    assert got_pq == want_pq

    want = [
        tuple(r)
        for r in ann.ivf_pq_topk(
            emb, 0, cents, books, k=10, n_probe=2, refine=50, residual=True
        ).collect()
    ]
    stored_q = ann_index.ivf_pq_topk_indexed(emb, d, 0, k=10, n_probe=2, refine=50)
    assert [tuple(r) for r in stored_q.collect()] == want

    # partition pruning: the vectors scan must carry a cell filter (the
    # probe list) — visible as PartitionFilters on the parquet scan;
    # the codes scan must NOT read a float vector column
    plan = stored_q._sc._jvm.PythonSQLUtils.explainString(
        stored_q._jdf.queryExecution(), "formatted"
    )
    scan_details = [d for d in plan.split("\n\n") if "vectors" in d and "Scan parquet" in d]
    assert scan_details, plan
    import re

    assert any(
        "PartitionFilters" in d
        and re.search(r"cell#\d+ IN", d.split("PartitionFilters", 1)[1][:200])
        for d in scan_details
    ), scan_details
    assert all("embedding" not in d.split("ReadSchema", 1)[1][:200] for d in scan_details)


def test_flat_stored_matches_flat_recompute(emb, tmp_path):
    """The pq_topk_stored gate's configuration: a FLAT artifact
    (residual=False) must be result-identical to the self-contained
    flat pq_topk — books and codes are the same pure function of the
    embeddings on both sides, so this identity is structural (the
    cross-scheme residual-artifact-vs-flat-oracle pairing was only
    empirical and broke at sf0.1; regression-pinned here)."""
    from searty_spark import ann_index

    d = str(tmp_path / "ann_flat")
    ann_index.write_ann_index(emb, d, n_cells=8, n_iter=2, m=8, pq_k=16,
                              residual=False)
    books = ann.pq_train(emb, m=8, k=16, n_iter=2)
    want = [
        tuple(r) for r in ann.pq_topk(emb, 0, books, k=10, refine=50).collect()
    ]
    got = [
        tuple(r)
        for r in ann_index.pq_topk_indexed(emb, d, 0, k=10, refine=50).collect()
    ]
    assert got == want


def test_ann_gate_cache_is_keyed_on_its_embeddings(spark, tmp_path, monkeypatch):
    """The stored-path gates cache their artifact in a temp dir named
    after the sf dir's basename. Two sf dirs of one basename must not
    share it: the second call rebuilds from its own embeddings, and a
    repeat call with an unchanged file reuses the artifact."""
    import json
    import tempfile
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    rng = np.random.default_rng(7)
    for parent, n in (("a", 40), ("b", 48)):
        sf = tmp_path / parent / "sf_same"
        sf.mkdir(parents=True)
        v = rng.standard_normal((n, 16)).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        }), sf / "embeddings.parquet")
        stats_p = Path(entry._ann_index_dir(spark, str(sf))) / "ann_stats.json"
        assert json.loads(stats_p.read_text())["n_vectors"] == n
    built = stats_p.stat().st_mtime_ns
    entry._ann_index_dir(spark, str(sf))
    assert stats_p.stat().st_mtime_ns == built


def _vec_rows(spark, d):
    return {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{d}/vectors").collect()
    }


def test_ann_append_equals_rebuild_and_merge(emb, tmp_path):
    """ANN lifecycle (VERDICT r4 task 4): append under frozen codebooks
    is row-identical to a full rebuild of old ∪ new with the same
    codebooks; merge of same-codebook artifacts equals the appended
    index; stored queries stay green over the appended index; vec_id
    collisions and codebook mismatches fail fast before any write."""
    import json

    from searty_spark import ann_index

    spark = emb.sparkSession
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)

    d_inc = str(tmp_path / "inc")
    ann_index.write_ann_index(old, d_inc, n_cells=8, n_iter=2, m=8, pq_k=16)
    _, cents, books, _ = ann_index.load_ann_index(spark, d_inc)
    stats = ann_index.append_ann_index(new, d_inc)
    assert stats["n_vectors"] == emb.count()

    # identity twin: one-shot encode of the full set under the SAME
    # frozen codebooks
    d_full = str(tmp_path / "full")
    ann_index.write_ann_index(emb, d_full, cents=cents, books=books)
    assert _vec_rows(spark, d_inc) == _vec_rows(spark, d_full)

    # stored query over the appended index == recompute with the same
    # codebooks over the full set
    got = [
        tuple(r)
        for r in ann_index.ivf_pq_topk_indexed(
            emb, d_inc, 0, k=10, n_probe=2, refine=50
        ).collect()
    ]
    want = [
        tuple(r)
        for r in ann.ivf_pq_topk(
            emb, 0, cents, books, k=10, n_probe=2, refine=50, residual=True
        ).collect()
    ]
    assert got == want

    # merge of two same-codebook shards == the appended index
    d_a, d_b, d_m = (str(tmp_path / x) for x in ("a", "b", "m"))
    ann_index.write_ann_index(old, d_a, cents=cents, books=books)
    ann_index.write_ann_index(new, d_b, cents=cents, books=books)
    mstats = ann_index.merge_ann_indexes(spark, [d_a, d_b], d_m)
    assert mstats["n_vectors"] == emb.count()
    assert _vec_rows(spark, d_m) == _vec_rows(spark, d_inc)

    # overlapping vec_ids: append and merge both refuse before writing
    before = _vec_rows(spark, d_inc)
    with pytest.raises(ValueError, match="vec_id"):
        ann_index.append_ann_index(old.limit(5), d_inc)
    assert _vec_rows(spark, d_inc) == before
    # duplicates WITHIN the incoming batch are refused too
    fresh = emb.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 50_000
    )
    with pytest.raises(ValueError, match="duplicate vec_ids"):
        ann_index.append_ann_index(fresh.unionByName(fresh), d_inc)
    assert _vec_rows(spark, d_inc) == before
    with pytest.raises(ValueError, match="disjoint"):
        ann_index.merge_ann_indexes(spark, [d_a, d_a], str(tmp_path / "m2"))

    # codebook mismatch: retrained artifact cannot concat-merge
    d_c = str(tmp_path / "c")
    ann_index.write_ann_index(new, d_c, n_cells=8, n_iter=1, m=8, pq_k=16)
    if json.loads(open(f"{d_c}/codebooks.json").read()) != books.tolist():
        with pytest.raises(ValueError, match="codebooks differ"):
            ann_index.merge_ann_indexes(spark, [d_a, d_c], str(tmp_path / "m3"))


def test_ann_append_crash_replay_and_self_merge_guard(emb, tmp_path):
    """The manifest commit protocol: an append that crashed after
    writing its batch dir but BEFORE committing ann_stats.json is
    invisible to readers, and replaying the same batch succeeds
    (overwrites the orphan) instead of wedging on the duplicate-vec_id
    check; merging an index onto itself fails before any write."""
    import json
    from pathlib import Path

    from searty_spark import ann_index

    spark = emb.sparkSession
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)

    d = str(tmp_path / "crash")
    ann_index.write_ann_index(old, d, n_cells=8, n_iter=2, m=8, pq_k=16)
    stats0, cents, books, _ = ann_index.load_ann_index(spark, d)

    # simulate the crash: batch rows land, manifest never advances
    enc = ann_index._assign_encode_udf(cents, books)
    orphan = new.select("vec_id", enc("embedding").alias("vc")).select(
        "vec_id", F.col("vc.cell").alias("cell"), F.col("vc.codes").alias("codes")
    )
    orphan.write.partitionBy("cell").mode("overwrite").parquet(f"{d}/vectors/batch=1")

    # readers ignore the orphan entirely
    s, _, _, vectors = ann_index.load_ann_index(spark, d)
    assert s["batches"] == [0] and vectors.count() == old.count()

    # the replayed append does NOT false-positive on duplicate vec_ids,
    # overwrites the orphan dir, and commits
    stats = ann_index.append_ann_index(new, d, batch_tag="epoch-1")
    assert stats["batches"] == [0, 1] and stats["n_vectors"] == emb.count()
    assert ann_index.load_ann_index(spark, d)[3].count() == emb.count()

    # the OTHER half of the replay window — crash AFTER the manifest
    # commit but before the caller's checkpoint commit: replaying the
    # same tagged batch is a no-op, not a duplicate-vec_id wedge
    stats2 = ann_index.append_ann_index(new, d, batch_tag="epoch-1")
    assert stats2["batches"] == [0, 1] and stats2["n_vectors"] == emb.count()
    # an UNtagged replay of committed rows still correctly refuses
    with pytest.raises(ValueError, match="vec_id"):
        ann_index.append_ann_index(new, d)

    # self-merge guard: fail fast, input untouched
    with pytest.raises(ValueError, match="onto itself"):
        ann_index.merge_ann_indexes(spark, [d, str(tmp_path / "crash/../crash")], d)
    assert json.loads(Path(d, "ann_stats.json").read_text())["n_vectors"] == emb.count()


def test_ann_index_m16_end_to_end(emb, tmp_path):
    """m is exposed end-to-end: a 16-subspace artifact (the
    adversarial-recall configuration — BENCH/pq_recall.json shows m,
    not residual encoding, is what lifts near-uniform recall past 0.9)
    builds, stores 16-code rows, and its stored queries equal the
    recompute twins — readers derive m from books.shape, nothing
    assumes 8."""
    from searty_spark import ann_index

    d = str(tmp_path / "ann16")
    stats = ann_index.write_ann_index(emb, d, n_cells=8, n_iter=2, m=16, pq_k=16)
    assert stats["m"] == 16

    _, cents, books, vectors = ann_index.load_ann_index(emb.sparkSession, d)
    assert books.shape[0] == 16
    assert all(len(r["codes"]) == 16 for r in vectors.limit(20).collect())
    assert np.array_equal(books, ann.pq_train(emb, m=16, k=16, n_iter=2, cents=cents))

    want = [
        tuple(r)
        for r in ann.ivf_pq_topk(
            emb, 0, cents, books, k=10, n_probe=2, refine=50, residual=True
        ).collect()
    ]
    got = ann_index.ivf_pq_topk_indexed(emb, d, 0, k=10, n_probe=2, refine=50)
    assert [tuple(r) for r in got.collect()] == want
