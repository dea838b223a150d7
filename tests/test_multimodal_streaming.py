"""Streaming twins of the batch operators: windowed counts, the
stateful sessionizer and incremental ANN ingest, each checked against
its batch result."""

from searty_spark.streaming import (
    read_event_stream,
    run_stream_to_memory,
    windowed_counts_stream,
)


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    import shutil

    from searty_spark.events import windowed_counts

    # the file stream source wants a directory
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", stream_dir / "part-0.parquet")
    batch = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in windowed_counts(spark.read.parquet(str(stream_dir))).collect()
    }
    stream = windowed_counts_stream(read_event_stream(spark, str(stream_dir)))
    out = run_stream_to_memory(stream, "wc_test")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in out.collect()
    }
    assert got == batch


def test_sessionize_stream_stateful_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer: per-user state must carry
    across micro-batches (3 one-file triggers) and the final running
    totals must equal the batch lag/islands sessionize."""
    from searty_spark.events import sessionize
    from searty_spark.streaming import sessionize_stream

    import shutil as sh

    from pyspark.sql import Window

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = tmp_path / "ev_sess_stream"
    d.mkdir()
    n = events.count()
    from pyspark.sql import functions as F

    ranked = events.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    )

    for i in range(3):
        lo, hi = i * n // 3, (i + 1) * n // 3
        chunk_dir = tmp_path / f"chunk{i}"
        (
            ranked.filter((F.col("rn") > lo) & (F.col("rn") <= hi))
            .drop("rn")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(chunk_dir))
        )
        part = next(chunk_dir.glob("part-*.parquet"))
        sh.copy(part, d / f"part-{i}.parquet")

    batch = {
        r["user_id"]: (r["n_sessions"], r["n_events"]) for r in sessionize(events).collect()
    }

    from searty_spark.streaming import read_event_stream

    updates: list[tuple[int, list]] = []
    q = (
        sessionize_stream(read_event_stream(spark, str(d), max_files_per_trigger=1))
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: updates.append((bid, df.collect())))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(updates) >= 3  # the state genuinely crossed micro-batches
    final: dict = {}
    touched_twice = 0
    seen: set = set()
    for bid, rows in sorted(updates, key=lambda x: x[0]):
        for r in rows:
            if r["user_id"] in seen:
                touched_twice += 1
            seen.add(r["user_id"])
            final[r["user_id"]] = (r["n_sessions"], r["n_events"])
    assert touched_twice > 0  # some user's state was updated in a later batch
    assert final == batch


def test_streaming_ann_ingest_equals_batch_encode(spark, tmp_path):
    """incremental_ann_stream: first micro-batch bootstraps (trains +
    writes), later batches append under the frozen codebooks — final
    artifact row-identical to a one-shot encode of the full set with
    the same codebooks, and the stored query path serves it."""
    import shutil

    from pyspark.sql import functions as F

    from searty_spark import ann, ann_index
    from searty_spark.streaming import incremental_ann_stream

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    stream_dir = tmp_path / "estream"
    stream_dir.mkdir()
    for i, pred in enumerate(
        [F.col("vec_id") % 3 == 0, F.col("vec_id") % 3 == 1, F.col("vec_id") % 3 == 2]
    ):
        d = stream_dir / f"f{i}"
        emb.filter(pred).coalesce(1).write.parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.move(str(f), str(stream_dir / f"f{i}.parquet"))
        shutil.rmtree(d)

    idx = str(tmp_path / "annidx")
    stats = incremental_ann_stream(spark, str(stream_dir), idx, n_cells=8)
    assert stats["n_vectors"] == emb.count()

    _, cents, books, _ = ann_index.load_ann_index(spark, idx)
    full = str(tmp_path / "annfull")
    ann_index.write_ann_index(emb, full, cents=cents, books=books)

    def rows(d):
        return {
            (r["vec_id"], r["cell"], tuple(r["codes"]))
            for r in spark.read.parquet(f"{d}/vectors").collect()
        }

    assert rows(idx) == rows(full)
    got = [
        tuple(r)
        for r in ann_index.ivf_pq_topk_indexed(
            emb, idx, 0, k=10, n_probe=2, refine=50
        ).collect()
    ]
    want = [
        tuple(r)
        for r in ann.ivf_pq_topk(
            emb, 0, cents, books, k=10, n_probe=2, refine=50, residual=True
        ).collect()
    ]
    assert got == want

    # cross-run resume: a LATER invocation over the same source dir
    # (new file arrived) must ingest ONLY the new file via the stream
    # checkpoint — not replay file 0 into a duplicate-vec_id crash
    extra = spark.createDataFrame(
        [(10_000 + i, [float(i % 7)] * 64, 0) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    d = tmp_path / "f3_dir"
    extra.coalesce(1).write.parquet(str(d))
    for f in d.glob("part-*.parquet"):
        shutil.move(str(f), str(stream_dir / "f3.parquet"))
    shutil.rmtree(d)
    stats2 = incremental_ann_stream(spark, str(stream_dir), idx, n_cells=8)
    assert stats2["n_vectors"] == emb.count() + 20
    assert rows(idx) - rows(full) == {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{idx}/vectors")
        .filter(F.col("vec_id") >= 10_000)
        .collect()
    }
