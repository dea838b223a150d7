import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from searty_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cpus=4, shuffle_partitions=8, app_name="searty_tests", driver_memory="4g")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_corpus(spark):
    """Deterministic 150-doc synthetic webpages corpus (FIXTURES.md §1)."""
    from searty_spark.corpus import synth_corpus

    df = synth_corpus(spark, 150, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def oracle_index(small_corpus):
    from searty_spark.oracle import build_index

    docs = {r["doc_id"]: r["text"] for r in small_corpus.select("doc_id", "text").collect()}
    return build_index(docs)


def _job_ids(sc, fn) -> list[int]:
    """The ids of the Spark jobs ``fn()`` starts on the calling thread
    (a fresh job group, read from statusTracker)."""
    import uuid

    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` -> the number of Spark jobs ``fn()`` starts on
    the calling thread."""
    return lambda fn: len(_job_ids(spark.sparkContext, fn))


@pytest.fixture
def groups_read(monkeypatch):
    """Counts parquet row groups decoded through
    ParquetFile.read_row_group."""
    import pyarrow.parquet as pq

    n = [0]
    real = pq.ParquetFile.read_row_group

    def counting(self, i, *args, **kwargs):
        n[0] += 1
        return real(self, i, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counting)
    return n


@pytest.fixture
def group_cache(monkeypatch):
    """index's per-process cache of decoded row groups, emptied for
    this test (the shared one comes back after it); yields the index
    module, whose GROUP_CACHE_BYTES the test may monkeypatch."""
    import collections

    from searty_spark import index

    monkeypatch.setattr(index, "_GROUPS", collections.OrderedDict())
    monkeypatch.setattr(index, "_GROUP_COUNTS", dict.fromkeys(index._GROUP_COUNTS, 0))
    return index
