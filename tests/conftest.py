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


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` -> the number of Spark jobs ``fn()`` starts on
    the calling thread (a fresh job group, read from statusTracker)."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count jobs")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
