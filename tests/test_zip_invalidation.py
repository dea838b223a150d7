"""importlib.invalidate_caches() must not re-read unchanged zip archives.

PySpark's worker invalidates import caches at the start of every task;
before Python 3.13 that re-reads the central directory of every archive
on sys.path (pyspark.zip, the py4j zip, the spark-core jar, our shipped
package zip). Importing searty_spark makes the re-read conditional on
the archive having changed."""

import os
import subprocess
import sys
import textwrap

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidates lazily from 3.13"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter so the archive is cached *before*
# searty_spark is imported, as in a worker; a second archive is first
# read after the import.
_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    tmp = sys.argv[1]
    early, late = os.path.join(tmp, "early.zip"), os.path.join(tmp, "late.zip")

    def write(path, mods):
        with zipfile.ZipFile(path, "w") as z:
            for m in mods:
                z.writestr(f"{m}.py", f"NAME = {m!r}\\n")

    write(early, ["early_a"])
    sys.path.insert(0, early)
    import early_a  # the archive's zipimporter and cached directory

    import searty_spark  # noqa: F401

    write(late, ["late_a"])
    sys.path.insert(0, late)
    import late_a  # noqa: F401

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(os.path.basename(archive))
        return read_directory(archive)

    zipimport._read_directory = counting

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    print("unchanged", sorted(reads))

    del reads[:]
    write(early, ["early_a", "early_b"])
    write(late, ["late_a", "late_b"])
    importlib.invalidate_caches()
    import early_b, late_b
    print("rewritten", sorted(reads), early_b.NAME, late_b.NAME)
    """
)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path)],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.splitlines() == [
        "unchanged []",
        "rewritten ['early.zip', 'late.zip'] early_b late_b",
    ]


def test_worker_invalidate_caches_rereads_no_archive(spark):
    """Where the cost is paid: inside a Python worker, against its real
    sys.path, after a task has unpickled a searty_spark kernel."""
    import pandas as pd

    def kernel(batches):
        import importlib
        import zipimport

        import searty_spark.codec  # noqa: F401

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(kernel, "reads long, zips long").collect()
    assert row["zips"] > 0  # the worker does import from archives
    assert row["reads"] == 0
