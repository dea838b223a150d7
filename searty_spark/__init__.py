"""searty_spark — a from-scratch PySpark-native rebuild of the
capabilities of cxxxr/searty (reference at /root/reference), extended
to a web-scale BM25 engine per BASELINE.json's north rule.

Pipeline:  corpus (url, warc_ts, html, text, lang)
        →  tokenize (char trigrams, JVM-side SQL expressions)
        →  postings (token_id, doc_id, tf, positions)
        →  delta+varbyte docID-sorted segments with block-max metadata
        →  hierarchical merge
        →  top-k BM25 (block-max WAND) + positional phrase queries.

Everything is DataFrame/SQL-first; Python appears only inside
vectorized Arrow UDFs (codec encode/decode, WAND inner loop).
"""

__version__ = "0.1.0"


def _lazy_zip_invalidation() -> None:
    """PySpark's worker calls importlib.invalidate_caches() at the start
    of every task, and before Python 3.13 that makes every zipimporter
    re-read its archive's central directory: pyspark.zip and the
    spark-core jar cost ~100 ms of CPU per task. Re-read an archive only
    when its (st_mtime_ns, st_size) differs from what this process last
    read. Archives already cached here are stamped as they are now: in a
    worker, the task's own invalidate_caches() read them just before it
    unpickled the kernel that imported this package."""
    import os
    import sys
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or reread.__module__ == __name__:
        return  # 3.13+ invalidates lazily; or already installed

    def stamp(archive):
        try:
            st = os.stat(archive)
            return st.st_mtime_ns, st.st_size
        except OSError:
            return None

    cache = zipimport._zip_directory_cache
    stamps = {a: stamp(a) for a in list(cache)}
    read_directory = zipimport._read_directory

    def _read_directory(archive):
        st = stamp(archive)  # before the read: a racing rewrite re-reads
        files = read_directory(archive)
        stamps[archive] = st
        return files

    def invalidate_caches(self):
        st = stamp(self.archive)
        if st is not None and self.archive in cache and stamps.get(self.archive) == st:
            self._files = cache[self.archive]
        else:
            reread(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zip_invalidation()

NGRAM_N = 3  # character trigrams, ref lib/tokenizer/tokenizer.go:9-29

# BM25 constants (the reference has no scorer; SURVEY.md §2.6 defines
# the oracle: Okapi BM25 with Lucene-style idf).
BM25_K1 = 1.2
BM25_B = 0.75
SCORE_NDIGITS = 6  # cross-engine deterministic ranking (SURVEY.md §7 hard part a)
