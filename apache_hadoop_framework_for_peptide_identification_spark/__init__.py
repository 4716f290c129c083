"""PySpark-native analytics engine with the capability surface of the
reference ``com.optforms:mrexecutor`` (a map-only Hadoop scatter-gather
harness for external peptide-identification binaries; see
``/root/reference/src/main/java/com/optforms/mrexecutor``) re-expressed
as idiomatic Spark, plus the relational / streaming / LLM-data-pipeline
operator contract declared in SURVEY.md §2B.

Layout
------
- ``session``    SparkSession factory + runtime config normalizer
- ``catalog``    test-table loader (incl. nanos-timestamp normalization)
- ``queries``    the oracle-verified query registry (driver contract)
- ``operators``  composed operators Spark lacks natively
  (as-of join, range join, top-k, dedup, similarity, text analysis,
  E-PIPE external-process chains, multimodal column plumbing)
- ``sources``    typed readers/writers for parquet/csv/json/text/binary
- ``plans``      JSON pipeline-spec loader + CLI (mirrors Driver.java)
- ``streaming``  Structured Streaming operators (windows, dedup, state)
"""

import os
import sys

__version__ = "0.1.0"


def _guard_zip_invalidation() -> None:
    """Stop a Spark Python worker re-reading its zip archives on every task.

    Spark's worker calls ``importlib.invalidate_caches()`` before each
    task. Up to Python 3.12, ``zipimporter.invalidate_caches`` re-reads
    the whole archive directory in pure Python, once per importer: the
    worker's path holds Spark's ``pyspark.zip`` (one importer per
    imported sub-package) and the spark-core jar, 0.15-0.5 s per task
    on a 4-core host. The wrapper re-reads an archive only when its
    (mtime, size, inode) differs from when that importer last read it,
    so a rewritten archive is still picked up. Importers that exist at
    install time are taken as current: this runs inside a task, after
    that task's own invalidation pass. CPython 3.13 made
    ``invalidate_caches`` lazy (it only drops the cache), so this can go
    once 3.13 is the oldest supported Python.
    """
    if sys.version_info >= (3, 13) or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches

    def stamp(archive: str):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def invalidate_caches(self) -> None:
        key = stamp(self.archive)
        if key is None or key != getattr(self, "_read_stamp", None):
            stock(self)
            self._read_stamp = key

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._read_stamp = stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_invalidation()
