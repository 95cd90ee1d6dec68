"""codebased_spark — a PySpark-native distributed inverted-index + BM25 engine.

A from-scratch rebuild of the query semantics of codebased-sh/codebased
(reference at /root/reference) on Apache Spark:

- source of truth: a table of source code ``(repo, path, commit, lang,
  content)`` (Iceberg when the runtime has the jars, Parquet otherwise);
- derived state: posting-list shards (delta+varint compressed, block-max
  metadata), doc stats and corpus stats — the Spark analogue of SQLite
  FTS5's shadow tables (reference: codebased/migrations/000_initial.sql:39);
- queries: trigram BM25 (k1=1.2, b=0.75) rank-identical to SQLite FTS5's
  ``tokenize="trigram"`` semantics, including the reference's two-branch
  name/all-column union query (codebased/search.py:240-302).

Everything is DataFrame-first; per-partition heavy lifting runs in
Arrow-vectorized pandas UDFs (mapInPandas/applyInPandas), never per-row
Python UDFs.
"""

import os

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
IDF_CLAMP = 1e-6
DEFAULT_TOP_K = 32  # reference default: codebased/main.py:101-107


def _stat_gate_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip its re-read while the
    archive's ``(st_mtime_ns, st_size)`` is unchanged since that
    importer last read it; otherwise it runs the stock method.

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` on every task. On Python 3.11
    each zipimporter on the worker's ``sys.path`` then re-reads its
    archive's whole central directory at once: the Spark core jar
    (5,359 entries), ``pyspark.zip``, py4j and the ``addPyFile`` zip,
    0.15-0.20 s per task before any engine code runs (3.12.1 still
    does; 3.13.0's invalidation only drops a cache entry). The stamp
    lives on each importer, because every importer of an archive holds
    its own ``_files``.

    Installed once per Python worker, on its first import of this
    package. The first task in a fresh worker still pays, because
    ``setup_spark_files`` runs before the UDF is unpickled, and so does
    the next, whose call stamps each importer."""
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "stat_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            stock(self)
            self._read_stamp = stamp

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# Only Spark's Python workers carry this variable; the driver's import
# machinery stays stock.
if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    _stat_gate_zip_invalidation()
