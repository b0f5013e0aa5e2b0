"""pdf_extraction_spark — a PySpark-native main-content extraction engine.

Brand-new engine (not a port) with the data-processing capabilities of the
reference repo TheophilusChinomona/PDF-EXTRACTION, re-expressed Spark-first:

- ``core/``       pure-Python deterministic extractor (the oracle; no Spark imports)
- ``functions/``  native Column expressions (quality scorer, classifier, slug, ...)
- ``operators/``  dedup / similarity / text-analysis / relational operators
- ``plans/``      the extraction pipeline, checkpoint ledger, metrics
- ``sources/``    table IO (parquet; an Iceberg writer waits for the jars)
- ``streaming/``  reserved (the reference is strictly bounded-batch)

All hot-path logic runs either as JVM-side column expressions or inside
Arrow-batched pandas UDFs (``mapInPandas``) — never per-row Python UDFs.

Importing the package also makes ``zipimport.zipimporter.invalidate_caches``
stat-keyed (see ``_stat_keyed_invalidate_caches``): a Python worker that
has unpickled any package UDF stops re-parsing ``pyspark.zip`` on every
task.
"""

import os as _os
import zipimport as _zipimport

__version__ = "0.1.0"

# archive path -> (st_mtime_ns, st_size) its cached index was read at;
# process-wide, like zipimport._zip_directory_cache it guards
_zip_stamps = {}


def _stat_keyed_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive index
    only when the archive's ``(st_mtime_ns, st_size)`` changed.

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``). On Python 3.11 that reaches
    one zipimporter per imported subpackage of ``pyspark.zip`` and the
    py4j zip, and each one re-parses the whole archive index in pure
    Python: 115-130 ms per task on a 4-core box, for archives that never
    change during a worker's life. A rewritten archive still changes its
    stamp, so it is still re-read."""
    try:
        st = _os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    cached = _zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _zip_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    # stat before the read: an archive rewritten during the read keeps
    # the older stamp and is read again on the next call
    _stat_keyed_invalidate_caches.reread(self)
    _zip_stamps[self.archive] = stamp


if not hasattr(_zipimport.zipimporter.invalidate_caches, "reread"):
    _stat_keyed_invalidate_caches.reread = _zipimport.zipimporter.invalidate_caches
    _zipimport.zipimporter.invalidate_caches = _stat_keyed_invalidate_caches
