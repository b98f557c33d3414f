"""pg_walstream_spark — a PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of the reference Rust logical-replication
client (isdaniel/pg-walstream) Spark-first: binary WAL-frame DataFrames,
vectorized Arrow decode, transaction-boundary gating, salted last-image
compaction, and exactly-once LSN-fenced MERGE into a lake table — plus the
training-data-pipeline analytics (dedup, similarity, text analysis) a
100 TB corpus ingest needs.
"""

import functools
import sys
import threading
import zipimport

__version__ = "0.1.0"

_SHIP_LOCK = threading.Lock()


def _package_zip(pkg_dir: str) -> str:
    """Zip the ``.py`` files under ``pkg_dir`` as package
    ``pg_walstream_spark`` into the temp dir, named after the zip's bytes:
    ``pg_walstream_spark-{version}-{sha256[:12]}.zip``. Entries are sorted
    and carry a fixed timestamp, so the bytes follow the content alone: the
    same tree always maps to the same path, and a checkout with other
    content never replaces this one's archive (workers read it lazily, so
    it must not change in place)."""
    import hashlib
    import io
    import os
    import tempfile
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(pkg_dir):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "pg_walstream_spark", os.path.relpath(full, pkg_dir))
                with open(full, "rb") as fh:
                    z.writestr(zipfile.ZipInfo(rel), fh.read(),
                               zipfile.ZIP_DEFLATED)
    data = buf.getvalue()
    digest = hashlib.sha256(data).hexdigest()[:12]
    final = os.path.join(tempfile.gettempdir(),
                         f"pg_walstream_spark-{__version__}-{digest}.zip")
    if not os.path.exists(final):
        fd, tmp = tempfile.mkstemp(suffix=".zip", prefix="pg_walstream_spark_")
        with os.fdopen(fd, "wb") as fh:
            fh.write(data)
        os.replace(tmp, final)
    return final


def ensure_shipped(spark) -> None:
    """Ship this package to executor Python workers (addPyFile), so closures
    that reference pg_walstream_spark deserialize on workers even when the
    driver imported it via a file path. Idempotent per session. This is the
    local-mode analog of ``spark-submit --py-files``. Locked: the engine
    merges a batch's tables on concurrent driver threads."""
    sc = spark.sparkContext
    flag = "_pg_walstream_shipped"
    with _SHIP_LOCK:
        if getattr(sc, flag, False):
            return
        import os

        sc.addPyFile(_package_zip(os.path.dirname(os.path.abspath(__file__))))
        setattr(sc, flag, True)


def worker_task(fn):
    """Wrap a ``mapInArrow`` / ``mapInPandas`` function so that its Python
    worker drops its zip finders after the task's last batch.

    Every PySpark task starts with ``importlib.invalidate_caches()``. On
    Python >= 3.10 that makes each cached ``zipimporter`` re-read its whole
    archive directory in pure Python. An engine worker caches 17 of them
    (pyspark.zip and its subpackages, the spark-core jar, the other
    archives on its path): 0.13-0.21 s per task on 4 vCPUs (Spark 4.1,
    Python 3.11).

    So after the last batch the wrapper removes every ``zipimporter`` from
    ``sys.path_importer_cache`` and its archive's directory from
    ``zipimport._zip_directory_cache``, caches that CPython rebuilds on
    demand. The next task's ``invalidate_caches`` finds no zip finder to
    refresh, and the next import that needs an archive builds a new
    finder, which reads the archive once, no staler than before. Directory
    finders are still invalidated every task, so an ``addPyFile`` file
    shows up in the next task."""

    @functools.wraps(fn)
    def task(batches):
        try:
            yield from fn(batches)
        finally:
            dirs = getattr(zipimport, "_zip_directory_cache", {})
            cache = sys.path_importer_cache
            for path, finder in list(cache.items()):
                if isinstance(finder, zipimport.zipimporter):
                    cache.pop(path, None)
                    dirs.pop(finder.archive, None)

    return task
