"""pg_walstream_spark — a PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of the reference Rust logical-replication
client (isdaniel/pg-walstream) Spark-first: binary WAL-frame DataFrames,
vectorized Arrow decode, transaction-boundary gating, salted last-image
compaction, and exactly-once LSN-fenced MERGE into a lake table — plus the
training-data-pipeline analytics (dedup, similarity, text analysis) a
100 TB corpus ingest needs.
"""

import threading

__version__ = "0.1.0"

_SHIP_LOCK = threading.Lock()


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
        import shutil
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        fd, tmp = tempfile.mkstemp(suffix=".zip", prefix="pg_walstream_spark_")
        os.close(fd)
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "pg_walstream_spark", os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
        final = os.path.join(tempfile.gettempdir(),
                             f"pg_walstream_spark-{__version__}.zip")
        shutil.move(tmp, final)
        sc.addPyFile(final)
        setattr(sc, flag, True)
