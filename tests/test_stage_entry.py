"""A Python stage's entry cost: PySpark starts every task with
``importlib.invalidate_caches()``, which makes each cached ``zipimporter``
re-read its whole archive directory. ``worker_task`` drops those finders
after a task's last batch, so the next task refreshes none, and every
import still resolves as freshly as before: an untouched pyspark
submodule, a zip rewritten in place, a file added with ``addPyFile``.

Also here: the shipped package zip is named after its content.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import uuid
import zipfile

import pytest

import pg_walstream_spark
from pg_walstream_spark import (
    __version__ as version, _package_zip, ensure_shipped, worker_task,
)
from pg_walstream_spark.lake.merge_kernel import STATS_DDL
from pg_walstream_spark.operators.decode import EVENT_SPARK_DDL
from test_stage_sizing import _assert_golden, _stage

_PKG_DIR = os.path.dirname(os.path.abspath(pg_walstream_spark.__file__))


def test_shipped_zip_named_by_content(tmp_path, monkeypatch):
    """Two package trees with different contents give two paths; the same
    tree gives the same path twice, and a copy of it (new mtimes) the same
    path again."""
    out = tmp_path / "out"
    out.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(out))
    a, b = tmp_path / "a", tmp_path / "b"
    ignore = shutil.ignore_patterns("__pycache__")
    shutil.copytree(_PKG_DIR, a, ignore=ignore)
    shutil.copytree(_PKG_DIR, b, ignore=ignore)
    with open(b / "__init__.py", "a") as fh:
        fh.write("\n# another checkout\n")

    pa_, pb = _package_zip(str(a)), _package_zip(str(b))
    assert pa_ != pb
    assert _package_zip(str(a)) == pa_
    assert _package_zip(_PKG_DIR) == pa_
    for p in (pa_, pb):
        assert re.fullmatch(
            rf"pg_walstream_spark-{re.escape(version)}-[0-9a-f]{{12}}\.zip",
            os.path.basename(p)), p
        with zipfile.ZipFile(p) as z:
            assert "pg_walstream_spark/lake/merge_kernel.py" in z.namelist()
            assert not any("__pycache__" in n for n in z.namelist())
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(p) for p in (pa_, pb))


def test_worker_task_drops_zip_finders(tmp_path, monkeypatch):
    """In-process: once the wrapped generator is exhausted, no zip finder
    is cached and its archive's directory is gone; the module it served
    still imports again from a rebuilt finder."""
    import importlib
    import sys
    import zipimport

    tag = uuid.uuid4().hex[:8]
    zpath = str(tmp_path / f"finders_{tag}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"finders_a_{tag}.py", "VALUE = 1\n")
        z.writestr(f"finders_b_{tag}.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(zpath)
    importlib.import_module(f"finders_a_{tag}")
    assert isinstance(sys.path_importer_cache[zpath], zipimport.zipimporter)

    assert list(worker_task(lambda xs: (x * 2 for x in xs))([1, 2])) == [2, 4]
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
    assert zpath not in zipimport._zip_directory_cache
    assert importlib.import_module(f"finders_b_{tag}").VALUE == 2


@pytest.fixture
def stage_entry_probe(spark, monkeypatch, tmp_path):
    """Spy on the engine's decode and kernel ``mapInArrow`` functions.
    After each real function is exhausted, inside its task, record the
    ``zipimport._read_directory`` calls that one
    ``importlib.invalidate_caches()`` makes (the next task's entry cost)
    and the ``zipimporter`` entries left in ``sys.path_importer_cache``.
    Returns a reader of the records, one per task."""
    probe_dir = str(tmp_path / "probe")
    os.makedirs(probe_dir)
    cls = type(spark.range(0))
    map_in_arrow = cls.mapInArrow
    stages = {EVENT_SPARK_DDL: "decode", STATS_DDL: "kernel"}

    def spy_map(df, fn, schema, *a, **k):
        stage = stages.get(schema)
        if stage is None:
            return map_in_arrow(df, fn, schema, *a, **k)

        def probed(batches):
            # imported before the real function runs: a first import after
            # it would itself rebuild zip finders
            import importlib
            import json
            import sys
            import zipimport

            yield from fn(batches)
            left = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
            real, reads = zipimport._read_directory, []

            def counting(archive):
                reads.append(archive)
                return real(archive)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = real
            rec = {"stage": stage, "reads": len(reads), "zip_finders": left}
            name = f"{stage}-{os.getpid()}-{uuid.uuid4().hex}.json"
            with open(os.path.join(probe_dir, name), "w") as fh:
                json.dump(rec, fh)

        return map_in_arrow(df, probed, schema, *a, **k)

    monkeypatch.setattr(cls, "mapInArrow", spy_map)

    def records():
        import json

        out = []
        for n in sorted(os.listdir(probe_dir)):
            with open(os.path.join(probe_dir, n)) as fh:
                out.append(json.load(fh))
        return out

    return records


def test_replay_tasks_leave_no_zip_finders(spark, tmp_path,
                                           stage_entry_probe):
    """One whole-WAL replay batch: after every decode and every kernel
    task, the next task's ``invalidate_caches`` re-reads no archive and no
    zip finder is left to refresh. The batch is golden."""
    eng, base, frames, fd = _stage(spark, tmp_path, 4, 8, n_base=400,
                                   n_txns=12, ops_per_txn=15)
    res = eng.replay_frames(fd, batch_frames=1 << 40)
    assert len(res["records"]) == 1
    recs = stage_entry_probe()
    assert {r["stage"] for r in recs} == {"decode", "kernel"}, recs
    for r in recs:
        assert r["reads"] == 0 and r["zip_finders"] == 0, recs
    _assert_golden(spark, eng, base, frames)


# pure-Python leaves of pyspark.zip that no engine task imports
_FRESH_SUBMODULES = (
    "pyspark.mllib.random", "pyspark.mllib.fpm", "pyspark.ml.fpm",
    "pyspark.ml.tuning", "pyspark.mllib.tree", "pyspark.ml.evaluation",
    "pyspark.mllib.recommendation", "pyspark.ml.recommendation",
)


def test_imports_resolve_after_trim(spark, tmp_path):
    """Import parity. In a task, after ``worker_task``'s trim, a pyspark
    submodule no one has imported still imports. A test-owned zip on the
    worker's ``sys.path``, rewritten in place with an extra module between
    two jobs, serves the new module to the second job's tasks, and a
    ``.py`` file added with ``addPyFile`` after the first job imports in
    the second."""
    ensure_shipped(spark)
    assert os.path.basename(_package_zip(_PKG_DIR)) in \
        spark.sparkContext._python_includes
    tag = uuid.uuid4().hex[:8]
    zpath = str(tmp_path / f"parity_{tag}.zip")
    mod_a, mod_b, mod_c = (f"parity_{m}_{tag}" for m in "abc")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{mod_a}.py", "VALUE = 'a'\n")
    # enough tasks to pass through every idle worker of the pool
    n = 4 * spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, n)

    def first(batches):
        import importlib
        import os
        import sys

        import pyarrow as pa

        if zpath not in sys.path:
            sys.path.append(zpath)
        a = importlib.import_module(mod_a).VALUE
        yield from worker_task(lambda bs: (b for b in bs if False))(batches)
        fresh = ""
        for name in _FRESH_SUBMODULES:
            if name not in sys.modules:
                importlib.import_module(name)
                fresh = name
                break
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "a": [a], "fresh": [fresh]})

    rows1 = df.mapInArrow(first, "pid long, a string, fresh string").collect()
    assert {r["a"] for r in rows1} == {"a"}
    assert any(r["fresh"] for r in rows1), rows1

    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{mod_a}.py", "VALUE = 'a'\n")
        z.writestr(f"{mod_b}.py", "VALUE = 'b'\n")
    cpath = tmp_path / f"{mod_c}.py"
    cpath.write_text("VALUE = 'c'\n")
    spark.sparkContext.addPyFile(str(cpath))

    def second(batches):
        import importlib
        import os
        import sys

        import pyarrow as pa

        reused = zpath in sys.path
        if not reused:
            sys.path.append(zpath)
        b = importlib.import_module(mod_b).VALUE
        c = importlib.import_module(mod_c).VALUE
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reused": [reused], "b": [b], "c": [c]})

    rows2 = df.mapInArrow(
        worker_task(second), "pid long, reused boolean, b string, c string"
    ).collect()
    assert {(r["b"], r["c"]) for r in rows2} == {("b", "c")}
    assert any(r["reused"] for r in rows2), rows2
