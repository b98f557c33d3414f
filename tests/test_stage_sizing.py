"""One wave per Python stage. Every Python task pays a fixed stage entry
before any data moves, so a batch's decode scan and merge kernel each run
at most one task per core, and a replay leaves the caller's session conf
as it found it.

Task counts come from the status store, read under a job group per call.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pg_walstream_spark.engine import (
    _SPLIT_CONF, ReplayEngine, tune_input_splits,
)
from pg_walstream_spark.fixtures import wal_gen as wg
from pg_walstream_spark.golden import golden_final_state
from pg_walstream_spark.lake.merge_kernel import STATS_DDL
from pg_walstream_spark.retry import PermanentError
from pg_walstream_spark.streaming import ingest_frames_batch


def _warehouse(spark, root, base, n_buckets):
    """An engine over a fresh warehouse under ``root`` with ``base``
    bootstrapped as ``repos`` at ``n_buckets`` buckets."""
    os.makedirs(root, exist_ok=True)
    eng = ReplayEngine(spark, os.path.join(root, "wh"))
    bp = os.path.join(root, "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"],
                        n_buckets)
    return eng


def _stage(spark, tmp_path, n_files, n_buckets, **gen):
    """A ``gen_bench`` WAL in ``n_files`` frame files, and an engine."""
    base, b = wg.gen_bench(seed=7, **gen)
    frames = b.to_table()
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, fd, rows_per_file=-(-frames.num_rows // n_files))
    return _warehouse(spark, str(tmp_path), base, n_buckets), base, frames, fd


def _assert_golden(spark, eng, base, frames):
    golden_rows, glsn = golden_final_state({"repos": base}, frames, "repos")
    lake = eng.table("repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in lake.read(spark).collect())
    assert got == sorted((r["repo"], r["path"], r["content"])
                         for r in golden_rows)
    assert lake.applied_lsn() == glsn


def _stage_tasks(spark, fn):
    """Run ``fn`` under a fresh job group; returns its result and the
    task count of every stage of every job it ran, in stage-id order."""
    sc = spark.sparkContext
    group = f"stage-sizing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "stage sizing")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    tasks = [[st.getStageInfo(s).numTasks
              for s in sorted(st.getJobInfo(j).stageIds)]
             for j in sorted(st.getJobIdsForGroup(group))]
    return out, tasks


@pytest.fixture
def kernel_rows(spark, monkeypatch):
    """The merge kernel's stats rows, each tagged ``_pid`` with the Spark
    partition (= kernel task) that emitted it."""
    rows = []
    cls = type(spark.range(0))
    map_in_arrow, collect = cls.mapInArrow, cls.collect

    def spy_map(df, fn, schema, *a, **k):
        out = map_in_arrow(df, fn, schema, *a, **k)
        if schema == STATS_DDL:
            out = out.withColumn("_pid", F.spark_partition_id())
        return out

    def spy_collect(df):
        got = collect(df)
        if "_pid" in df.columns:
            rows.extend(got)
        return got

    monkeypatch.setattr(cls, "mapInArrow", spy_map)
    monkeypatch.setattr(cls, "collect", spy_collect)
    return rows


def test_one_wave_bulk_catchup_batch(spark, tmp_path, kernel_rows):
    """A 16-file, 16-bucket whole-WAL batch at local[4]: its one job runs
    at most 4 decode tasks and exactly 4 kernel tasks, and the salted
    routing gives each kernel task exactly the 4 buckets of one residue
    class."""
    cores = spark.sparkContext.defaultParallelism
    assert cores == 4
    eng, base, frames, fd = _stage(spark, tmp_path, 16, 16, n_base=2_000,
                                   n_txns=60, ops_per_txn=20)
    res, tasks = _stage_tasks(
        spark, lambda: eng.replay_frames(fd, batch_frames=1 << 40))
    assert len(res["records"]) == 1
    (job,) = tasks
    *decode, kernel = job
    assert decode and max(decode) <= cores, tasks
    assert kernel == cores, tasks
    by_task: dict[int, list[int]] = {}
    for r in kernel_rows:
        if r["bucket"] >= 0:
            by_task.setdefault(r["_pid"], []).append(r["bucket"])
    assert sorted(by_task) == list(range(cores)), by_task
    for p, buckets in by_task.items():
        assert sorted(buckets) == list(range(p, 16, cores)), by_task
    _assert_golden(spark, eng, base, frames)


@pytest.mark.parametrize("n_buckets,kernel_tasks", [(13, 4), (2, 2)])
def test_routing_fallbacks_golden(spark, tmp_path, n_buckets, kernel_tasks):
    """The kernel's routing corners under one-wave sizing: 13 buckets
    have no divisor near 4, so the plain hash routes; 2 buckets (fewer
    than the cores) run 2 tasks on the exact salts. Both replays, cut
    into several batches, are golden."""
    eng, base, frames, fd = _stage(spark, tmp_path, 4, n_buckets,
                                   n_base=300, n_txns=12, ops_per_txn=15)
    res, tasks = _stage_tasks(
        spark, lambda: eng.replay_frames(fd, batch_frames=70))
    assert len(res["records"]) > 1
    merged = [job[-1] for job in tasks if len(job) > 1]
    assert merged and set(merged) == {kernel_tasks}, tasks
    _assert_golden(spark, eng, base, frames)


@pytest.mark.parametrize("n_files,mb,rg_mb,least", [
    (16, 2.0, 2.0, 4),  # many files: two waves of 8 at the old sizing
    (1, 8.0, 0.5, 4),   # one big file: Spark still cuts a task per core
])
def test_decode_splits_fit_one_wave(spark, tmp_path, n_files, mb, rg_mb,
                                    least):
    """``tune_input_splits`` sizes the frame scan to one wave (at most one
    split per core) and still spreads it over the cores."""
    rng = np.random.default_rng(n_files)
    d = os.path.join(str(tmp_path), "frames")
    os.makedirs(d)
    row = 64 << 10
    for i in range(n_files):
        n = int(mb * (1 << 20)) // row
        t = pa.table({"b": [rng.bytes(row) for _ in range(n)]})
        pq.write_table(t, os.path.join(d, f"f{i}.parquet"),
                       compression="none",
                       row_group_size=max(1, int(rg_mb * (1 << 20)) // row))
    saved = {k: spark.conf.get(k, None) for k in _SPLIT_CONF}
    try:
        tune_input_splits(spark, [d])
        n = spark.read.parquet(d).rdd.getNumPartitions()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert least <= n <= spark.sparkContext.defaultParallelism


def test_replay_stream_and_merge_leave_session_conf(spark, tmp_path,
                                                    monkeypatch):
    """A bounded replay, a streaming trigger, a failing replay and a
    direct ``merge_bucketed`` leave every runtime setting of the caller's
    session as they found it (split sizing, AQE)."""
    eng, base, frames, fd = _stage(spark, tmp_path, 4, 8, n_base=200,
                                   n_txns=8, ops_per_txn=10)
    before = dict(spark.conf.getAll)
    eng.replay_frames(fd, batch_frames=1 << 40)
    assert dict(spark.conf.getAll) == before

    # the same frames as one streaming trigger, into a fresh warehouse
    eng2 = _warehouse(spark, os.path.join(str(tmp_path), "s"), base, 8)
    before = dict(spark.conf.getAll)
    assert ingest_frames_batch(eng2, spark.read.parquet(fd), 0)
    assert dict(spark.conf.getAll) == before
    _assert_golden(spark, eng2, base, frames)

    eng3 = _warehouse(spark, os.path.join(str(tmp_path), "f"), base, 8)

    def fail(*a, **k):
        raise PermanentError("batch failed")

    monkeypatch.setattr(eng3, "process_batch", fail)
    before = dict(spark.conf.getAll)
    with pytest.raises(PermanentError):
        eng3.replay_frames(fd)
    assert dict(spark.conf.getAll) == before

    t = eng.table("repos")
    lsn = t.applied_lsn() + 1
    images = spark.createDataFrame(
        [(lsn, 0, "insert", "orgZ/z", "z.py", "c", "py", "zz",
          False, False, False)],
        "commit_lsn long, seq long, _op string, repo string, path string, "
        "commit string, lang string, content string, _t_commit boolean, "
        "_t_lang boolean, _t_content boolean")
    before = dict(spark.conf.getAll)
    rec = t.merge_bucketed(spark, images, lsn)
    assert rec["upserts"] == 1
    assert dict(spark.conf.getAll) == before
