"""Round-4 state hygiene: append-delta pending store + bounded state growth.

engine_state.json and lake snapshots are re-read/rewritten EVERY batch, so
both must stay O(1) in batch count (at 10^6 batches an unbounded metrics or
lineage log becomes a per-batch driver-serial cost — exactly the tail the
north rule's scaling-efficiency target measures). The pending store likewise
must append per-batch deltas instead of rewriting the full pending set
(reference analog: the consumer's per-xid buffer grows incrementally,
examples/safe-transaction-consumer/src/main.rs:50-60).
"""

from __future__ import annotations

import json
import os

from pg_walstream_spark.engine import (
    METRICS_CAP,
    ReplayEngine,
    _append_metrics,
)
from pg_walstream_spark.fixtures import wal_gen as wg
from pg_walstream_spark.golden import golden_final_state
from pg_walstream_spark.lake.table import LINEAGE_CAP, _append_lineage


def _replay_with_meta_trace(spark, tmp_path, base, frames, batch_frames):
    """Replay while snapshotting the pending-store meta after each batch."""
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, fd, rows_per_file=500_000)
    metas = []

    class Spy(ReplayEngine):
        def _save_state(self, st):
            metas.append(self._pending_meta())
            super()._save_state(st)

    eng = Spy(spark, os.path.join(str(tmp_path), "wh"))
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)
    eng.replay_frames(fd, batch_frames=batch_frames)
    return eng, metas


def _assert_golden(spark, eng, base, frames):
    golden_rows, glsn = golden_final_state({"repos": base}, frames, "repos")
    lake = eng.table("repos")
    got = sorted(
        (r["repo"], r["path"], r["content"])
        for r in lake.read(spark).collect()
    )
    want = sorted((r["repo"], r["path"], r["content"]) for r in golden_rows)
    assert got == want
    assert lake.applied_lsn() == glsn


def test_pending_store_append_delta_lifecycle(spark, tmp_path):
    """Txns split by micro-batch boundaries spill ONE delta per batch;
    deltas whose xids resolve are dropped promptly; the store clears
    entirely once nothing is pending — and the final state still matches
    the sequential golden applier."""
    base, b = wg.gen_basic(n_base=40, n_txns=6, ops_per_txn=12)
    frames = b.to_table()
    eng, metas = _replay_with_meta_trace(spark, tmp_path, base, frames,
                                         batch_frames=10)
    live = [m for m in metas if m and m["order"]]
    assert live, "no batch carried pending deltas — fixture too coarse"
    # txns resolve within a batch or two of opening, so resolved deltas
    # must be dropped instead of accumulating
    assert max(len(m["order"]) for m in live) <= 3, live
    assert eng._pending_meta() is None  # store cleared at drain
    assert not os.path.exists(eng.pending_dir)
    _assert_golden(spark, eng, base, frames)


def test_pending_store_compacts_past_delta_cap(spark, tmp_path):
    """A transaction held open across many micro-batches appends one delta
    per batch; past PENDING_COMPACT_DELTAS the store compacts into a single
    filtered delta instead of growing without bound."""
    base, b = wg.gen_basic(n_base=30, n_txns=2, ops_per_txn=120)
    frames = b.to_table()
    eng, metas = _replay_with_meta_trace(spark, tmp_path, base, frames,
                                         batch_frames=12)
    live = [m for m in metas if m and m["order"]]
    assert any(
        d.startswith("compact_") for m in live for d in m["order"]
    ), "delta cap never triggered compaction"
    cap = ReplayEngine.PENDING_COMPACT_DELTAS
    assert max(len(m["order"]) for m in live) <= cap + 1
    assert eng._pending_meta() is None
    _assert_golden(spark, eng, base, frames)


def test_metrics_and_lineage_bounded_at_1000_batches():
    """1,000 batches: the engine metrics list and a lake lineage log stay
    capped, with rolled-up aggregate counters preserving the totals."""
    st: dict = {}
    for i in range(1000):
        _append_metrics(st, {"batch_idx": i, "applied_lsn": i * 10,
                             "pending": 0, "quarantined": i % 3})
    assert len(st["metrics"]) == METRICS_CAP
    assert st["metrics_rollup"]["batches"] == 1000 - METRICS_CAP
    kept_q = sum(m["quarantined"] for m in st["metrics"])
    assert st["metrics_rollup"]["quarantined"] + kept_q == sum(
        i % 3 for i in range(1000)
    )
    assert len(json.dumps(st)) < 64_000  # bounded regardless of batch count

    lin: list = []
    for i in range(1000):
        lin = _append_lineage(lin, {"batch_id": f"b{i}", "applied_lsn": i,
                                    "upserts": 5, "deletes": 1,
                                    "wall_ms": 7, "skipped": False})
    assert len(lin) == LINEAGE_CAP + 1  # rollup head + last N records
    roll = lin[0]
    assert roll["event"] == "lineage_rollup"
    assert roll["merges"] == 1000 - LINEAGE_CAP
    assert roll["upserts"] == 5 * (1000 - LINEAGE_CAP)
    assert lin[-1]["batch_id"] == "b999"
    assert len(json.dumps(lin)) < 128_000


def _stage(spark, tmp_path, bases: dict, frames):
    """Write ``frames`` and bootstrap one lake table per ``bases`` entry."""
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, fd, rows_per_file=500_000)
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    for name, tbl in bases.items():
        bp = os.path.join(str(tmp_path), f"base_{name}.parquet")
        wg.write_base(tbl, bp)
        eng.bootstrap_table(name, spark.read.parquet(bp), ["repo", "path"], 8)
    return fd, wh


class _JobCounter(ReplayEngine):
    """Runs each ``process_batch`` under its own Spark job group and
    records the DataFrame persist/unpersist calls it makes."""

    def __init__(self, spark, warehouse, monkeypatch):
        super().__init__(spark, warehouse)
        self.groups: dict[int, str] = {}
        self.calls: list[tuple] = []
        # the session's concrete DataFrame class: it overrides the
        # methods of the public pyspark.sql.DataFrame
        cls = type(spark.range(0))
        for name in ("persist", "unpersist"):
            orig = getattr(cls, name)

            def spy(df, *a, _orig=orig, _name=name, **k):
                self.calls.append((_name,))
                return _orig(df, *a, **k)

            monkeypatch.setattr(cls, name, spy)

    def process_batch(self, frames, batch_idx, st, **k):
        sc = self.spark.sparkContext
        group = self.groups[batch_idx] = f"pb-{id(self)}-{batch_idx}"
        sc.setJobGroup(group, "process_batch")
        try:
            rec = super().process_batch(frames, batch_idx, st, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.calls.append(("end", batch_idx))
        return rec

    def jobs(self) -> dict[int, int]:
        """Spark jobs per batch. Job events reach the status store through
        the asynchronous listener bus: read it once the bus is drained."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return {i: len(sc.statusTracker().getJobIdsForGroup(g))
                for i, g in self.groups.items()}


def test_fast_path_duplicate_batch_fence_skip_no_deadlock(spark, tmp_path):
    """Fresh engine state over an already-applied lake: the single-table
    merge is skipped by the TABLE fence without running any Spark job, so
    the reject-count Observation riding on that merge never fires and
    must not be read (obs.get on a never-run plan blocks forever; the
    original hang). The batch still reports its reject count and the
    replay stays idempotent."""
    base, b = wg.gen_basic(n_base=40, n_txns=5, ops_per_txn=5)
    frames = b.to_table()
    fd, wh = _stage(spark, tmp_path, {"repos": base}, frames)
    eng = ReplayEngine(spark, wh)
    res1 = eng.replay_frames(fd, batch_frames=100_000)
    assert res1["records"][0]["tables"][0]["skipped"] is False
    lsn1 = eng.table("repos").applied_lsn()
    os.remove(eng.state_path)  # engine state lost; the lake fence survives
    eng2 = ReplayEngine(spark, wh)
    res2 = eng2.replay_frames(fd, batch_frames=100_000)  # hung before fix
    rec = res2["records"][0]
    assert [t["skipped"] for t in rec["tables"]] == [True]
    assert rec["quarantined"] == 0
    assert rec["applied_lsn"] == lsn1
    assert eng2.table("repos").applied_lsn() == lsn1
    _assert_golden(spark, eng2, base, frames)


def test_fast_path_materializes_no_cache(spark, tmp_path, monkeypatch):
    """A single-table batch of complete transactions is ONE Spark job —
    decode, compaction and merge fused, the reject count riding as an
    Observation — and never caches the decoded events."""
    base, b = wg.gen_basic(n_base=40, n_txns=5, ops_per_txn=5)
    frames = b.to_table()
    fd, wh = _stage(spark, tmp_path, {"repos": base}, frames)
    eng = _JobCounter(spark, wh, monkeypatch)
    res = eng.replay_frames(fd, batch_frames=100_000)
    assert len(res["records"]) == 1
    assert res["records"][0]["tables"][0]["merge_kernel"] is True
    assert eng.jobs() == {0: 1}
    assert eng.calls == [("end", 0)], "single-table batch persisted"
    _assert_golden(spark, eng, base, frames)


def test_single_table_split_txn_batches_two_jobs_no_cache(spark, tmp_path,
                                                         monkeypatch):
    """Batches cut inside a transaction, with pending rows carried in from
    the previous batch: each runs at most two Spark jobs (the merge and
    the pending spill, both decoding the batch) and never caches."""
    base, b = wg.gen_basic(n_base=40, n_txns=4, ops_per_txn=30)
    frames = b.to_table()
    fd, wh = _stage(spark, tmp_path, {"repos": base}, frames)
    eng = _JobCounter(spark, wh, monkeypatch)
    res = eng.replay_frames(fd, batch_frames=25)
    recs = res["records"]
    assert len(recs) > 3
    # a batch that carried pending rows in and leaves some out
    both = [r["batch_idx"] for prev, r in zip(recs, recs[1:])
            if prev["pending"] and r["pending"]]
    assert both, "fixture never carried a transaction across a batch"
    jobs = eng.jobs()
    assert all(jobs[i] <= 2 for i in both), jobs
    assert max(jobs.values()) <= 2, jobs
    assert not [c for c in eng.calls if c[0] != "end"]
    _assert_golden(spark, eng, base, frames)


def test_two_table_batch_persists_once_and_releases(spark, tmp_path,
                                                    monkeypatch):
    """A catalog naming two tables caches the decoded events once per
    batch (stats aggregate, per-table merges and spill read the cache)
    and releases the cache before the batch returns."""
    base, b = wg.gen_mixed_dml(n_base=80, n_txns=12, ops_per_txn=8)
    frames = b.to_table()
    bases = {"repos": base.slice(0, 40), "repos_full": base.slice(40)}
    fd, wh = _stage(spark, tmp_path, bases, frames)
    eng = _JobCounter(spark, wh, monkeypatch)
    res = eng.replay_frames(fd, batch_frames=45)
    n = len(res["records"])
    assert n > 2
    assert eng.calls == [c for i in range(n) for c in
                         (("persist",), ("unpersist",), ("end", i))]


def test_append_metrics_replaces_same_batch_on_retry():
    """An in-place batch retry re-enters with the same in-memory state;
    its metrics row must replace, not duplicate, the prior attempt."""
    st: dict = {}
    row = {"batch_idx": 7, "applied_lsn": 5, "pending": 0, "quarantined": 2}
    _append_metrics(st, row)
    _append_metrics(st, row)
    assert len(st["metrics"]) == 1


def test_pending_store_replace_never_deletes_referenced_delta(
        spark, tmp_path, monkeypatch):
    """In-place batch retry / stop-resume replaces a batch's delta: the
    replacement must be written under a FRESH dir name while the committed
    meta.json still references the old one — a kill between the write and
    the meta commit must leave the store loadable (ADVICE r4: overwrite of
    the referenced dir deletes it first, bricking every restart)."""
    import pytest
    from pyspark.sql import functions as F

    import pg_walstream_spark.engine as E

    eng = E.ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    empty = spark.createDataFrame([], E.EVENT_SPARK_DDL)
    # one newly-pending row of open transaction 7
    vals = {"xid": F.lit(7), "event_type": F.lit("insert"),
            "txn_status": F.lit("open")}
    row = spark.range(1).select(*[
        vals.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
        for f in empty.schema.fields
    ]).withColumn("_carried", F.lit(False))
    eng._pending_append(row, set(), batch_idx=3)
    meta1 = eng._pending_meta()
    (d1,) = meta1["order"]

    orig = E._atomic_write

    def boom(path, data):
        raise OSError("killed before meta commit")

    monkeypatch.setattr(E, "_atomic_write", boom)
    with pytest.raises(OSError):
        eng._pending_append(row, set(), batch_idx=3)  # retry, killed
    monkeypatch.setattr(E, "_atomic_write", orig)
    # committed meta survives AND the dir it references still exists
    assert eng._pending_meta() == meta1
    assert os.path.isdir(os.path.join(eng.pending_dir, d1))
    assert eng._load_pending().count() == 1  # store loads fine
    # a successful retry lands a fresh dir and sweeps the old one
    eng._pending_append(row, set(), batch_idx=3)
    meta2 = eng._pending_meta()
    (d2,) = meta2["order"]
    assert d2 != d1
    assert not os.path.isdir(os.path.join(eng.pending_dir, d1))
    assert eng._load_pending().count() == 1


def test_version_preflight_rejects_stale_state_dir(spark, tmp_path):
    """Opening a warehouse written by an incompatible engine-state version
    must fail LOUDLY at load (reference version_preflight.rs analog) — the
    round-2 failure was a stale pending dir surfacing as an unreadable-
    parquet crash mid-replay instead."""
    import json

    import pytest

    import pg_walstream_spark.engine as E

    wh = os.path.join(str(tmp_path), "wh")
    eng = E.ReplayEngine(spark, wh)
    eng._save_state(eng._load_state())
    st = json.load(open(eng.state_path))
    assert st["state_version"] == E.ENGINE_STATE_VERSION

    # older version stamp -> loud preflight error naming both versions
    st["state_version"] = E.ENGINE_STATE_VERSION - 1
    E._atomic_write(eng.state_path, json.dumps(st))
    with pytest.raises(E.StateVersionError, match="state version"):
        E.ReplayEngine(spark, wh)._load_state()

    # pre-versioning (missing stamp) state with a compatible layout is the
    # v3 layout minus the stamp: accepted and stamped on load (a round-4
    # warehouse must not be refused)
    del st["state_version"]
    E._atomic_write(eng.state_path, json.dumps(st))
    st2 = E.ReplayEngine(spark, wh)._load_state()
    assert st2["state_version"] == E.ENGINE_STATE_VERSION

    # ...but a missing stamp PLUS a genuinely older pending layout
    # (delta content without the append-delta meta.json manifest) is
    # rejected as version 0
    pend = os.path.join(wh, "pending")
    os.makedirs(os.path.join(pend, "delta-000"), exist_ok=True)
    with open(os.path.join(pend, "delta-000", "part-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    with pytest.raises(E.StateVersionError, match="version 0"):
        E.ReplayEngine(spark, wh)._load_state()
