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

import copy
import json
import os
import uuid

import pytest

from pg_walstream_spark.engine import (
    METRICS_CAP,
    ReplayEngine,
    _append_metrics,
    _live_rows,
)
from pg_walstream_spark.fixtures import wal_gen as wg
from pg_walstream_spark.golden import golden_final_state
from pg_walstream_spark.lake.table import LINEAGE_CAP, _append_lineage


def _replay_with_meta_trace(spark, tmp_path, base, frames, batch_frames):
    """Replay while snapshotting the pending-store meta each batch commits
    with the engine state."""
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, fd, rows_per_file=500_000)
    metas = []

    class Spy(ReplayEngine):
        def _save_state(self, st):
            metas.append(copy.deepcopy(st["pending"]))
            super()._save_state(st)

    eng = Spy(spark, os.path.join(str(tmp_path), "wh"))
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)
    eng.replay_frames(fd, batch_frames=batch_frames)
    return eng, metas


_EMPTY_STORE = {"order": [], "deltas": {}, "dead_xids": []}


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
    live = [m for m in metas if m["order"]]
    assert live, "no batch carried pending deltas — fixture too coarse"
    # txns resolve within a batch or two of opening, so resolved deltas
    # must be dropped instead of accumulating
    assert max(len(m["order"]) for m in live) <= 3, live
    # store cleared at drain
    assert eng._load_state()["pending"] == _EMPTY_STORE
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
    live = [m for m in metas if m["order"]]
    assert any(
        d.startswith("compact_") for m in live for d in m["order"]
    ), "delta cap never triggered compaction"
    cap = ReplayEngine.PENDING_COMPACT_DELTAS
    assert max(len(m["order"]) for m in live) <= cap + 1
    assert eng._load_state()["pending"] == _EMPTY_STORE
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
        # job groups outlive the engine in the status tracker: name them
        # by a fresh token, not id(self), which a later instance can reuse
        self.run = uuid.uuid4().hex
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
        group = self.groups[batch_idx] = f"pb-{self.run}-{batch_idx}"
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


def test_fence_skipped_batch_no_deadlock(spark, tmp_path):
    """Fresh engine state over an already-applied lake: the single-table
    merge is skipped by the TABLE fence without running any Spark job (a
    reject-count Observation riding on that merge once blocked forever
    here). The drain job decodes the batch instead, so the batch still
    reports its reject count and the replay stays idempotent."""
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


def test_single_table_batch_one_job_no_cache(spark, tmp_path, monkeypatch):
    """A single-table batch of complete transactions is ONE Spark job —
    decode, compaction and merge fused, the dead letters a side output of
    the decode — and never caches the decoded events."""
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


def test_single_table_split_txn_batches_one_job_no_cache(spark, tmp_path,
                                                        monkeypatch):
    """Batches cut inside a transaction, with pending rows carried in from
    the previous batch: each runs exactly ONE Spark job — the decode task
    writes the newly-pending rows as a side output of the merge job, or of
    the drain job when nothing merges — and never caches."""
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
    merges = [r["batch_idx"] for r in recs
              if r["pending"] and any(not t["skipped"] for t in r["tables"])]
    spills_only = [r["batch_idx"] for r in recs
                   if r["pending"] and not r["tables"]]
    assert merges and spills_only, recs
    assert eng.jobs() == {r["batch_idx"]: 1 for r in recs}
    assert not [c for c in eng.calls if c[0] != "end"]
    _assert_golden(spark, eng, base, frames)


def test_two_table_batch_persists_once_and_releases(spark, tmp_path,
                                                    monkeypatch):
    """A catalog naming two tables caches the decoded events once per
    batch (the tables aggregate fills the cache, the per-table merges read
    it) and releases the cache before the batch returns. Every batch runs
    the aggregate job plus one job per merged table, all in the caller's
    job group (the merge threads inherit it)."""
    base, b = wg.gen_mixed_dml(n_base=80, n_txns=12, ops_per_txn=8)
    frames = b.to_table()
    bases = {"repos": base.slice(0, 40), "repos_full": base.slice(40)}
    fd, wh = _stage(spark, tmp_path, bases, frames)
    eng = _JobCounter(spark, wh, monkeypatch)
    res = eng.replay_frames(fd, batch_frames=45)
    recs = res["records"]
    n = len(recs)
    assert n > 2
    assert eng.calls == [c for i in range(n) for c in
                         (("persist",), ("unpersist",), ("end", i))]
    merged = {r["batch_idx"]: sum(not t["skipped"] for t in r["tables"])
              for r in recs}
    assert max(merged.values()) == 2, recs
    assert eng.jobs() == {i: 1 + k for i, k in merged.items()}


def test_single_table_batch_with_rejects_one_job(spark, tmp_path,
                                                 monkeypatch):
    """Rejected frames cost no extra job: a single-table batch with three
    malformed frames runs ONE Spark job, and its decode tasks write the
    three dead letters next to the merge."""
    base, b = wg.gen_malformed()
    frames = b.to_table()
    fd, wh = _stage(spark, tmp_path, {"repos": base}, frames)
    eng = _JobCounter(spark, wh, monkeypatch)
    res = eng.replay_frames(fd, batch_frames=100_000)
    (rec,) = res["records"]
    assert [t["skipped"] for t in rec["tables"]] == [False]
    assert rec["quarantined"] == 3
    qdir = rec["quarantine_dir"]
    assert os.path.basename(qdir) == f"b0-s0-{frames.num_rows - 1}"
    rows = spark.read.parquet(qdir).collect()
    assert len(rows) == 3
    assert all(r["error"] for r in rows)
    assert eng.jobs() == {0: 1}
    assert eng.calls == [("end", 0)]
    _assert_golden(spark, eng, base, frames)


def test_two_table_batch_dead_letters_written_once_by_aggregate(
        spark, tmp_path, monkeypatch):
    """A two-table batch with one garbage frame writes its dead letter in
    the aggregate job that fills the cache: the file exists before the
    first merge starts and the merges, which read the cache, leave it
    untouched."""
    base, b = wg.gen_mixed_dml(n_base=80, n_txns=6, ops_per_txn=8)
    b.emit(b"Z\x01\x02\x03")
    frames = b.to_table()
    bases = {"repos": base.slice(0, 40), "repos_full": base.slice(40)}
    fd, wh = _stage(spark, tmp_path, bases, frames)
    at_merge = []

    class Watching(_JobCounter):
        def _merge_table(self, tname, *a, **k):
            qroot = os.path.join(self.warehouse, "quarantine")
            at_merge.append({
                os.path.join(d, f): os.stat(os.path.join(qroot, d, f))
                .st_ino
                for d in os.listdir(qroot)
                for f in os.listdir(os.path.join(qroot, d))})
            return super()._merge_table(tname, *a, **k)

    eng = Watching(spark, wh, monkeypatch)
    res = eng.replay_frames(fd, batch_frames=100_000)
    (rec,) = res["records"]
    assert sorted(t["table"] for t in rec["tables"]) == ["repos",
                                                         "repos_full"]
    assert rec["quarantined"] == 1
    qdir = rec["quarantine_dir"]
    (f,) = os.listdir(qdir)
    path = os.path.join(os.path.basename(qdir), f)
    ino = os.stat(os.path.join(qdir, f)).st_ino
    assert at_merge == [{path: ino}, {path: ino}]
    (row,) = spark.read.parquet(qdir).collect()
    assert row["seq"] == frames.num_rows - 1 and row["error"]
    assert eng.jobs() == {0: 3}


def test_retried_batch_rewrites_dead_letters_in_place(spark, tmp_path):
    """A batch attempt that fails after its job and is retried rewrites
    its dead-letter dir — same deterministic name, identical rows — and
    leaves no orphan dir behind."""
    from pg_walstream_spark.retry import RetryConfig

    base, b = wg.gen_malformed()
    frames = b.to_table()
    fd, wh = _stage(spark, tmp_path, {"repos": base}, frames)
    first = []

    class FailOnce(ReplayEngine):
        def _save_state(self, st):
            if not first:
                qroot = os.path.join(self.warehouse, "quarantine")
                (d,) = os.listdir(qroot)
                first.append((d, _row_keys(spark.read.parquet(
                    os.path.join(qroot, d)).collect())))
                raise OSError("transient failure after the batch's job")
            super()._save_state(st)

    eng = FailOnce(spark, wh, retry_config=RetryConfig(
        max_attempts=3, initial_delay_s=0.001))
    res = eng.replay_frames(fd, batch_frames=5)
    recs = res["records"]
    assert recs[0]["retries"], recs[0]
    (d0, rows0), = first
    qroot = os.path.join(wh, "quarantine")
    want = sorted(os.path.basename(r["quarantine_dir"]) for r in recs
                  if r["quarantined"])
    assert sorted(os.listdir(qroot)) == want
    assert d0 in want
    assert _row_keys(spark.read.parquet(
        os.path.join(qroot, d0)).collect()) == rows0
    assert sum(r["quarantined"] for r in recs) == 3
    _assert_golden(spark, eng, base, frames)



def test_stopped_batch_resumed_with_other_size_keeps_one_copy(spark,
                                                              tmp_path):
    """A bounded-replay stop keeps its batch index, and a resume with
    another batch size re-decodes that batch under a different seq range:
    its dead letters replace the stopped attempt's dir, so each reject is
    on disk once."""
    base, b = wg.gen_malformed()
    frames = b.to_table()
    fd, wh = _stage(spark, tmp_path, {"repos": base}, frames)
    eng = ReplayEngine(spark, wh)
    (stopped,) = eng.replay_frames(
        fd, batch_frames=100, stop_at_lsn=b.commit_lsns[0])["records"]
    assert stopped["stopped"] and stopped["quarantined"] == 3
    recs = eng.replay_frames(fd, batch_frames=4)["records"]
    assert [(r["batch_idx"], r["quarantined"]) for r in recs] == [(0, 1),
                                                                 (1, 2)]
    dirs = [r["quarantine_dir"] for r in recs]
    assert sorted(os.listdir(os.path.join(wh, "quarantine"))) == sorted(
        os.path.basename(d) for d in dirs)
    assert spark.read.parquet(*dirs).count() == 3
    _assert_golden(spark, eng, base, frames)

def test_append_metrics_replaces_same_batch_on_retry():
    """An in-place batch retry re-enters with the same in-memory state;
    its metrics row must replace, not duplicate, the prior attempt."""
    st: dict = {}
    row = {"batch_idx": 7, "applied_lsn": 5, "pending": 0, "quarantined": 2}
    _append_metrics(st, row)
    _append_metrics(st, row)
    assert len(st["metrics"]) == 1


def _spill_and_commit(eng, rows, batch_idx: int,
                      resolved: set[int] = frozenset()) -> None:
    """One batch's pending-store steps: clear and write the fresh delta
    (the decode task's side output), fold it into the store meta, commit
    the engine state, then sweep the dirs the meta no longer references."""
    import shutil

    from pg_walstream_spark.operators.decode import write_spill_part

    st = eng._load_state()
    name = f"delta_b{batch_idx}"
    spill_dir = os.path.join(eng.pending_dir, name)
    shutil.rmtree(spill_dir, ignore_errors=True)
    write_spill_part(rows, spill_dir, 0)
    st["pending"] = eng._pending_append(st["pending"], resolved, batch_idx,
                                        name)
    st["batch_idx"] = batch_idx + 1
    eng._save_state(st)
    eng._pending_sweep(st["pending"])


def _pending_event_rows(xids, key_prefix="p"):
    """Open-transaction insert events of ``xids`` on the repos table."""
    import pyarrow as pa

    from pg_walstream_spark.operators.decode import EVENT_ARROW_SCHEMA

    null = {f.name: None for f in EVENT_ARROW_SCHEMA}
    return pa.Table.from_pylist([{
        **null, "seq": i, "lsn": i, "event_type": "insert", "xid": x,
        "schema_name": "public", "table_name": "repos",
        "relation_oid": wg.REPOS_OID, "key_columns": ["repo", "path"],
        "new_data": [("repo", f"orgZ/{key_prefix}"), ("path", f"{x}.py"),
                     ("content", "garbage")],
        "txn_status": "open",
    } for i, x in enumerate(xids)], schema=EVENT_ARROW_SCHEMA)


def test_pending_store_replace_never_deletes_referenced_delta(
        spark, tmp_path, monkeypatch):
    """A batch that resolves a carried transaction and leaves another
    pending replaces the store's delta: the replacement is written under
    the batch's own fresh dir while the committed state still references
    the old one, and nothing is deleted before the state commits — a kill
    at the state write must leave the store loadable (ADVICE r4: overwrite
    of the referenced dir deletes it first, bricking every restart)."""
    import pytest

    import pg_walstream_spark.engine as E

    eng = E.ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    # batch 3: one newly-pending row of open transaction 7
    _spill_and_commit(eng, _pending_event_rows([7]), batch_idx=3)
    pend1 = eng._load_state()["pending"]
    (d1,) = pend1["order"]

    orig = E._atomic_write

    def boom(path, data):
        raise OSError("killed before the state commit")

    # batch 4 resolves 7 and leaves 8 pending; killed at the state write
    row8 = _pending_event_rows([8])
    monkeypatch.setattr(E, "_atomic_write", boom)
    with pytest.raises(OSError):
        _spill_and_commit(eng, row8, batch_idx=4, resolved={7})
    monkeypatch.setattr(E, "_atomic_write", orig)
    # committed meta survives AND the dir it references still exists
    assert eng._load_state()["pending"] == pend1
    assert os.path.isdir(os.path.join(eng.pending_dir, d1))
    assert eng._load_pending(pend1).count() == 1  # store loads fine
    # the restarted batch lands its delta and sweeps the old one
    _spill_and_commit(eng, row8, batch_idx=4, resolved={7})
    pend2 = eng._load_state()["pending"]
    (d2,) = pend2["order"]
    assert d2 != d1
    assert not os.path.isdir(os.path.join(eng.pending_dir, d1))
    assert [r["xid"] for r in eng._load_pending(pend2).collect()] == [8]


def test_spill_writer_retry_rewrites_identical_bytes(tmp_path):
    """A retried or recomputed decode task rewrites its partition's spill
    file in place: one file, the same bytes, no temp file left behind."""
    from pg_walstream_spark.operators.decode import write_spill_part

    rows = _pending_event_rows([11, 12, 12])
    d = os.path.join(str(tmp_path), "delta_b0")
    p = write_spill_part(rows, d, 3)
    first = open(p, "rb").read()
    assert write_spill_part(rows, d, 3) == p
    assert os.listdir(d) == ["part-3.parquet"]
    assert open(p, "rb").read() == first


class _Killed(RuntimeError):
    """A process kill: permanent to the batch retry, so the batch dies."""


def test_kill_between_table_commit_and_state_save(spark, tmp_path,
                                                  monkeypatch):
    """The pending rows land in the fresh delta BEFORE the table commit.
    Kill the batch after its table commit but before the engine state
    (which holds the pending-store meta) is written: the restarted engine
    re-runs the batch, the table fence skips its merge, and its one job
    (the drain) rewrites the delta; the store loads and the final state
    is golden."""
    import pytest

    import pg_walstream_spark.engine as E

    base, b = wg.gen_basic(n_base=40, n_txns=4, ops_per_txn=30)
    frames = b.to_table()
    fd, wh = _stage(spark, tmp_path, {"repos": base}, frames)
    kill_at = 1  # commits txn 0 and leaves txn 1 open
    current = []

    class Tracking(ReplayEngine):
        def process_batch(self, frames, batch_idx, st, **k):
            current[:] = [batch_idx]
            return super().process_batch(frames, batch_idx, st, **k)

    eng = Tracking(spark, wh)
    orig = E._atomic_write

    def boom(path, data):
        if path == eng.state_path and current == [kill_at]:
            raise _Killed("killed before the state save")
        orig(path, data)

    monkeypatch.setattr(E, "_atomic_write", boom)
    with pytest.raises(_Killed):
        eng.replay_frames(fd, batch_frames=25)
    monkeypatch.setattr(E, "_atomic_write", orig)
    lsn_killed = eng.table("repos").applied_lsn()
    assert lsn_killed > 0  # the table committed before the kill
    assert eng._load_state()["batch_idx"] == kill_at

    loads = {}

    class Restarted(_JobCounter):
        def process_batch(self, frames, batch_idx, st, **k):
            rec = super().process_batch(frames, batch_idx, st, **k)
            pend = self._load_pending(st["pending"])
            loads[batch_idx] = None if pend is None else pend.count()
            return rec

    eng2 = Restarted(spark, wh, monkeypatch)
    res = eng2.replay_frames(fd, batch_frames=25)
    rec = res["records"][0]
    assert rec["batch_idx"] == kill_at
    assert [t["skipped"] for t in rec["tables"]] == [True]
    assert rec["pending"] > 0
    assert eng2.jobs()[kill_at] == 1
    assert loads[kill_at] == rec["pending"]
    _assert_golden(spark, eng2, base, frames)


def test_garbage_in_fresh_delta_dir_never_loads(spark, tmp_path):
    """Files left in a batch's would-be fresh delta dir (a crashed
    attempt's output) are cleared before the batch's job; a planted
    ``part-99.parquet`` of wrong rows is never loaded."""
    from pg_walstream_spark.operators.decode import write_spill_part

    base, b = wg.gen_basic(n_base=40, n_txns=4, ops_per_txn=30)
    frames = b.to_table()
    fd, wh = _stage(spark, tmp_path, {"repos": base}, frames)
    garbage = _pending_event_rows(range(1000, 1010), key_prefix="garbage")
    seen = []

    class Planting(ReplayEngine):
        def process_batch(self, frames, batch_idx, st, **k):
            write_spill_part(garbage, os.path.join(
                self.pending_dir, f"delta_b{batch_idx}"), 99)
            rec = super().process_batch(frames, batch_idx, st, **k)
            for d in st["pending"]["order"]:
                seen.append(d)
                assert "part-99.parquet" not in os.listdir(
                    os.path.join(self.pending_dir, d))
            return rec

    eng = Planting(spark, wh)
    eng.replay_frames(fd, batch_frames=25)
    assert seen, "no batch committed a pending delta"
    assert eng.table("repos").read(spark).filter(
        "repo = 'orgZ/garbage'").count() == 0
    _assert_golden(spark, eng, base, frames)


def _row_keys(rows) -> list[str]:
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                             default=str) for r in rows)


@pytest.mark.parametrize("case", ["two_phase", "stream_subabort",
                                  "truncate_open", "origin_none",
                                  "malformed"])
def test_pending_delta_matches_decode_spill_predicate(spark, tmp_path,
                                                      monkeypatch, case):
    """After every batch cut inside a transaction, the delta its decode
    tasks wrote holds exactly the batch's decoded rows under the spill
    predicate — apply-path events of open or prepared transactions, minus
    origin 'none' foreign transactions — and its dead-letter dir holds
    exactly the rejected rows, both computed here with Spark from a plain
    decode. The store meta counts the delta's rows per xid."""
    from collections import Counter

    import pg_walstream_spark.engine as E
    from pg_walstream_spark.operators.decode import (
        DEAD_LETTER_SCHEMA, EVENT_SPARK_DDL, decode_frames_df,
    )
    from pg_walstream_spark.operators.raw import filter_origin
    from pg_walstream_spark.options import ReplicationOptions

    gen, batch_frames, options = {
        # prepared at the cut; commit_prepared in the next batch
        "two_phase": (wg.gen_two_phase, 9, None),
        # the sub rows and their stream abort land in different batches
        "stream_subabort": (wg.gen_streaming_subabort, 7, None),
        # a batch ends between TRUNCATE and its COMMIT
        "truncate_open": (wg.gen_truncate, 20, None),
        # the ORIGIN frame and the foreign DML straddle a boundary
        "origin_none": (wg.gen_origin, 3, ReplicationOptions(origin="none")),
        # garbage frames inside a transaction that spans three batches
        "malformed": (lambda n_base: wg.gen_malformed(), 3, None),
    }[case]
    base, b = gen(n_base=30)
    frames = b.to_table()
    fd, wh = _stage(spark, tmp_path, {"repos": base}, frames)
    decodes = []
    orig_decode = E.decode_frames_df

    def recording_decode(frames_df, ctx, side=None):
        decodes.append((frames_df, ctx, side))
        return orig_decode(frames_df, ctx, side=side)

    monkeypatch.setattr(E, "decode_frames_df", recording_decode)
    checked = []

    class Checking(ReplayEngine):
        def _pending_append(self, meta, resolved, batch_idx, name):
            if name is None:  # the batch wrote no delta
                return super()._pending_append(meta, resolved, batch_idx,
                                               name)
            frames_df, ctx, side = decodes[-1]
            assert side.pending == os.path.join(self.pending_dir, name)
            plain = decode_frames_df(frames_df, ctx)
            pend = plain.filter(
                "event_type IN ('insert', 'update', 'delete', 'truncate') "
                "AND error IS NULL AND txn_status IN ('open', 'prepared')")
            want = pend
            if self.options.origin == "none" and ctx.has_origin:
                want = filter_origin(pend, "none",
                                     foreign_xids=sorted(ctx.origin_xids))
            got = (self.spark.read.schema(EVENT_SPARK_DDL)
                   .parquet(side.pending).collect()
                   if os.path.isdir(side.pending) else [])
            want = want.collect()
            if pend.count() > len(want):
                checked.append({"foreign_dropped"})
            assert _row_keys(got) == _row_keys(want), batch_idx
            dead = plain.filter("error IS NOT NULL").select(
                *DEAD_LETTER_SCHEMA.names).collect()
            got_dead = (self.spark.read.parquet(side.dead_letters).collect()
                        if os.path.isdir(side.dead_letters) else [])
            assert _row_keys(got_dead) == _row_keys(dead), batch_idx
            checked.append({r["txn_status"] for r in want}
                           | {r["event_type"] for r in want}
                           | {"streamed" for r in want if r["sub_xid"]}
                           | {"dead_letter" for _ in dead})
            out = super()._pending_append(meta, resolved, batch_idx, name)
            n = sum(_live_rows(out).values())
            if not out["order"]:
                assert n == 0
            else:
                assert n == self._load_pending(out).count() > 0
                if want and name in out["order"]:
                    assert out["deltas"][name] == dict(
                        Counter(str(r["xid"]) for r in want))
            return out

    eng = Checking(spark, wh, options=options)
    eng.replay_frames(fd, batch_frames=batch_frames)
    assert checked, "no batch was cut inside a transaction"
    seen = set().union(*checked)
    if case == "origin_none":
        # the foreign transaction's rows never reach the store
        assert "foreign_dropped" in seen, checked
        lake = eng.table("repos").read(spark)
        assert lake.filter("repo = 'orgF/foreign'").count() == 0
        assert lake.count() == 30 + 4
        return
    assert {"two_phase": "prepared", "stream_subabort": "streamed",
            "truncate_open": "truncate",
            "malformed": "dead_letter"}[case] in seen, checked
    _assert_golden(spark, eng, base, frames)


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

    # a missing stamp is v3 or older (v3 replays resumed by batch
    # position, a cursor v4 cannot translate): rejected as version 0
    del st["state_version"]
    E._atomic_write(eng.state_path, json.dumps(st))
    with pytest.raises(E.StateVersionError, match="version 0"):
        E.ReplayEngine(spark, wh)._load_state()

    # ...also with an older pending layout (delta content no state meta
    # references) next to it
    pend = os.path.join(wh, "pending")
    os.makedirs(os.path.join(pend, "delta-000"), exist_ok=True)
    with open(os.path.join(pend, "delta-000", "part-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    with pytest.raises(E.StateVersionError, match="version 0"):
        E.ReplayEngine(spark, wh)._load_state()
