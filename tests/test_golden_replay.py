"""End-to-end replay: engine final lake state == golden applier state.

The distributed analog of the reference's pgoutput_fidelity +
safe_transaction_consumer integration tests: deterministic WAL in, final
table state compared row-for-row with sha256(content) equality.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pytest

from pg_walstream_spark.engine import ReplayEngine
from pg_walstream_spark.fixtures import wal_gen as wg
from pg_walstream_spark.golden import golden_final_state


def norm(rows: list[dict], cols: list[str]) -> list[tuple]:
    out = []
    for r in rows:
        out.append(tuple(
            None if r.get(c) is None else str(r.get(c)) for c in cols
        ))
    return sorted(out)


def run_engine(spark, tmp_path, base_tables: dict[str, pa.Table],
               frames: pa.Table, batch_frames: int = 10_000,
               rows_per_file: int = 50_000, stop_at_lsn=None,
               warehouse: str | None = None) -> ReplayEngine:
    frames_dir = os.path.join(tmp_path, "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=rows_per_file)
    eng = ReplayEngine(spark, warehouse or os.path.join(tmp_path, "wh"))
    for name, tbl in base_tables.items():
        base_path = os.path.join(tmp_path, f"base_{name}.parquet")
        wg.write_base(tbl, base_path)
        df = spark.read.parquet(base_path)
        eng.bootstrap_table(name, df, ["repo", "path"], n_buckets=8)
    eng.replay_frames(frames_dir, batch_frames=batch_frames,
                      stop_at_lsn=stop_at_lsn)
    return eng


def assert_matches_golden(spark, eng: ReplayEngine, base_tables, frames,
                          table: str = "repos", stop_at_lsn=None,
                          protocol_version: int = 2):
    golden_rows, golden_lsn = golden_final_state(
        {t: tbl for t, tbl in base_tables.items()}, frames, table=table,
        stop_at_lsn=stop_at_lsn, protocol_version=protocol_version,
    )
    lake = eng.table(table)
    got = [r.asDict() for r in lake.read(spark).collect()]
    cols = [n for n, _ in lake.snapshot()["schema"]]
    assert norm(got, cols) == norm(golden_rows, cols), (
        f"{table}: {len(got)} lake rows vs {len(golden_rows)} golden"
    )
    # per-row invariant: sha256(content) equality (BASELINE.json input_hint)
    g_sha = {(r["repo"], r["path"]): r["content_sha256"] for r in golden_rows}
    for r in got:
        if r.get("content") is not None:
            assert hashlib.sha256(r["content"].encode()).hexdigest() == \
                g_sha[(r["repo"], r["path"])]
    assert lake.applied_lsn() == golden_lsn


@pytest.mark.parametrize("batch_frames", [10_000, 37])
def test_e2e_basic(spark, tmp_path, batch_frames):
    base, b = wg.gen_basic(n_base=60, n_txns=8, ops_per_txn=5)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames,
                     batch_frames=batch_frames)
    assert_matches_golden(spark, eng, {"repos": base}, frames)


def test_e2e_mixed_dml_two_tables(spark, tmp_path):
    base, b = wg.gen_mixed_dml(n_base=80, n_txns=12, ops_per_txn=8)
    frames = b.to_table()
    bases = {"repos": base.slice(0, 40), "repos_full": base.slice(40)}
    eng = run_engine(spark, str(tmp_path), bases, frames, batch_frames=50)
    assert_matches_golden(spark, eng, bases, frames, "repos")
    assert_matches_golden(spark, eng, bases, frames, "repos_full")


def test_e2e_split_txn_general_path_uses_merge_kernel(spark, tmp_path):
    """batch_frames cuts transactions, so batches spill to and resolve
    from the pending store: each per-table merge — two tables per batch,
    merged on concurrent driver threads — must run the merge kernel, and
    the state must match golden."""
    base, b = wg.gen_mixed_dml(n_base=80, n_txns=12, ops_per_txn=8)
    frames = b.to_table()
    bases = {"repos": base.slice(0, 40), "repos_full": base.slice(40)}
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir)
    eng = ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    for name, tbl in bases.items():
        bp = os.path.join(str(tmp_path), f"base_{name}.parquet")
        wg.write_base(tbl, bp)
        eng.bootstrap_table(name, spark.read.parquet(bp), ["repo", "path"],
                            n_buckets=8)
    res = eng.replay_frames(frames_dir, batch_frames=45)
    recs = res["records"]
    assert len(recs) > 2
    trecs = [tr for r in recs for tr in r["tables"]]
    assert len({tr["table"] for tr in trecs}) == 2
    assert all(tr["merge_kernel"] is True for tr in trecs)
    assert any(r["pending"] for r in recs)
    assert_matches_golden(spark, eng, bases, frames, "repos")
    assert_matches_golden(spark, eng, bases, frames, "repos_full")


def test_e2e_toast_carry_forward(spark, tmp_path):
    base, b = wg.gen_toast(n_base=40, n_txns=5)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames,
                     batch_frames=20)
    assert_matches_golden(spark, eng, {"repos": base}, frames)


def test_e2e_truncate(spark, tmp_path):
    base, b = wg.gen_truncate(n_base=40)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames)
    assert_matches_golden(spark, eng, {"repos": base}, frames)


@pytest.mark.parametrize("batch_frames", [18, 19, 20, 21, 22])
def test_e2e_truncate_split_across_batches(spark, tmp_path, batch_frames):
    """A micro-batch boundary falling between TRUNCATE and its COMMIT must
    not lose the truncate: open-txn truncates ride the pending spill like
    DML (regression: pending spill used to keep DML only, silently dropping
    a truncate whose commit arrived in a later batch)."""
    base, b = wg.gen_truncate(n_base=40)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames,
                     batch_frames=batch_frames)
    assert_matches_golden(spark, eng, {"repos": base}, frames)


@pytest.mark.parametrize("batch_frames", [10_000, 7])
def test_e2e_streaming_subtxn_abort(spark, tmp_path, batch_frames):
    """stream_abort with subxid != xid discards ONLY the subtransaction's
    rows; the top-level txn (including rows streamed after the sub-abort)
    still commits. batch_frames=7 splits the sub rows and their abort into
    different micro-batches (pending spill + carried abort markers)."""
    base, b = wg.gen_streaming_subabort(n_base=30)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames,
                     batch_frames=batch_frames)
    assert_matches_golden(spark, eng, {"repos": base}, frames)
    lake = eng.table("repos")
    n_doomed = lake.read(spark).filter("repo = 'orgS/subdoomed'").count()
    assert n_doomed == 0
    assert lake.read(spark).count() == 30 + 7  # base + committed inserts


def test_e2e_rename_column(spark, tmp_path):
    """Mid-stream column rename applies as a read-alias rename: schema
    shows the new name, pre-rename rows (bootstrap parquet written under
    the old name) keep serving their values, post-rename DML binds to the
    new name, and the final state matches golden."""
    base, b = wg.gen_rename_column(n_base=25)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames)
    lake = eng.table("repos")
    cols = [n for n, _ in lake.snapshot()["schema"]]
    assert "language" in cols and "lang" not in cols
    assert_matches_golden(spark, eng, {"repos": base}, frames)
    vals = [r["language"] for r in lake.read(spark).collect()]
    assert vals and all(v is not None for v in vals)


def test_e2e_schema_evolution(spark, tmp_path):
    base, b = wg.gen_schema_evo(n_base=30)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames)
    lake = eng.table("repos")
    cols = [n for n, _ in lake.snapshot()["schema"]]
    assert "stars" in cols
    assert_matches_golden(spark, eng, {"repos": base}, frames)


def test_e2e_streaming_txns(spark, tmp_path):
    base, b = wg.gen_streaming(n_base=30)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames,
                     batch_frames=13)  # forces segment splits across batches
    assert_matches_golden(spark, eng, {"repos": base}, frames)


def test_e2e_two_phase(spark, tmp_path):
    base, b = wg.gen_two_phase(n_base=25)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames,
                     batch_frames=9)  # prepare/commit_prepared in different batches
    assert_matches_golden(spark, eng, {"repos": base}, frames)


def test_e2e_binary_mode_lossless(spark, tmp_path):
    """binary=on values survive decode→merge as bytea hex, byte-lossless."""
    base, b = wg.gen_binary_mode(n_base=30, n_txns=4)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames)
    assert_matches_golden(spark, eng, {"repos": base}, frames)
    got = [r for r in eng.table("repos").read(spark).collect()
           if r["repo"].startswith("orgB/")]
    assert len(got) == 20
    assert all(r["content"].startswith("\\x") and len(r["content"]) == 130
               for r in got)


def test_e2e_malformed_quarantine(spark, tmp_path):
    base, b = wg.gen_malformed()
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames)
    assert_matches_golden(spark, eng, {"repos": base}, frames)
    st = eng._load_state()
    assert sum(m["quarantined"] for m in st["metrics"]) == 3


def test_e2e_bounded_replay(spark, tmp_path):
    base, b = wg.gen_basic(n_base=40, n_txns=6, ops_per_txn=5)
    frames = b.to_table()
    stop = b.commit_lsns[2] + 1  # between txn 3 and 4 → txn 4 delivered whole
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames,
                     stop_at_lsn=stop)
    assert_matches_golden(spark, eng, {"repos": base}, frames,
                          stop_at_lsn=stop)


def _carried_past_stop(protocol_version: int):
    """A transaction carried out of batch 0 whose commit follows the stop
    commit Z in batch 1: protocol 3 carries a prepared transaction
    (BEGIN PREPARE, 6 inserts, PREPARE | Z, COMMIT PREPARED; 9-frame
    batches), protocol 2 a streamed one (StreamStart, 4 inserts,
    StreamStop | Z, StreamCommit; 7-frame batches). Z is a plain
    3-insert transaction; the stop is its end LSN."""
    from pg_walstream_spark.fixtures.repos import gen_repos_base
    from pg_walstream_spark.protocol import encoder as e

    base = gen_repos_base(25, 42)
    b = wg.WalBuilder(7, protocol_version=protocol_version)
    b.relation(wg.REPOS_OID, "repos", wg.REPOS_COLUMNS)

    def row(org, i):
        return wg.row_tuple({
            "repo": f"{org}/carried", "path": f"{i}.py", "commit": "4" * 40,
            "lang": "python", "content": f"{org} row {i}"})

    xid = b.alloc_xid()
    if protocol_version == 3:
        p = b.lsn
        b.emit(e.encode_begin_prepare(p, p + 1, 0, xid, "gid-carry"))
        for i in range(6):
            b.emit(e.encode_insert(wg.REPOS_OID, row("orgP", i)))
        b.emit(e.encode_prepare(p, b.lsn + 30, 0, xid, "gid-carry"))
        batch_frames = 9
    else:
        b.emit(e.encode_stream_start(xid, True))
        for i in range(4):
            b.emit(e.encode_insert(wg.REPOS_OID, row("orgS", i), xid=xid))
        b.emit(e.encode_stream_stop())
        batch_frames = 7
    b.begin()
    for i in range(3):
        b.emit(e.encode_insert(wg.REPOS_OID, row("orgZ", i)))
    stop = b.commit()
    cl = b.lsn
    if protocol_version == 3:
        b.emit(e.encode_commit_prepared(cl, cl + 40, b.seq * 1_000, xid,
                                        "gid-carry"))
    else:
        b.emit(e.encode_stream_commit(xid, cl, cl + 40, b.seq * 1_000))
    b.commit_lsns.append(cl + 40)
    return base, b, batch_frames, stop


# the engine state a stopped batch leaves as the batch began
_CARRY_KEYS = ("catalog", "open_xid", "open_stream_xid", "aborted_subxids",
               "origin_xids", "pending", "max_seq", "batch_idx")


@pytest.mark.parametrize("case", ["basic", "prepared_carry",
                                  "streamed_carry"])
def test_e2e_bounded_then_resume(spark, tmp_path, case):
    """stop_at_lsn, then a plain resume replay continues to the end —
    restart-from-confirmed-LSN (found via CLI drive; the stopped batch must
    not advance the checkpoint cursor). In the carry cases a transaction
    pending from the previous batch commits after the stop commit: the
    stopped batch must keep it pending, with every other carry, so the
    resume applies it."""
    protocol_version, batch_frames = 2, 10_000
    if case == "basic":
        base, b = wg.gen_basic(n_base=40, n_txns=6, ops_per_txn=5)
        stop, applied = b.commit_lsns[2] + 1, b.commit_lsns[3]
    else:
        protocol_version = 3 if case == "prepared_carry" else 2
        base, b, batch_frames, stop = _carried_past_stop(protocol_version)
        applied = stop
    frames = b.to_table()
    began = []

    class Recording(ReplayEngine):
        def process_batch(self, frames, batch_idx, st, **k):
            began.append(json.loads(json.dumps(
                {key: st.get(key) for key in _CARRY_KEYS})))
            return super().process_batch(frames, batch_idx, st, **k)

    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir)
    wh = os.path.join(str(tmp_path), "wh")
    eng = Recording(spark, wh, protocol_version=protocol_version)
    wg.write_base(base, os.path.join(str(tmp_path), "base.parquet"))
    eng.bootstrap_table("repos", spark.read.parquet(
        os.path.join(str(tmp_path), "base.parquet")), ["repo", "path"], 8)
    recs = eng.replay_frames(frames_dir, batch_frames=batch_frames,
                             stop_at_lsn=stop)["records"]
    assert recs[-1]["stopped"]
    assert eng.table("repos").applied_lsn() == applied
    st = eng._load_state()
    assert {key: st.get(key) for key in _CARRY_KEYS} == began[-1]
    eng2 = ReplayEngine(spark, wh, protocol_version=protocol_version)
    eng2.replay_frames(frames_dir, batch_frames=batch_frames)
    assert_matches_golden(spark, eng2, {"repos": base}, frames,
                          protocol_version=protocol_version)


def test_stop_leaves_later_schema_change_to_resume(spark, tmp_path):
    """A stop at the commit before a relation re-announcement adds no
    column: the stopped batch applies only the schema changes its applied
    transactions can see, and the resume adds the column."""
    base, b = wg.gen_schema_evo(n_base=20)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames,
                     stop_at_lsn=b.commit_lsns[0])
    t = eng.table("repos")
    assert t.applied_lsn() == b.commit_lsns[0]
    assert "stars" not in [n for n, _ in t.snapshot()["schema"]]
    eng.replay_frames(os.path.join(str(tmp_path), "frames"))
    assert "stars" in [n for n, _ in t.snapshot()["schema"]]
    assert_matches_golden(spark, eng, {"repos": base}, frames)


def test_e2e_duplicate_batch_fenced(spark, tmp_path):
    """At-least-once delivery: replaying the whole stream again must be a
    no-op thanks to the LSN fence."""
    base, b = wg.gen_basic(n_base=40, n_txns=5, ops_per_txn=4)
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames)
    lake = eng.table("repos")
    v1 = lake.snapshot()["version"]
    fence1 = lake.applied_lsn()
    # simulate a restarted engine with lost state but same lake (worst case)
    eng2 = ReplayEngine(spark, eng.warehouse)
    os.remove(eng2.state_path)
    eng2.replay_frames(os.path.join(str(tmp_path), "frames"))
    assert lake.applied_lsn() == fence1
    assert_matches_golden(spark, eng2, {"repos": base}, frames)
    # fence skipped every merge → lineage shows no new applied batches
    assert all(
        rec.get("skipped") or rec["applied_lsn"] <= fence1
        for rec in lake.snapshot()["lineage"]
    )
    assert lake.snapshot()["version"] >= v1


def test_e2e_restart_resume_mid_replay(spark, tmp_path):
    """Kill after batch k, resume from checkpoint → same final state."""
    base, b = wg.gen_mixed_dml(n_base=60, n_txns=10, ops_per_txn=6)
    frames = b.to_table()
    bases = {"repos": base.slice(0, 30), "repos_full": base.slice(30)}
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=50_000)
    eng = ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    for name, tbl in bases.items():
        p = os.path.join(str(tmp_path), f"b_{name}.parquet")
        wg.write_base(tbl, p)
        eng.bootstrap_table(name, spark.read.parquet(p), ["repo", "path"], 8)

    # run only the first 2 micro-batches, then "crash"
    from pyspark.sql import functions as F

    all_frames = spark.read.parquet(frames_dir)
    st = eng._load_state()
    for i, start in enumerate(range(0, 60, 30)):
        batch = all_frames.filter(
            (F.col("seq") >= start) & (F.col("seq") < start + 30)
        )
        eng.process_batch(batch, i, st, seq_range=(start, start + 29))

    # resume: fresh engine object, same warehouse/checkpoint
    eng2 = ReplayEngine(spark, eng.warehouse)
    eng2.replay_frames(frames_dir, batch_frames=30)
    assert_matches_golden(spark, eng2, bases, frames, "repos")
    assert_matches_golden(spark, eng2, bases, frames, "repos_full")


def _stage_two_tables(spark, tmp_path, base, frames, rows_per_file):
    """Frames in ``rows_per_file``-row files and a warehouse whose base is
    split across ``repos`` and ``repos_full``."""
    bases = {"repos": base.slice(0, 30), "repos_full": base.slice(30)}
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=rows_per_file)
    eng = ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    for name, tbl in bases.items():
        p = os.path.join(str(tmp_path), f"b_{name}.parquet")
        wg.write_base(tbl, p)
        eng.bootstrap_table(name, spark.read.parquet(p), ["repo", "path"], 8)
    return eng, bases, frames_dir


class _Killed(RuntimeError):
    """A process kill: permanent to the batch retry, so the replay dies."""


def test_resume_with_different_batch_frames(spark, tmp_path):
    """Kill after two 20-frame batches, resume with 30-frame batches: the
    resume continues at the consumed seq (40), not at batch position 2 of
    the new size (seq 60), so frames 40-59 are applied."""
    base, b = wg.gen_mixed_dml(n_base=60, n_txns=10, ops_per_txn=6)
    frames = b.to_table()
    eng, bases, frames_dir = _stage_two_tables(spark, tmp_path, base,
                                               frames, 50_000)

    class Dying(ReplayEngine):
        def process_batch(self, frames, batch_idx, st, **k):
            if batch_idx == 2:
                raise _Killed("killed after batch 2")
            return super().process_batch(frames, batch_idx, st, **k)

    with pytest.raises(_Killed):
        Dying(spark, eng.warehouse).replay_frames(frames_dir, batch_frames=20)
    assert eng._load_state()["batch_idx"] == 2

    eng2 = ReplayEngine(spark, eng.warehouse)
    res = eng2.replay_frames(frames_dir, batch_frames=30)
    assert_matches_golden(spark, eng2, bases, frames, "repos")
    assert_matches_golden(spark, eng2, bases, frames, "repos_full")
    # the first resumed batch is [30, 59] clamped to start at seq 40
    assert res["records"][0]["batch_idx"] == 2
    assert eng2._load_state()["max_seq"] == frames.num_rows - 1


def test_replay_stops_at_missing_frame_file(spark, tmp_path, capsys):
    """A bounded replay over a directory missing a middle frame file
    applies the frames before the gap and nothing past it. It reports the
    files past the gap as ``held_frames`` (CLI: printed, exit 1), keeps
    them in engine state and shows the health row in ``metrics_df``. Once
    the file is back, the replay releases them and reaches golden."""
    import json
    import shutil

    import pyarrow.parquet as pq

    from pg_walstream_spark.cli import main as cli_main

    base, b = wg.gen_mixed_dml(n_base=60, n_txns=8, ops_per_txn=6)
    frames = b.to_table()
    eng, bases, frames_dir = _stage_two_tables(spark, tmp_path, base,
                                               frames, 20)
    files = sorted(os.path.join(frames_dir, f)
                   for f in os.listdir(frames_dir))
    assert len(files) >= 4
    victim = files[len(files) // 2]
    gap_lo = pq.read_table(victim, columns=["seq"]).column("seq")[0].as_py()
    after = [pq.read_table(f, columns=["seq"]).column("seq")[0].as_py()
             for f in files[len(files) // 2 + 1:]]
    parked = os.path.join(str(tmp_path), "parked.parquet")
    shutil.move(victim, parked)

    rc = cli_main(["replay", "--warehouse", eng.warehouse,
                   "--frames", frames_dir, "--batch-frames", "15"])
    assert rc == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [h["lo"] for h in out["held_frames"]] == after

    st = eng._load_state()
    assert st["max_seq"] == gap_lo - 1
    assert [h["lo"] for h in st["held_frames"]] == after
    # nothing past the gap: the lake is the golden state of the prefix
    for tname in bases:
        golden_rows, _ = golden_final_state(bases, frames.slice(0, gap_lo),
                                            tname)
        got = sorted((r["repo"], r["path"], r["content"])
                     for r in eng.table(tname).read(spark).collect())
        assert got == sorted((r["repo"], r["path"], r["content"])
                             for r in golden_rows), tname
    kinds = [r["kind"] for r in eng.metrics_df().collect()]
    assert any(k.startswith(f"held_frames={len(after)} ")
               and f"waiting for seq {gap_lo}" in k for k in kinds), kinds

    # a second replay over the same hole applies nothing and says so
    res = eng.replay_frames(frames_dir, batch_frames=15)
    assert res["batches"] == 0
    assert [h["lo"] for h in res["held_frames"]] == after

    shutil.move(parked, victim)
    res = eng.replay_frames(frames_dir, batch_frames=15)
    assert res["held_frames"] == []
    assert eng._load_state()["held_frames"] == []
    assert_matches_golden(spark, eng, bases, frames, "repos")
    assert_matches_golden(spark, eng, bases, frames, "repos_full")


def test_schema_unsupported_type_change_logged(spark, tmp_path):
    """A non-widening type change (text → int) must be recorded as a loud
    schema_evolution_unsupported lineage event, never silently mis-mapped."""
    eng = ReplayEngine(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([("a", "b", "x")],
                               "repo string, path string, commit string")
    eng.bootstrap_table("repos", df, ["repo", "path"], 2)
    old = (0, "public", "repos", "d",
           ("repo", "path", "commit"), (1, 1, 0), (25, 25, 25))
    new = (5, "public", "repos", "d",
           ("repo", "path", "commit"), (1, 1, 0), (25, 25, 23))
    eng._apply_schema_change({"old": old, "new": new, "lsn": 123})
    events = [r.get("event") for r in eng.table("repos").snapshot()["lineage"]]
    assert "schema_evolution_unsupported" in events


def test_schema_promotion_and_drop(spark, tmp_path):
    """Widening promotion (int → bigint) and DROP COLUMN apply as
    metadata-only changes; old files up-cast / stop serving at read time."""
    eng = ReplayEngine(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([("a", "b", 7, "gone")],
                               "repo string, path string, stars int, junk string")
    eng.bootstrap_table("repos", df, ["repo", "path"], 2)
    old = (0, "public", "repos", "d",
           ("repo", "path", "stars", "junk"), (1, 1, 0, 0), (25, 25, 23, 25))
    new = (5, "public", "repos", "d",
           ("repo", "path", "stars"), (1, 1, 0), (25, 25, 20))
    eng._apply_schema_change({"old": old, "new": new, "lsn": 99})
    t = eng.table("repos")
    schema = dict(tuple(e) for e in t.snapshot()["schema"])
    assert schema["stars"] == "bigint"
    assert "junk" not in schema
    row = t.read(spark).collect()[0]
    assert row["stars"] == 7 and "junk" not in row.asDict()


def test_schema_change_detected_again_is_noop(spark, tmp_path):
    """A batch recomputed after a bounded-replay stop or a crash detects
    its schema changes again: the second application of an add, a drop, a
    widening promotion and an unsupported type change commits nothing."""
    eng = ReplayEngine(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("a", "b", 7, "gone", "x")],
        "repo string, path string, stars int, junk string, commit string")
    eng.bootstrap_table("repos", df, ["repo", "path"], 2)
    old = (0, "public", "repos", "d",
           ("repo", "path", "stars", "junk", "commit"), (1, 1, 0, 0, 0),
           (25, 25, 23, 25, 25))
    new = (5, "public", "repos", "d",
           ("repo", "path", "stars", "commit", "lang"), (1, 1, 0, 0, 0),
           (25, 25, 20, 23, 25))
    change = {"old": old, "new": new, "lsn": 77}
    t = eng.table("repos")
    eng._apply_schema_change(change)
    once = t.snapshot()
    assert [e.get("event") for e in once["lineage"]] == [
        "add_columns", "drop_columns", "promote_column",
        "schema_evolution_unsupported"]
    eng._apply_schema_change(change)
    assert t.snapshot() == once


@pytest.mark.parametrize("proto", [1, 2, 4])
def test_e2e_protocol_versions(spark, tmp_path, proto):
    """Engine vs golden at protocol v1 (no streaming, no xid prefixes), v2,
    and v4 (stream_abort carries abort_lsn/abort_ts) — the reference
    property-tests all message variants across versions 1-4; this is the
    end-to-end analog."""
    if proto == 1:
        base, b = wg.gen_basic(n_base=40, n_txns=6, ops_per_txn=4)
        b.protocol_version = 1
    else:
        base, b = wg.gen_streaming_subabort(n_base=30, protocol_version=proto)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir)
    eng = ReplayEngine(spark, os.path.join(str(tmp_path), "wh"),
                       protocol_version=proto)
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)
    eng.replay_frames(frames_dir, batch_frames=11)
    golden_rows, glsn = golden_final_state(
        {"repos": base}, frames, "repos", protocol_version=proto)
    lake = eng.table("repos")
    got = [r.asDict() for r in lake.read(spark).collect()]
    cols = [n for n, _ in lake.snapshot()["schema"]]
    assert norm(got, cols) == norm(golden_rows, cols), (
        f"proto {proto}: {len(got)} lake vs {len(golden_rows)} golden"
    )
    assert lake.applied_lsn() == glsn


@pytest.mark.parametrize("origin_mode,expect_foreign", [("none", 0), ("any", 3)])
def test_e2e_origin_option(spark, tmp_path, origin_mode, expect_foreign):
    """The replication option set drives engine behavior (the replay analog
    of START_REPLICATION options): origin 'none' drops foreign-origin
    transactions, 'any' applies them."""
    from pg_walstream_spark.options import ReplicationOptions

    base, b = wg.gen_origin(n_base=20)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir)
    eng = ReplayEngine(
        spark, os.path.join(str(tmp_path), "wh"),
        options=ReplicationOptions(origin=origin_mode),
    )
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)
    eng.replay_frames(frames_dir)
    lake = eng.table("repos")
    assert lake.read(spark).filter("repo = 'orgF/foreign'").count() == \
        expect_foreign
    assert lake.read(spark).count() == 20 + 4 + expect_foreign
    # the foreign transaction commits last: origin filtering drops its
    # changes, not its commit, so the fence still advances past it
    assert eng._load_state()["applied_lsn"] == b.commit_lsns[-1]
    assert lake.applied_lsn() == b.commit_lsns[-1]


@pytest.mark.parametrize("batch_frames", [3, 10])
def test_e2e_origin_spanning_batches(spark, tmp_path, batch_frames):
    """A foreign-origin transaction split across micro-batch boundaries must
    have ALL its DML dropped under origin='none' — the ORIGIN frame lands in
    one batch but the txn's later DML and COMMIT land in the next, so the
    foreign mark must be carried in engine state (regression: per-batch-only
    filtering applied the later-batch portion of the foreign txn, a partial
    foreign apply that violated both the origin option and txn atomicity)."""
    from pg_walstream_spark.options import ReplicationOptions

    base, b = wg.gen_origin(n_base=20)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir)
    eng = ReplayEngine(
        spark, os.path.join(str(tmp_path), "wh"),
        options=ReplicationOptions(origin="none"),
    )
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)
    eng.replay_frames(frames_dir, batch_frames=batch_frames)
    lake = eng.table("repos")
    assert lake.read(spark).filter("repo = 'orgF/foreign'").count() == 0
    assert lake.read(spark).count() == 20 + 4
    # the mark is spent once the foreign txn resolves — no unbounded growth
    assert eng._load_state().get("origin_xids") == []


def test_replication_options_validation():
    from pg_walstream_spark.options import ReplicationOptions
    import pytest as _pytest

    assert "streaming 'on'" in ReplicationOptions(
        streaming="on", binary=True).to_option_string()
    with _pytest.raises(ValueError):
        ReplicationOptions(streaming="on", protocol_version=1).validate()
    with _pytest.raises(ValueError):
        ReplicationOptions(two_phase=True, protocol_version=2).validate()
    with _pytest.raises(ValueError):
        ReplicationOptions(streaming="parallel", protocol_version=2).validate()
    with _pytest.raises(ValueError):
        ReplicationOptions(origin="sometimes").validate()


def test_e2e_integer_keyed_table(spark, tmp_path):
    """Wire values are text; an int-keyed lake table must still bucket and
    join correctly (xxhash64('42') != xxhash64(42) — uncast string keys
    would hash to different buckets than the typed target and a pruned
    MERGE could strand stale rows)."""
    from pg_walstream_spark.protocol import encoder as e

    ACC_OID = 7001
    ACC_COLS = [(1, "id", 20, -1), (0, "balance", 25, -1)]
    b = wg.WalBuilder(5)
    b.relation(ACC_OID, "accounts", ACC_COLS)
    b.begin()
    for i in range(50):
        b.emit(e.encode_insert(
            ACC_OID, (("t", str(1000 + i).encode()), ("t", b"new"))))
    b.commit()
    b.begin()
    for i in range(0, 40, 2):  # update existing typed-key rows
        b.emit(e.encode_update(
            ACC_OID, (("t", str(i).encode()), ("t", b"updated")), None))
    for i in range(1, 20, 2):  # delete others
        b.emit(e.encode_delete(ACC_OID, (("t", str(i).encode()), ("n", None))))
    b.commit()
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir)
    eng = ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    base = spark.createDataFrame(
        [(i, "orig") for i in range(100)], "id bigint, balance string")
    eng.bootstrap_table("accounts", base, ["id"], n_buckets=8)
    # two micro-batches: the second batch's pruned MERGE must locate rows
    # the first batch wrote — misplaced buckets would duplicate keys here
    eng.replay_frames(frames_dir, batch_frames=55)
    t = eng.table("accounts")
    rows = {r["id"]: r["balance"] for r in t.read(spark).collect()}
    assert len(rows) == 100 - 10 + 50  # 100 base - 10 deleted + 50 inserted
    assert all(isinstance(k, int) for k in rows)
    assert rows[0] == "updated" and rows[38] == "updated"
    assert 1 not in rows and 19 not in rows
    assert rows[1000] == "new" and rows[40] == "orig"
    # no duplicate keys across bucket files (the stale-row failure mode)
    assert t.read(spark).count() == \
        t.read(spark).select("id").distinct().count()


def test_malformed_typed_value_fails_loudly(spark, tmp_path):
    """A wire value its typed column cannot hold ('abc' in an int column)
    fails the batch's ANSI CAST. The error is permanent (no retry budget
    burnt) and names the table, the batch seq range, the LSNs and the
    column types, and the table keeps its last applied state."""
    from pg_walstream_spark.protocol import encoder as e
    from pg_walstream_spark.retry import PermanentError

    oid = 7002
    b = wg.WalBuilder(5)
    b.relation(oid, "stock", [(1, "id", 20, -1), (0, "qty", 23, -1)])
    b.begin()
    b.emit(e.encode_insert(oid, (("t", b"1"), ("t", b"7"))))
    b.commit()
    b.begin()
    b.emit(e.encode_insert(oid, (("t", b"2"), ("t", b"abc"))))
    b.commit()
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir)
    eng = ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    eng.bootstrap_table(
        "stock", spark.createDataFrame([(0, 5)], "id bigint, qty int"),
        ["id"], n_buckets=4)
    with pytest.raises(PermanentError) as ei:
        eng.replay_frames(frames_dir)
    msg = str(ei.value)
    last = frames.num_rows - 1
    assert "'stock'" in msg
    assert f"seq [0, {last}]" in msg
    assert f"LSN {b.commit_lsns[-1]}" in msg
    assert "applied LSN 0" in msg
    assert "id bigint, qty int" in msg
    assert "CAST_INVALID_INPUT" in msg and "'abc'" in msg
    t = eng.table("stock")
    assert t.applied_lsn() == 0
    assert [(r["id"], r["qty"]) for r in t.read(spark).collect()] == [(0, 5)]


def test_e2e_keepalive_frames(spark, tmp_path):
    """Heartbeat 'k' frames interleaved before/inside/between transactions
    plus a trailing run past the last commit (reference
    protocol.rs:1940-1965, stream.rs:1126-1142): final state identical to
    the data-only stream, nothing quarantined, max_seq covers the keepalive
    frames, and the fence advances to the last commit (not the trailing
    keepalive's wal_end, which outruns the WAL)."""
    base, b = wg.gen_keepalives()
    frames = b.to_table()
    # split mid-txn so a keepalive-holding batch boundary is exercised too
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames,
                     batch_frames=17)
    assert_matches_golden(spark, eng, {"repos": base}, frames)
    st = eng._load_state()
    assert sum(m.get("quarantined", 0) for m in st["metrics"]) == 0
    assert eng.table("repos").applied_lsn() == b.commit_lsns[-1]


def test_keepalive_roundtrip_and_decode_row():
    """encode->parse roundtrip and the decoded event row carries the
    PAYLOAD wal_end (server flush position), not the frame's."""
    from pg_walstream_spark.operators.decode import (
        DecodeContext, decode_batch,
    )
    from pg_walstream_spark.protocol import encoder as e
    from pg_walstream_spark.protocol.pyparser import PyWalParser

    body = e.encode_keepalive(0xDEAD_BEEF_00, 1234, reply_requested=True)
    m = PyWalParser(2).parse(body)
    assert m == {"event_type": "keepalive", "wal_end": 0xDEAD_BEEF_00,
                 "server_ts_us": 1234, "reply_requested": True}

    b = wg.WalBuilder()
    b.keepalive(wal_end=0x5000)
    tbl = decode_batch(b.to_table().to_batches()[0], DecodeContext())
    assert tbl.num_rows == 1
    row = tbl.to_pylist()[0]
    assert row["event_type"] == "keepalive"
    assert row["wal_end"] == 0x5000
    assert row["error"] is None


def test_quarantine_dead_letter_rows_persisted(spark, tmp_path):
    """Malformed frames are not just counted: the rejected rows (locator
    seq/lsn/xid + decode error) land under <warehouse>/quarantine/ for
    operator inspection, and the replayed state stays golden."""
    import glob

    base, b = wg.gen_malformed()
    frames = b.to_table()
    eng = run_engine(spark, str(tmp_path), {"repos": base}, frames)
    assert_matches_golden(spark, eng, {"repos": base}, frames)
    qdirs = glob.glob(os.path.join(str(tmp_path), "wh", "quarantine", "b*"))
    assert len(qdirs) >= 1
    rows = spark.read.parquet(*qdirs).collect()
    assert len(rows) == 3
    assert all(r["error"] for r in rows)
    assert all(r["seq"] is not None for r in rows)
    recs = eng._load_state()["metrics"]
    assert any("quarantine_dir" in m for m in recs)

    # a single-table batch that commits nothing (its one transaction is
    # prepared, then rolled back) still counts and persists its reject —
    # also after resolving the carried transaction clears the pending store
    from pg_walstream_spark.protocol import encoder as e

    b2 = wg.WalBuilder(7)
    b2.relation(wg.REPOS_OID, "repos", wg.REPOS_COLUMNS)
    xid, p = b2.alloc_xid(), b2.lsn
    b2.emit(e.encode_begin_prepare(p, p + 1, 0, xid, "gid-q"))
    b2.emit(e.encode_insert(wg.REPOS_OID, wg.row_tuple({
        "repo": "orgQ/rolled", "path": "q.py", "commit": "3" * 40,
        "lang": "python", "content": "rolled back"})))
    b2.emit(b"Z\x01\x02\x03")
    b2.emit(e.encode_prepare(p, b2.lsn + 30, 0, xid, "gid-q"))
    b2.emit(e.encode_rollback_prepared(p, b2.lsn + 20, 0, 0, xid, "gid-q"))
    frames2 = b2.to_table()
    tmp2 = os.path.join(str(tmp_path), "aborted")
    os.makedirs(tmp2)
    eng2 = run_engine(spark, tmp2, {"repos": base}, frames2, batch_frames=3)
    first, rec = eng2._load_state()["metrics"]
    assert (first["quarantined"], first["pending"]) == (0, 1)
    assert rec["quarantined"] == 1
    assert rec["pending"] == 0
    assert eng2._load_state()["pending"]["order"] == []
    rows2 = spark.read.parquet(rec["quarantine_dir"]).collect()
    assert [r["seq"] for r in rows2] == [3]
    assert_matches_golden(spark, eng2, {"repos": base}, frames2)

