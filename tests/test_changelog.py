"""Change-data-feed (changelog) + time travel.

The lake is the engine's MERGE target; the changelog makes it a CDC
*source* for downstream consumers (Delta CDF / Iceberg changelog-scan
analog — and the lake-side counterpart of the reference's typed event
delivery to consumers, /root/reference/src/stream.rs delivery loop).
Contract under test:

- every MERGE (``merge`` of a compacted change set AND ``merge_bucketed``
  of images; both run the Arrow kernel) with the table property
  ``changelog`` persists its compacted change records: key+data columns,
  ``_op``, ``_toast`` carry-forward names, ``_commit_version``/``_commit_lsn``;
- ``read_changes(since, until]`` returns exactly those records;
- applying the feed in version order onto a copy of the table at the
  starting version via ``merge`` reproduces the table EXACTLY (the
  replica-apply differential — the strongest statement of the contract);
- retention equals snapshot retention (expiry deletes expired commits'
  changelog, reading past the horizon raises);
- ``read(version=)`` time travel serves the bootstrap side of the feed.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from pg_walstream_spark.lake.table import LakeTable
from pg_walstream_spark.operators.compact import dml_images

from merge_oracle import compact_changes, oracle_feed
from test_merge_kernel import (
    DATA_COLS, KEY_COLS, _base_df, _events_df, _oracle_state,
    _rand_workload, _state,
)

KT = {"k1": "string", "k2": "string"}
PROPS = {"changelog": True}


def _mk(spark, path, n_rows=40, n_buckets=8):
    return LakeTable.create(spark, str(path), _base_df(spark, n_rows),
                            KEY_COLS, n_buckets=n_buckets, properties=PROPS)


def _norm_rows(rows):
    return sorted(
        (r["k1"], r["k2"], r["v_str"], r["v_num"], r["_op"],
         tuple(sorted(r["_toast"] or [])),
         r["_commit_version"], r["_commit_lsn"])
        for r in rows
    )


def _norm_feed(spark, t, **kw):
    return _norm_rows(t.read_changes(spark, **kw).collect())


def test_declarative_merge_emits_feed(spark, tmp_path):
    """``merge`` of a compacted change set persists its records."""
    t = _mk(spark, tmp_path / "t")
    rows = [
        ("insert", 100, 1, None,
         {"k1": "900", "k2": "a", "v_str": "x", "v_num": "1"}, None),
        ("update", 100, 2, {"k1": "0", "k2": "b"},
         {"k1": "0", "k2": "b", "v_str": "y", "v_num": "2"}, None),
        ("delete", 100, 3, {"k1": "1", "k2": "a"}, None, None),
    ]
    changes = compact_changes(_events_df(spark, rows), KEY_COLS, DATA_COLS,
                              key_types=KT)
    t.merge(spark, changes, applied_lsn=100, batch_id="b1")
    feed = t.read_changes(spark).collect()
    assert {(r["k1"], r["k2"], r["_op"]) for r in feed} == {
        ("900", "a", "upsert"), ("0", "b", "upsert"), ("1", "a", "delete")}
    assert all(r["_commit_version"] == 2 and r["_commit_lsn"] == 100
               for r in feed)
    assert t.snapshot()["changelog_files"]
    # version-bounded reads
    assert t.read_changes(spark, since_version=2).count() == 0
    assert t.read_changes(spark, since_version=0, until_version=1).count() == 0


def test_kernel_feed_matches_declarative(spark, tmp_path):
    """The kernel's feed is the declarative oracle's compacted change set,
    stamped with the commit's version and lsn."""
    rows = _rand_workload(7)
    tk = _mk(spark, tmp_path / "k", n_rows=80)
    ev = _events_df(spark, rows)
    changes = compact_changes(ev, KEY_COLS, DATA_COLS, key_types=KT)
    want, _ = _oracle_state(tk.read(spark), changes)
    want_feed = _norm_rows(oracle_feed(
        changes, KEY_COLS, [c for c, _ in DATA_COLS], 2, 10_000).collect())
    rk = tk.merge_bucketed(spark, dml_images(ev, KEY_COLS, DATA_COLS,
                                             key_types=KT),
                           applied_lsn=10_000, batch_id="b0")
    assert rk["merge_kernel"] is True
    assert _norm_feed(spark, tk) == want_feed
    assert _state(spark, tk) == want


def test_merge_applies_feed_through_kernel(spark, tmp_path):
    """``merge`` (the replica-apply step) runs the merge kernel on a
    compacted change set and lands the declarative oracle's state: TOAST
    carry on an existing key and on a new key, the old-key delete of a
    key-changing update, a quarantined null-key row; buckets the change
    set does not touch keep their files. Then ``truncate_first``."""
    t = LakeTable.create(spark, str(tmp_path / "t"), _base_df(spark, 200),
                         KEY_COLS, n_buckets=16)
    before = t.snapshot()["files"]
    changes = spark.createDataFrame([
        ("1", "a", None, 111, "upsert", ["v_str"]),   # carry base1
        ("900", "a", None, 5, "upsert", ["v_str"]),   # new key: null
        ("3", "a", None, None, "delete", []),         # old key of ...
        ("903", "a", "moved", 33, "upsert", []),      # ... its new key
        (None, "b", "ghost", 0, "upsert", []),        # quarantined
    ], "k1 string, k2 string, v_str string, v_num bigint, _op string, "
       "_toast array<string>")
    want, counts = _oracle_state(t.read(spark), changes)
    rec = t.merge(spark, changes, applied_lsn=100, batch_id="feed")
    assert rec["merge_kernel"] is True
    assert rec["null_key_quarantined"] == counts["null_key_quarantined"] == 1
    assert (rec["upserts"], rec["deletes"]) == (3, 1)
    got = _state(spark, t)
    assert got == want
    by_key = {r[:2]: r[2:] for r in got}
    assert by_key[("1", "a")] == ("base1", 111)
    assert by_key[("900", "a")] == (None, 5)
    assert ("3", "a") not in by_key and by_key[("903", "a")] == ("moved", 33)
    after = t.snapshot()["files"]
    touched = {str(b) for b in rec["buckets_rewritten"]}
    assert 0 < len(touched) < 16
    assert all(after[b] == fl for b, fl in before.items() if b not in touched)

    want, _ = _oracle_state(t.read(spark), changes, truncate_first=True)
    rec = t.merge(spark, changes, applied_lsn=200, truncate_first=True)
    assert rec["merge_kernel"] is True and rec["truncated"] is True
    assert rec["target_rows"] == 0
    assert _state(spark, t) == want and len(want) == 3


def test_feed_replay_reproduces_table(spark, tmp_path):
    """The replica-apply differential: table at v1 + feed == table at vN,
    across alternating ``merge`` (compacted change set) and
    ``merge_bucketed`` (images) commits."""
    t = _mk(spark, tmp_path / "src", n_rows=60)
    rng = random.Random(3)
    seq = 0

    def batch(lsn, n):
        nonlocal seq
        rows = []
        for _ in range(n):
            seq += 1
            k1, k2 = str(rng.randrange(40)), rng.choice(["a", "b"])
            op = rng.choice(["insert", "update", "update", "delete"])
            new = {"k1": k1, "k2": k2, "v_str": f"s{rng.randrange(100)}",
                   "v_num": str(rng.randrange(1000))}
            rows.append((op, lsn, seq,
                         None if op == "insert" else {"k1": k1, "k2": k2},
                         None if op == "delete" else new, None))
        return rows

    for i, lsn in enumerate((100, 200, 300)):
        ev = _events_df(spark, batch(lsn, 80))
        if i % 2 == 0:
            t.merge(spark, compact_changes(ev, KEY_COLS, DATA_COLS,
                                           key_types=KT),
                    applied_lsn=lsn, batch_id=f"b{i}")
        else:
            t.merge_bucketed(spark, dml_images(ev, KEY_COLS, DATA_COLS,
                                               key_types=KT),
                             applied_lsn=lsn, batch_id=f"b{i}")

    rep = LakeTable.create(spark, str(tmp_path / "rep"),
                           t.read(spark, version=1), KEY_COLS, n_buckets=4)
    for snap in t.history():
        if not snap.get("changelog_files"):
            continue
        v = snap["version"]
        ch = t.read_changes(spark, since_version=v - 1, until_version=v)
        rep.merge(spark, ch.drop("_commit_version", "_commit_lsn"),
                  applied_lsn=int(snap["properties"]["applied_lsn"]),
                  batch_id=f"replay-{v}")
    assert _state(spark, rep) == _state(spark, t)


def test_time_travel_read(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_rows=30)
    v1 = _state(spark, t)
    ev = _events_df(spark, [
        ("update", 50, 1, {"k1": "0", "k2": "b"},
         {"k1": "0", "k2": "b", "v_str": "changed", "v_num": "7"}, None)])
    t.merge(spark, compact_changes(ev, KEY_COLS, DATA_COLS, key_types=KT),
            applied_lsn=50, batch_id="b")
    assert _state(spark, t) != v1
    assert sorted(tuple(r) for r in
                  t.read(spark, version=1).collect()) == v1
    with pytest.raises(FileNotFoundError):
        t.snapshot_at(99)


def test_feed_skips_metadata_commits_and_unions_schema(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_rows=20)
    ev1 = _events_df(spark, [
        ("update", 50, 1, {"k1": "0", "k2": "b"},
         {"k1": "0", "k2": "b", "v_str": "u1", "v_num": "1"}, None)])
    t.merge(spark, compact_changes(ev1, KEY_COLS, DATA_COLS, key_types=KT),
            applied_lsn=50, batch_id="b1")
    t.add_columns([("v_new", "string")], lsn=55)  # metadata-only commit
    ev2 = _events_df(spark, [
        ("update", 60, 2, {"k1": "1", "k2": "a"},
         {"k1": "1", "k2": "a", "v_str": "u2", "v_num": "2",
          "v_new": "n2"}, None)])
    t.merge(spark, compact_changes(
        ev2, KEY_COLS, DATA_COLS + [("v_new", "string")], key_types=KT),
        applied_lsn=60, batch_id="b2")
    feed = t.read_changes(spark).collect()
    assert {r["_commit_version"] for r in feed} == {2, 4}
    by_v = {r["_commit_version"]: r for r in feed}
    assert by_v[2]["v_new"] is None  # pre-schema-change commit unions null
    assert by_v[4]["v_new"] == "n2"
    # the DDL commit re-attributed nothing
    assert not t.snapshot_at(3).get("changelog_files")


def test_changelog_expiry_and_horizon(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_rows=20)
    for i, lsn in enumerate((10, 20, 30)):
        ev = _events_df(spark, [
            ("update", lsn, i, {"k1": str(i), "k2": "a" if i % 2 else "b"},
             {"k1": str(i), "k2": "a" if i % 2 else "b",
              "v_str": f"u{i}", "v_num": str(i)}, None)])
        t.merge(spark, compact_changes(ev, KEY_COLS, DATA_COLS,
                                       key_types=KT),
                applied_lsn=lsn, batch_id=f"b{i}")
    res = t.expire_snapshots(keep_last=2)
    assert res["changelog_files_deleted"] >= 1
    with pytest.raises(ValueError, match="expiry horizon"):
        t.read_changes(spark, since_version=0).count()
    cur = t.snapshot()["version"]
    kept = t.read_changes(spark, since_version=cur - 2).collect()
    assert {r["_commit_version"] for r in kept} == {cur - 1, cur}


def test_read_changes_requires_property(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), _base_df(spark, 10),
                         KEY_COLS, n_buckets=4)
    with pytest.raises(ValueError, match="changelog not enabled"):
        t.read_changes(spark)
    # and merges on it emit nothing
    ev = _events_df(spark, [
        ("delete", 5, 1, {"k1": "0", "k2": "b"}, None, None)])
    t.merge(spark, compact_changes(ev, KEY_COLS, DATA_COLS, key_types=KT),
            applied_lsn=5, batch_id="b")
    assert "changelog_files" not in t.snapshot()
    assert not os.path.exists(t.changelog_dir)


def test_engine_changelog_e2e_and_golden(spark, tmp_path, monkeypatch):
    """WALSTREAM_CHANGELOG=1: the engine's replay (fast path eligible)
    emits the feed; replaying the feed onto the bootstrap base reproduces
    the golden final state."""
    import pg_walstream_spark.engine as E
    from pg_walstream_spark.fixtures import wal_gen as wg
    from pg_walstream_spark.golden import golden_final_state

    monkeypatch.setenv("WALSTREAM_CHANGELOG", "1")
    base, b = wg.gen_basic(n_base=60, n_txns=10, ops_per_txn=8, seed=5)
    frames = b.to_table()
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, fd, rows_per_file=500_000)
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)

    eng = E.ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)
    eng.replay_frames(fd)

    t = eng.table("repos")
    assert t.snapshot()["properties"].get("changelog") is True
    rep = LakeTable.create(spark, os.path.join(str(tmp_path), "rep"),
                           spark.read.parquet(bp), ["repo", "path"], 8)
    for snap in t.history():
        if not snap.get("changelog_files"):
            continue
        v = snap["version"]
        ch = t.read_changes(spark, since_version=v - 1, until_version=v)
        rep.merge(spark, ch.drop("_commit_version", "_commit_lsn"),
                  applied_lsn=int(snap["properties"]["applied_lsn"]),
                  batch_id=f"replay-{v}")
    grows, glsn = golden_final_state({"repos": base}, frames, "repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in rep.read(spark).collect())
    assert got == sorted((r["repo"], r["path"], r["content"])
                         for r in grows)
    assert t.applied_lsn() == glsn


def test_control_row_cap_guard(spark, tmp_path, monkeypatch):
    """Driver-memory guard (VERDICT r6 note): a batch with more control
    frames than WALSTREAM_CONTROL_MAX_ROWS refuses loudly instead of
    pulling millions of boundary rows through the driver."""
    import pg_walstream_spark.engine as E
    from pg_walstream_spark.fixtures import wal_gen as wg

    monkeypatch.setenv("WALSTREAM_CONTROL_MAX_ROWS", "3")
    base, b = wg.gen_basic(n_base=20, n_txns=6, ops_per_txn=4, seed=2)
    frames = b.to_table()
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, fd, rows_per_file=500_000)
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)

    eng = E.ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)
    with pytest.raises(RuntimeError, match="WALSTREAM_CONTROL_MAX_ROWS"):
        eng.replay_frames(fd)


def test_changes_cli_verb(spark, tmp_path, capsys):
    """`changes` CLI: per-commit summary and parquet export of the feed."""
    import json

    from pg_walstream_spark.cli import main as cli_main

    root = tmp_path / "wh" / "tables" / "t1"
    os.makedirs(root.parent, exist_ok=True)
    t = _mk(spark, root, n_rows=20)
    for i, lsn in enumerate((10, 20)):
        ev = _events_df(spark, [
            ("update", lsn, i, {"k1": str(i), "k2": "a" if i % 2 else "b"},
             {"k1": str(i), "k2": "a" if i % 2 else "b",
              "v_str": f"u{i}", "v_num": str(i)}, None)])
        t.merge(spark, compact_changes(ev, KEY_COLS, DATA_COLS,
                                       key_types=KT),
                applied_lsn=lsn, batch_id=f"b{i}")
    rc = cli_main(["changes", "--warehouse", str(tmp_path / "wh"),
                   "--table", "t1"])
    assert rc == 0
    lines = [json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines()]
    assert [(r["_commit_version"], r["rows"]) for r in lines] == [
        (2, 1), (3, 1)]
    out_dir = str(tmp_path / "feed_out")
    rc = cli_main(["changes", "--warehouse", str(tmp_path / "wh"),
                   "--table", "t1", "--since", "2", "--out", out_dir])
    assert rc == 0
    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 1 and got[0]["_commit_version"] == 3
    assert cli_main(["changes", "--warehouse", str(tmp_path / "wh"),
                     "--table", "nope"]) == 1


def test_resolve_toast_unit_semantics(spark):
    """Carry picks the last AUTHORITATIVE image; explicit nulls are
    preserved (not skipped over); deletes never contribute; base seeds
    keys whose first feed row is already toast-marked."""
    from pg_walstream_spark.operators.feed import resolve_toast

    feed = spark.createDataFrame(
        [
            # k=a: base has v="b0"; first feed row toast -> carries b0;
            # then explicit null; then toast -> carries the NULL, not b0
            ("a", None, "upsert", ["v"], 10),
            ("a", None, "upsert", [], 20),      # authoritative null
            ("a", None, "upsert", ["v"], 30),   # carries the null
            # k=b: delete between images must not contribute
            ("b", "x1", "upsert", [], 10),
            ("b", None, "delete", [], 20),
            ("b", None, "upsert", ["v"], 30),   # carries x1 (not delete's null)
        ],
        "k string, v string, _op string, _toast array<string>, "
        "_commit_lsn bigint",
    )
    base = spark.createDataFrame([("a", "b0")], "k string, v string")
    got = {
        (r["k"], r["_commit_lsn"]): (r["v"], list(r["_toast"]))
        for r in resolve_toast(feed, ["k"], ["v"], base=base).collect()
    }
    assert got[("a", 10)] == ("b0", [])
    assert got[("a", 20)] == (None, [])
    assert got[("a", 30)] == (None, [])
    assert got[("b", 30)] == ("x1", [])
    assert got[("b", 20)][1] == []  # delete passes through, toast emptied


def test_resolve_toast_feed_applies_golden(spark, tmp_path, monkeypatch):
    """gen_toast replay (unchanged-TOAST 'u' markers) with the feed on:
    resolving the feed against the version-1 base yields complete images —
    applying the RESOLVED feed (no _toast left) to a fresh copy reproduces
    the golden state, and SCD2 over it ends at the final table image."""
    import pg_walstream_spark.engine as E
    from pg_walstream_spark.fixtures import wal_gen as wg
    from pg_walstream_spark.golden import golden_final_state
    from pg_walstream_spark.operators.feed import resolve_toast
    from pg_walstream_spark.operators.scd2 import scd2_from_feed

    monkeypatch.setenv("WALSTREAM_CHANGELOG", "1")
    base, b = wg.gen_toast(n_base=40, n_txns=6, seed=17)
    frames = b.to_table()
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, fd, rows_per_file=500_000)
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng = E.ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 4)
    eng.replay_frames(fd)
    t = eng.table("repos")

    raw = t.read_changes(spark)
    assert raw.filter(F.size("_toast") > 0).count() > 0  # fixture bites
    resolved = resolve_toast(raw, ["repo", "path"],
                             ["commit", "lang", "content"],
                             base=t.read(spark, version=1))
    assert resolved.filter(F.size("_toast") > 0).count() == 0
    assert resolved.filter(
        (F.col("_op") == "upsert") & F.col("content").isNull()).count() == 0

    rep = LakeTable.create(spark, os.path.join(str(tmp_path), "rep"),
                           spark.read.parquet(bp), ["repo", "path"], 4)
    for v in sorted({r["_commit_version"]
                     for r in resolved.select("_commit_version").collect()}):
        ch = resolved.filter(F.col("_commit_version") == v)
        lsn = int(t.snapshot_at(int(v))["properties"]["applied_lsn"])
        rep.merge(spark, ch.drop("_commit_version", "_commit_lsn"),
                  applied_lsn=lsn, batch_id=f"r{v}")
    grows, _ = golden_final_state({"repos": base}, frames, "repos")
    got = sorted((r["repo"], r["path"], r["commit"], r["content"])
                 for r in rep.read(spark).collect())
    assert got == sorted((r["repo"], r["path"], r["commit"], r["content"])
                         for r in grows)

    current = {(r["repo"], r["path"]): (r["commit"], r["content"])
               for r in scd2_from_feed(
                   resolved, ["repo", "path"], ["commit", "content"]
               ).collect() if r["is_current"]}
    final = {(r["repo"], r["path"]): (r["commit"], r["content"])
             for r in t.read(spark).collect()}
    for k, v in current.items():
        assert final[k] == v


def test_streaming_chunked_feed_replay_matches_golden(spark, tmp_path,
                                                      monkeypatch):
    """Structured-Streaming path with the feed on and a 1-file bytes cap
    (every trigger chunked; chunk boundaries cut transactions — pending
    carry): the accumulated changelog across ALL chunked commits must
    replay onto the bootstrap base to the exact golden state."""
    from pg_walstream_spark.engine import ReplayEngine
    from pg_walstream_spark.fixtures import wal_gen as wg
    from pg_walstream_spark.golden import golden_final_state
    from pg_walstream_spark.streaming import start_stream

    monkeypatch.setenv("WALSTREAM_CHANGELOG", "1")
    base, b = wg.gen_mixed_dml(n_base=40, n_txns=6, ops_per_txn=5)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=20)
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    bp = os.path.join(str(tmp_path), "repos.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)

    q = start_stream(
        spark, frames_dir, wh,
        checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
        max_files_per_trigger=4,
        max_bytes_per_batch=1,  # below any file size: one file per chunk
    )
    q.awaitTermination(300)

    t = eng.table("repos")
    # many chunked commits, each with its own feed slice
    feed_versions = [s["version"] for s in t.history()
                     if s.get("changelog_files")]
    assert len(feed_versions) > 1
    rep = LakeTable.create(spark, os.path.join(str(tmp_path), "rep"),
                           spark.read.parquet(bp), ["repo", "path"], 4)
    for v in feed_versions:
        ch = t.read_changes(spark, since_version=v - 1, until_version=v)
        rep.merge(spark, ch.drop("_commit_version", "_commit_lsn"),
                  applied_lsn=int(
                      t.snapshot_at(v)["properties"]["applied_lsn"]),
                  batch_id=f"r{v}")
    grows, _ = golden_final_state({"repos": base}, frames, "repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in rep.read(spark).collect())
    assert got == sorted((r["repo"], r["path"], r["content"])
                         for r in grows)


def test_diff_versions_apply_reproduces_target(spark, tmp_path):
    """diff_versions (data-computed, no changelog needed): applying the
    diff onto a copy at from_version reproduces to_version — inserts,
    updates, deletes, AND a schema change between the versions."""
    t = LakeTable.create(spark, str(tmp_path / "t"), _base_df(spark, 50),
                         KEY_COLS, n_buckets=8)  # changelog NOT enabled
    rng = random.Random(5)
    seq = 0

    def batch(lsn, n):
        nonlocal seq
        rows = []
        for _ in range(n):
            seq += 1
            k1, k2 = str(rng.randrange(30)), rng.choice(["a", "b"])
            op = rng.choice(["insert", "update", "delete"])
            new = {"k1": k1, "k2": k2, "v_str": f"s{rng.randrange(50)}",
                   "v_num": str(rng.randrange(100))}
            rows.append((op, lsn, seq,
                         None if op == "insert" else {"k1": k1, "k2": k2},
                         None if op == "delete" else new, None))
        return rows

    t.merge(spark, compact_changes(_events_df(spark, batch(100, 60)),
                                   KEY_COLS, DATA_COLS, key_types=KT),
            applied_lsn=100, batch_id="b0")
    t.add_columns([("v_extra", "string")], lsn=150)
    t.merge(spark, compact_changes(
        _events_df(spark, batch(200, 60)), KEY_COLS,
        DATA_COLS + [("v_extra", "string")], key_types=KT),
        applied_lsn=200, batch_id="b1")

    diff = t.diff_versions(spark, from_version=1)
    ops = {r["_op"] for r in diff.collect()}
    assert "upsert" in ops and "delete" in ops  # workload produced both
    rep = LakeTable.create(spark, str(tmp_path / "rep"),
                           t.read(spark, version=1), KEY_COLS, n_buckets=4)
    rep.add_columns([("v_extra", "string")])
    rep.merge(spark, diff, applied_lsn=999, batch_id="apply-diff")
    assert _state(spark, rep) == _state(spark, t)
    # identical snapshots diff to nothing
    cur = t.snapshot()["version"]
    assert t.diff_versions(spark, cur, cur).count() == 0


def test_feed_replay_across_rename(spark, tmp_path):
    """A RENAME between feed commits: each commit's records use the schema
    AS OF that commit; a replica that mirrors the DDL at the version
    boundary (from the source lineage) replays to the exact state."""
    t = _mk(spark, tmp_path / "t", n_rows=20)
    ev1 = _events_df(spark, [
        ("update", 50, 1, {"k1": "0", "k2": "b"},
         {"k1": "0", "k2": "b", "v_str": "u1", "v_num": "1"}, None)])
    t.merge(spark, compact_changes(ev1, KEY_COLS, DATA_COLS, key_types=KT),
            applied_lsn=50, batch_id="b1")
    t.rename_column("v_str", "v_text", lsn=55)
    renamed_cols = [("v_text", "string"), ("v_num", "bigint")]
    ev2 = _events_df(spark, [
        ("update", 60, 2, {"k1": "1", "k2": "a"},
         {"k1": "1", "k2": "a", "v_text": "u2", "v_num": "2"}, None)])
    t.merge(spark, compact_changes(
        ev2, KEY_COLS, renamed_cols, key_types=KT,
        aliases=t.snapshot().get("aliases")),
        applied_lsn=60, batch_id="b2")

    rep = LakeTable.create(spark, str(tmp_path / "rep"),
                           t.read(spark, version=1), KEY_COLS, n_buckets=4)
    for snap in t.history():
        v = snap["version"]
        # mirror DDL commits from the lineage (the consumer recipe)
        last = snap["lineage"][-1] if snap.get("lineage") else {}
        if last.get("event") == "rename_column" and v > 1:
            rep.rename_column(last["from"], last["to"])
            continue
        if not snap.get("changelog_files"):
            continue
        ch = t.read_changes(spark, since_version=v - 1, until_version=v)
        # each commit's schema AS OF that commit: select only the columns
        # the replica knows at this point (pre-rename commits carry the
        # old name, post-rename the new)
        rep_cols = {n for n, _ in rep.snapshot()["schema"]}
        keep = [c for c in ch.columns
                if c in rep_cols or c in ("_op", "_toast")]
        rep.merge(spark, ch.select(*keep),
                  applied_lsn=int(snap["properties"]["applied_lsn"]),
                  batch_id=f"r{v}")
    assert _state(spark, rep) == _state(spark, t)


def test_history_cli_verb(spark, tmp_path, capsys):
    import json

    from pg_walstream_spark.cli import main as cli_main

    root = tmp_path / "wh" / "tables" / "t1"
    os.makedirs(root.parent, exist_ok=True)
    t = _mk(spark, root, n_rows=10)
    ev = _events_df(spark, [
        ("update", 10, 1, {"k1": "0", "k2": "b"},
         {"k1": "0", "k2": "b", "v_str": "u", "v_num": "1"}, None)])
    t.merge(spark, compact_changes(ev, KEY_COLS, DATA_COLS, key_types=KT),
            applied_lsn=10, batch_id="b0")
    assert cli_main(["history", "--warehouse", str(tmp_path / "wh"),
                     "--table", "t1"]) == 0
    lines = [json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines()]
    assert [r["version"] for r in lines] == [1, 2]
    assert lines[1]["upserts"] == 1 and lines[1]["changelog"] is True
    assert cli_main(["history", "--warehouse", str(tmp_path / "wh"),
                     "--table", "nope"]) == 1
