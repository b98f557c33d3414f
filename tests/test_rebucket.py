"""Online bucket-count change (LakeTable.rebucket).

n_buckets is the unit of merge parallelism and of copy-on-write; rebucket
is the operator's way to change it online. The rewrite reads through the
CURRENT schema, so it also compacts away rename/column_since history:
later reads stop coalescing aliases and masking re-added columns.
"""

from __future__ import annotations

import glob
import os

import pytest

from pg_walstream_spark.lake.table import LakeTable
from pg_walstream_spark.operators.compact import dml_images

from merge_oracle import compact_changes
from test_merge_kernel import (
    DATA_COLS, KEY_COLS, _base_df, _events_df, _oracle_state, _state,
)

KT = {"k1": "string", "k2": "string"}


def _mk_table(spark, path, n_buckets=8, n_rows=120):
    t = LakeTable.create(spark, str(path), _base_df(spark, n_rows),
                         KEY_COLS, n_buckets=n_buckets)
    rows = [("update", 2000 + j, j, {"k1": str(j), "k2": "a" if j % 2 else "b"},
             {"k1": str(j), "k2": "a" if j % 2 else "b",
              "v_str": f"upd{j}", "v_num": str(j)}, None)
            for j in range(40)]
    images = dml_images(_events_df(spark, rows), KEY_COLS, DATA_COLS,
                        key_types=KT)
    t.merge_bucketed(spark, images, applied_lsn=2999, batch_id="seed")
    return t


def test_rebucket_up_and_down_preserves_state(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t", n_buckets=8)
    before = _state(spark, t)
    v0 = t._current_version()

    rec = t.rebucket(spark, 32, reason="growth")
    assert rec["from"] == 8 and rec["to"] == 32
    assert rec["rows"] == len(before)
    snap = t.snapshot()
    assert snap["n_buckets"] == 32
    assert t._current_version() == v0 + 1
    # every file group keys a bucket id < 32, and per-bucket reads
    # partition the table (pruned reads stay correct at the new count)
    bids = sorted(int(b) for b in snap["files"])
    assert bids and all(0 <= b < 32 for b in bids)
    assert _state(spark, t) == before
    n_pruned = sum(t.read(spark, buckets=[b]).count() for b in bids)
    assert n_pruned == len(before)

    rec2 = t.rebucket(spark, 4)
    assert rec2["to"] == 4 and rec2["rows"] == len(before)
    assert t.snapshot()["n_buckets"] == 4
    assert _state(spark, t) == before
    # lineage carries both events
    events = [r.get("event") for r in t.snapshot()["lineage"]]
    assert events.count("rebucket") == 2


def test_rebucket_same_count_is_skipped_without_history(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t", n_buckets=8)
    v0 = t._current_version()
    rec = t.rebucket(spark, 8)
    assert rec["skipped"] is True
    assert t._current_version() == v0


def test_rebucket_preserves_fence_and_merges_continue(spark, tmp_path):
    """applied_lsn carries over: a replayed (duplicate) batch is still
    fenced off after the rebucket, and the next batch merges normally on
    the new bucket layout, landing the declarative oracle's state."""
    t = _mk_table(spark, tmp_path / "t", n_buckets=8)
    assert t.applied_lsn() == 2999
    t.rebucket(spark, 16)
    assert t.applied_lsn() == 2999

    dup = dml_images(_events_df(spark, [
        ("update", 2500, 1, {"k1": "1", "k2": "a"},
         {"k1": "1", "k2": "a", "v_str": "stale", "v_num": "0"}, None)]),
        KEY_COLS, DATA_COLS, key_types=KT)
    rec = t.merge_bucketed(spark, dup, applied_lsn=2500, batch_id="dup")
    assert rec.get("skipped") is True

    rows = [("insert", 4000 + j, j, None,
             {"k1": f"n{j}", "k2": "z", "v_str": "new", "v_num": str(j)},
             None) for j in range(12)]
    ev = _events_df(spark, rows)
    want, _ = _oracle_state(
        t.read(spark), compact_changes(ev, KEY_COLS, DATA_COLS, key_types=KT))
    t.merge_bucketed(spark, dml_images(ev, KEY_COLS, DATA_COLS,
                                       key_types=KT),
                     applied_lsn=4999, batch_id="post-k")
    got = _state(spark, t)
    assert got == want
    assert sum(1 for r in got if r[1] == "z") == 12


def test_rebucket_clears_history_and_reenables_kernel(spark, tmp_path):
    """A renamed column makes every read coalesce the alias chain (the
    kernel merge included). Rebucketing at the SAME count is a
    history-compaction rewrite: files re-carry the live schema, aliases
    clear, values identical, and the kernel merge still applies."""
    t = _mk_table(spark, tmp_path / "t", n_buckets=8)
    before = _state(spark, t)
    t.rename_column("v_str", "v_text")

    rec = t.rebucket(spark, 8)
    assert rec.get("skipped") is None and rec["history_cleared"] is True
    snap = t.snapshot()
    assert not snap.get("aliases") and not snap.get("column_since")
    assert [n for n, _ in snap["schema"]] == ["k1", "k2", "v_text", "v_num"]
    assert _state(spark, t) == before  # values identical under the new name
    ev = _events_df(spark, [("update", 4000, 1, {"k1": "1", "k2": "a"},
                             {"k1": "1", "k2": "a", "v_num": "5"},
                             ["v_text"])])
    rk = t.merge_bucketed(spark, dml_images(
        ev, KEY_COLS, [("v_text", "string"), ("v_num", "bigint")],
        key_types=KT), applied_lsn=4999)
    assert rk["merge_kernel"] is True
    row = [r for r in _state(spark, t) if r[:2] == ("1", "a")]
    assert row == [("1", "a", "upd1", 5)]


def test_rebucket_row_conservation_guard(spark, tmp_path, monkeypatch):
    """A read path that loses rows must abort the rewrite: footer-stats
    row count is the independent anchor. CURRENT and the table state stay
    untouched and the abandoned files are discarded."""
    t = _mk_table(spark, tmp_path / "t", n_buckets=8)
    before = _state(spark, t)
    v0 = t._current_version()
    real_read = LakeTable.read

    def lossy_read(self, spark_, buckets=None):
        return real_read(self, spark_, buckets=buckets).limit(
            len(before) - 1)

    monkeypatch.setattr(LakeTable, "read", lossy_read)
    with pytest.raises(RuntimeError, match="row-conservation"):
        t.rebucket(spark, 16)
    monkeypatch.setattr(LakeTable, "read", real_read)
    assert t._current_version() == v0
    assert t.snapshot()["n_buckets"] == 8
    assert _state(spark, t) == before
    assert not glob.glob(os.path.join(t.data_dir, f"s{v0 + 1}-*"))


def test_rebucket_empty_table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"),
                         _base_df(spark, 0), KEY_COLS, n_buckets=8)
    rec = t.rebucket(spark, 32)
    assert rec["rows"] == 0 and t.snapshot()["n_buckets"] == 32
    assert t.read(spark).count() == 0


def test_rebucket_then_expire_drops_old_layout(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t", n_buckets=8)
    before = _state(spark, t)
    t.rebucket(spark, 16)
    stats = t.expire_snapshots(keep_last=1)
    assert stats["files_deleted"] > 0
    assert _state(spark, t) == before


def test_rebucket_cli_verb(spark, tmp_path):
    from pg_walstream_spark.cli import main as cli_main

    root = tmp_path / "wh" / "tables" / "repos"
    os.makedirs(root.parent, exist_ok=True)
    t = _mk_table(spark, root, n_buckets=8)
    before = _state(spark, t)
    rc = cli_main(["rebucket", "--warehouse", str(tmp_path / "wh"),
                   "--table", "repos", "--buckets", "32"])
    assert rc == 0
    assert t.snapshot()["n_buckets"] == 32
    assert _state(spark, t) == before
    assert cli_main(["rebucket", "--warehouse", str(tmp_path / "wh"),
                     "--table", "nope", "--buckets", "4"]) == 1
