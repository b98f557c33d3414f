"""Differential tests: the bucket-co-located Arrow merge kernel
(lake/merge_kernel.py) must produce the lake state the declarative oracle
(tests/merge_oracle.py: compact_last_image + full-outer join) derives from
the same inputs."""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pg_walstream_spark.lake.table import LakeTable
from pg_walstream_spark.operators.compact import dml_images

from merge_oracle import compact_changes, merge_oracle, oracle_feed

KEY_COLS = ["k1", "k2"]
DATA_COLS = [("v_str", "string"), ("v_num", "bigint")]


def _events_df(spark, rows):
    """Build a committed-DML events DataFrame (the post-decode fast-path
    shape) from (op, commit_lsn, seq, old, new, toast) tuples where
    old/new are dicts of wire-text values."""
    data = []
    for op, clsn, seq, old, new, toast in rows:
        data.append((seq, op, old, new, toast, "committed", clsn))
    return spark.createDataFrame(
        data,
        "seq bigint, event_type string, old_data map<string,string>, "
        "new_data map<string,string>, new_toast array<string>, "
        "txn_status string, commit_lsn bigint",
    )


def _rand_workload(seed, n_ops=400, n_keys=60):
    rng = random.Random(seed)
    rows = []
    seq = 0
    for i in range(n_ops):
        seq += 1
        k1 = str(rng.randrange(n_keys))
        k2 = rng.choice(["a", "b"])
        op = rng.choice(["insert", "update", "update", "delete"])
        new = {"k1": k1, "k2": k2, "v_str": f"s{rng.randrange(1000)}",
               "v_num": str(rng.randrange(10**6))}
        old = None
        toast = None
        if op == "update":
            old = {"k1": k1, "k2": k2}
            if rng.random() < 0.25:  # unchanged-TOAST column
                toast = ["v_str"]
                new = {k: v for k, v in new.items() if k != "v_str"}
            if rng.random() < 0.15:  # key-changing update
                new["k1"] = str(rng.randrange(n_keys))
        elif op == "delete":
            old = new
            new = None
        rows.append((op, 100 + i, seq, old, new, toast))
    return rows


def _base_df(spark, n=80):
    return spark.createDataFrame(
        [(str(i), "a" if i % 2 else "b", f"base{i}", i * 10)
         for i in range(n)],
        "k1 string, k2 string, v_str string, v_num bigint",
    )


def _state(spark, table: LakeTable):
    df = table.read(spark)
    return sorted(tuple(r) for r in df.collect())


def _oracle_state(target_df, changes, key_cols=KEY_COLS,
                  data_cols=DATA_COLS, truncate_first=False):
    """Sorted rows and counts of the declarative oracle's MERGE."""
    merged, counts = merge_oracle(target_df, changes, key_cols,
                                  [c for c, _ in data_cols], truncate_first)
    return sorted(tuple(r) for r in merged.collect()), counts


def _run_both(spark, tmp_path, rows, n_buckets=8, base_rows=80):
    """Merge ``rows`` through the kernel and through the oracle from the
    same base; returns (oracle counts, kernel record)."""
    tk = LakeTable.create(spark, str(tmp_path / "kernel"),
                          _base_df(spark, base_rows), KEY_COLS,
                          n_buckets=n_buckets)
    ev = _events_df(spark, rows)
    kt = {"k1": "string", "k2": "string"}
    want, rg = _oracle_state(
        tk.read(spark), compact_changes(ev, KEY_COLS, DATA_COLS, key_types=kt))
    images = dml_images(ev, KEY_COLS, DATA_COLS, key_types=kt)
    rk = tk.merge_bucketed(spark, images, applied_lsn=10_000,
                           batch_id="b0")
    assert _state(spark, tk) == want
    return rg, rk


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_kernel_matches_general_random_workload(spark, tmp_path, seed):
    rg, rk = _run_both(spark, tmp_path, _rand_workload(seed))
    assert rk["merge_kernel"] is True
    assert rk["upserts"] + rk["deletes"] > 0
    # the two paths count the same compacted change rows
    assert rk["upserts"] == rg["upserts"]
    assert rk["deletes"] == rg["deletes"]


def test_kernel_toast_carry_and_new_keys(spark, tmp_path):
    rows = [
        # toast carry on an existing key: v_str must keep base value
        ("update", 100, 1, {"k1": "1", "k2": "a"},
         {"k1": "1", "k2": "a", "v_num": "777"}, ["v_str"]),
        # brand-new key, toast column never materialized -> null
        ("insert", 101, 2, None,
         {"k1": "900", "k2": "a", "v_num": "5"}, ["v_str"]),
        # delete an existing key
        ("delete", 102, 3, {"k1": "2", "k2": "a"}, None, None),
        # delete an absent key (no-op)
        ("delete", 103, 4, {"k1": "901", "k2": "b"}, None, None),
    ]
    rg, rk = _run_both(spark, tmp_path, rows)
    assert rk["deletes"] == rg["deletes"] == 2


def test_kernel_null_key_quarantine_count(spark, tmp_path):
    rows = [
        ("insert", 100, 1, None, {"k1": "5", "k2": "a", "v_str": "x",
                                  "v_num": "1"}, None),
        # k2 missing -> null key column -> quarantined, not applied
        ("insert", 101, 2, None, {"k1": "6", "v_str": "y", "v_num": "2"},
         None),
    ]
    rg, rk = _run_both(spark, tmp_path, rows)
    assert rg["null_key_quarantined"] == 1
    assert rk["null_key_quarantined"] == 1


def test_kernel_key_change_delete_moves_row(spark, tmp_path):
    rows = [
        ("update", 100, 1, {"k1": "3", "k2": "a"},
         {"k1": "500", "k2": "a", "v_str": "moved", "v_num": "42"}, None),
    ]
    _run_both(spark, tmp_path, rows)


def test_kernel_late_added_column_reads_null(spark, tmp_path):
    base = _base_df(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), base, KEY_COLS,
                         n_buckets=4)
    t.add_columns([("v_new", "string")])
    rows = [("update", 100, 1, {"k1": "1", "k2": "a"},
             {"k1": "1", "k2": "a", "v_str": "u", "v_num": "1",
              "v_new": "fresh"}, None)]
    ev = _events_df(spark, rows)
    images = dml_images(
        ev, KEY_COLS, DATA_COLS + [("v_new", "string")],
        key_types={"k1": "string", "k2": "string"})
    t.merge_bucketed(spark, images, applied_lsn=10_000, batch_id="b0")
    got = {(r["k1"], r["k2"]): (r["v_new"], r["v_str"])
           for r in t.read(spark).collect()}
    assert got[("1", "a")] == ("fresh", "u")
    # untouched rows from pre-ADD files serve null for the new column
    assert got[("3", "a")][0] is None


def _diff_history(spark, tmp_path, prep, batches, data_cols, base=None,
                  truncate_first=False, n_buckets=8):
    """Differential over schema history: ``prep`` runs metadata operations
    on a table, then every batch of ``batches`` merges into it through the
    kernel and into the oracle's running state, which starts from the
    table's read through that history. Returns the kernel table, its last
    record and its state."""
    kt = {"k1": "string", "k2": "string"}
    base = base if base is not None else _base_df(spark)
    tk = LakeTable.create(spark, str(tmp_path / "kernel"), base, KEY_COLS,
                          n_buckets=n_buckets)
    prep(tk)
    al = tk.snapshot().get("aliases")
    want_df = tk.read(spark)
    for i, rows in enumerate(batches):
        ev = _events_df(spark, rows)
        merged, _ = merge_oracle(
            want_df, compact_changes(ev, KEY_COLS, data_cols, aliases=al,
                                     key_types=kt),
            KEY_COLS, [c for c, _ in data_cols], truncate_first)
        want = merged.collect()
        want_df = spark.createDataFrame(want, merged.schema)
        rk = tk.merge_bucketed(
            spark, dml_images(ev, KEY_COLS, data_cols, aliases=al,
                              key_types=kt),
            applied_lsn=10_000 * (i + 1), truncate_first=truncate_first)
        assert rk["merge_kernel"] is True
        got = _state(spark, tk)
        assert got == sorted(tuple(r) for r in want)
    return tk, rk, got


def test_kernel_rename_aliases_match_general(spark, tmp_path):
    """Files written before a rename hold the column under its old name:
    the kernel must coalesce the alias chain, also for a TOAST carry and
    for change rows still carrying the old name (decoded pre-rename)."""
    renamed = [("v_text", "string"), ("v_num", "bigint")]
    batch1 = [
        ("update", 100, 1, {"k1": "1", "k2": "a"},
         {"k1": "1", "k2": "a", "v_num": "11"}, ["v_text"]),
        ("update", 101, 2, {"k1": "3", "k2": "a"},
         {"k1": "3", "k2": "a", "v_str": "pre-rename", "v_num": "33"}, None),
        ("insert", 102, 3, None,
         {"k1": "900", "k2": "b", "v_text": "new", "v_num": "9"}, None),
    ]
    batch2 = _rand_workload(4, n_ops=120)
    for r in batch2:
        for img in (r[3], r[4]):
            if img and "v_str" in img:
                img["v_text"] = img.pop("v_str")
    tk, _, got = _diff_history(
        spark, tmp_path, lambda t: t.rename_column("v_str", "v_text"),
        [batch1, [(op, lsn, seq, old, new, ["v_text"] if toast else None)
                  for op, lsn, seq, old, new, toast in batch2]], renamed)
    assert tk.snapshot()["aliases"] == {"v_text": ["v_str"]}
    by_key = {(r[0], r[1]): r for r in got}
    touched = {(img["k1"], img.get("k2")) for r in batch1 + batch2
               for img in (r[3], r[4]) if img}
    untouched = [r for k, r in by_key.items() if k not in touched]
    assert untouched and all(r[2] == f"base{r[0]}" for r in untouched)


def test_kernel_rename_then_readd_old_name_match_general(spark, tmp_path):
    """RENAME v_str→v_text then ADD v_str: pre-rename files hold v_text's
    values under the physical name v_str, which the re-added column must
    NOT serve (column_since mask) while v_text still reads it as alias."""
    cols = [("v_text", "string"), ("v_num", "bigint"), ("v_str", "string")]

    def prep(t):
        t.rename_column("v_str", "v_text")
        t.add_columns([("v_str", "string")])

    rows = [
        ("update", 100, 1, {"k1": "1", "k2": "a"},
         {"k1": "1", "k2": "a", "v_num": "11", "v_str": "fresh"},
         ["v_text"]),
        ("update", 101, 2, {"k1": "3", "k2": "a"},
         {"k1": "3", "k2": "a", "v_text": "t3", "v_num": "33"}, ["v_str"]),
    ]
    tk, _, got = _diff_history(spark, tmp_path, prep, [rows], cols)
    assert tk.snapshot()["column_since"]
    by_key = {(r[0], r[1]): r for r in got}
    assert by_key[("1", "a")][2:] == ("base1", 11, "fresh")
    assert by_key[("3", "a")][2:] == ("t3", 33, None)
    assert all(r[4] is None for k, r in by_key.items() if k != ("1", "a"))


def test_kernel_drop_then_readd_masks_old_values(spark, tmp_path):
    """DROP v_str then ADD v_str: old files still hold the dropped
    column's values under the same name; the re-added column reads null
    from them (column_since, per file version) — including a TOAST carry,
    and untouched rows in rewritten buckets."""
    cols = [("v_num", "bigint"), ("v_str", "string")]

    def prep(t):
        t.drop_columns(["v_str"])
        t.add_columns([("v_str", "string")])

    rows = [
        ("update", 100, 1, {"k1": "1", "k2": "a"},
         {"k1": "1", "k2": "a", "v_num": "11", "v_str": "fresh"}, None),
        ("update", 101, 2, {"k1": "3", "k2": "a"},
         {"k1": "3", "k2": "a", "v_num": "33"}, ["v_str"]),
    ]
    for i in range(5, 40):  # TOAST carries from masked old files
        k = {"k1": str(i), "k2": "a" if i % 2 else "b"}
        rows.append(("update", 110 + i, 10 + i, k, {**k, "v_num": str(i)},
                     ["v_str"]))
    _, _, got = _diff_history(spark, tmp_path, prep, [rows], cols)
    assert {r[3] for r in got} == {None, "fresh"}


def test_kernel_widening_promotion_match_general(spark, tmp_path):
    """int → bigint promotion is metadata-only: pre-promotion files hold
    int32 and must up-cast next to values that only fit 64 bits."""
    base = spark.createDataFrame(
        [(str(i), "a" if i % 2 else "b", f"base{i}", i * 10)
         for i in range(60)],
        "k1 string, k2 string, v_str string, v_num int")
    rows = [("update", 100 + i, i + 1, {"k1": str(i), "k2": "a"},
             {"k1": str(i), "k2": "a", "v_str": f"u{i}",
              "v_num": str(2**40 + i)}, None) for i in range(1, 30, 2)]
    tk, _, got = _diff_history(
        spark, tmp_path, lambda t: t.promote_column("v_num", "bigint"),
        [rows], DATA_COLS, base=base)
    assert dict(tk.snapshot()["schema"])["v_num"] == "bigint"
    assert max(r[3] for r in got) == 2**40 + 29
    assert min(r[3] for r in got) == 0


def test_kernel_truncate_first_match_general(spark, tmp_path):
    """truncate_first: every bucket's target counts as empty; buckets
    without change rows drop out of the table."""
    rows = [("insert", 100 + i, i + 1, None,
             {"k1": f"t{i}", "k2": "a", "v_str": f"n{i}", "v_num": str(i)},
             None) for i in range(5)]
    rows.append(("delete", 200, 9, {"k1": "1", "k2": "a"}, None, None))
    tk, rk, got = _diff_history(spark, tmp_path, lambda t: None, [rows],
                                DATA_COLS, n_buckets=16, truncate_first=True)
    assert rk["truncated"] is True and rk["target_rows"] == 0
    assert sorted(r[0] for r in got) == [f"t{i}" for i in range(5)]
    files = tk.snapshot()["files"]
    assert 0 < len(files) < 16
    assert set(files) <= {str(b) for b in rk["buckets_rewritten"]}


def test_kernel_fence_skip(spark, tmp_path):
    base = _base_df(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), base, KEY_COLS,
                         n_buckets=4)
    ev = _events_df(spark, [("insert", 100, 1, None,
                             {"k1": "1", "k2": "a", "v_str": "x",
                              "v_num": "1"}, None)])
    images = dml_images(ev, KEY_COLS, DATA_COLS,
                        key_types={"k1": "string", "k2": "string"})
    rec = t.merge_bucketed(spark, images, applied_lsn=0)
    assert rec["skipped"] is True


def test_kernel_untouched_buckets_keep_files(spark, tmp_path):
    base = _base_df(spark, 200)
    t = LakeTable.create(spark, str(tmp_path / "t"), base, KEY_COLS,
                         n_buckets=16)
    before = t.snapshot()["files"]
    rows = [("update", 100, 1, {"k1": "1", "k2": "a"},
             {"k1": "1", "k2": "a", "v_str": "u", "v_num": "9"}, None)]
    ev = _events_df(spark, rows)
    images = dml_images(ev, KEY_COLS, DATA_COLS,
                        key_types={"k1": "string", "k2": "string"})
    rec = t.merge_bucketed(spark, images, applied_lsn=10_000)
    after = t.snapshot()["files"]
    assert len(rec["buckets_rewritten"]) == 1
    touched = str(rec["buckets_rewritten"][0])
    for b, fl in before.items():
        if b != touched:
            assert after[b] == fl
    assert after[touched] != before.get(touched)


def test_murmur3_salts_predict_spark_partitions(spark):
    """The salted bucket routing rests on _murmur3_int32 being bit-exact
    with the hash behind df.repartition(n, int_col): pin the whole chain
    by predicting spark_partition_id for the chosen salts at several
    partition counts."""
    from pyspark.sql import functions as F

    from pg_walstream_spark.lake.merge_kernel import (
        _murmur3_int32, partition_salts,
    )

    for P in (2, 3, 8, 16, 32):
        salts = partition_salts(P)
        assert salts is not None and len(salts) == P
        # each salt must land in its own partition, i.e. the map is the
        # identity on residue classes
        df = spark.createDataFrame([(s,) for s in salts], "v int")
        got = {
            r["v"]: r["p"]
            for r in df.repartition(P, "v")
            .withColumn("p", F.spark_partition_id()).collect()
        }
        for p, s in enumerate(salts):
            assert got[s] == p, (P, p, s, got[s])
            assert _murmur3_int32(s) % P == p

    # negative and large values hash identically too (general pin)
    vals = [-5, -1, 0, 1, 7, 123456, 2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = {r["v"]: r["h"]
           for r in df.withColumn("h", F.hash("v")).collect()}
    for v in vals:
        assert _murmur3_int32(v & 0xFFFFFFFF if v < 0 else v) == got[v] or \
            _murmur3_int32(v % (1 << 32)) == got[v]


def test_kernel_salted_routing_balances_partitions(spark, tmp_path):
    """With 16 buckets into 8 partitions the salted routing must place
    exactly 2 buckets per reduce partition (plain hash collides them);
    verified through the real merge path: the merge output matches the
    declarative oracle."""
    tA = LakeTable.create(spark, str(tmp_path / "a"), _base_df(spark, 400),
                          KEY_COLS, n_buckets=16)
    rows = [("update", 100 + i, i, {"k1": str(i % 97), "k2": "a"},
             {"k1": str(i % 97), "k2": "a", "v_str": f"u{i}",
              "v_num": str(i)}, None) for i in range(300)]
    ev = _events_df(spark, rows)
    kt = {"k1": "string", "k2": "string"}
    want, _ = _oracle_state(
        tA.read(spark), compact_changes(ev, KEY_COLS, DATA_COLS, key_types=kt))
    tA.merge_bucketed(spark, dml_images(ev, KEY_COLS, DATA_COLS, key_types=kt),
                      applied_lsn=10_000)
    assert _state(spark, tA) == want


def test_kernel_fileless_bucket_sparse_bootstrap(spark, tmp_path):
    """A bucket with NO existing target file (sparse bootstrap: more
    buckets than base keys) receiving inserts must merge cleanly — the
    kernel's __t marker must be typed bool even at n_target==0
    (pa.array([True]*0) infers null and Acero rejects null non-key
    fields). Differential vs the declarative oracle."""
    rows = [("insert", 100 + i, i + 1, None,
             {"k1": str(1000 + i), "k2": "a" if i % 2 else "b",
              "v_str": f"n{i}", "v_num": str(i)}, None)
            for i in range(40)]
    rg, rk = _run_both(spark, tmp_path, rows, n_buckets=16, base_rows=2)
    assert rk["merge_kernel"] is True
    assert rk["upserts"] == rg["upserts"] == 40


def test_kernel_bucket_emptied_then_reinserted(spark, tmp_path):
    """Delete every row of a table (all buckets drop their files), then
    insert fresh keys: the second merge joins against fileless buckets.
    Differential vs the declarative oracle across both merges."""
    kt = {"k1": "string", "k2": "string"}
    tk = LakeTable.create(spark, str(tmp_path / "k"), _base_df(spark, 8),
                          KEY_COLS, n_buckets=4)
    dels = [("delete", 100 + i, i + 1,
             {"k1": str(i), "k2": "a" if i % 2 else "b"}, None, None)
            for i in range(8)]
    ins = [("insert", 300 + i, i + 1, None,
            {"k1": str(i), "k2": "b" if i % 2 else "a",
             "v_str": f"re{i}", "v_num": str(7 * i)}, None)
           for i in range(6)]
    for lsn, rows in ((10_000, dels), (20_000, ins)):
        ev = _events_df(spark, rows)
        want, _ = _oracle_state(
            tk.read(spark),
            compact_changes(ev, KEY_COLS, DATA_COLS, key_types=kt))
        images = dml_images(ev, KEY_COLS, DATA_COLS, key_types=kt)
        rk = tk.merge_bucketed(spark, images, applied_lsn=lsn)
        assert rk["merge_kernel"] is True
        assert _state(spark, tk) == want
    assert len(_state(spark, tk)) == 6


def test_kernel_timestamp_key_conform(spark, tmp_path):
    """A timestamp key column: Spark's Arrow transfer carries its own tz
    annotation, which must be conformed to the snapshot-declared Arrow
    type before the kernel join (a mismatch fails or mis-joins in Acero).
    Differential vs the declarative oracle."""
    import datetime as dt

    key_cols = ["k_ts", "k2"]
    data_cols = [("v_str", "string"), ("v_num", "bigint")]
    kt = {"k_ts": "timestamp", "k2": "string"}
    base = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, 0, i), "a", f"base{i}", i)
         for i in range(20)],
        "k_ts timestamp, k2 string, v_str string, v_num bigint")
    tk = LakeTable.create(spark, str(tmp_path / "k"), base, key_cols,
                          n_buckets=4)
    rows = []
    for i in range(12):
        k = {"k_ts": f"2024-01-01 00:00:{i:02d}", "k2": "a"}
        rows.append(("update", 100 + i, i + 1, k,
                     {**k, "v_str": f"u{i}", "v_num": str(100 + i)}, None))
    # plus inserts into fileless buckets with a timestamp key
    for i in range(6):
        k = {"k_ts": f"2030-06-0{i + 1} 12:00:00", "k2": "b"}
        rows.append(("insert", 200 + i, 50 + i, None,
                     {**k, "v_str": f"n{i}", "v_num": str(i)}, None))
    ev = _events_df(spark, rows)
    want, _ = _oracle_state(
        tk.read(spark),
        compact_changes(ev, key_cols, data_cols, key_types=kt),
        key_cols, data_cols)
    images = dml_images(ev, key_cols, data_cols, key_types=kt)
    rk = tk.merge_bucketed(spark, images, applied_lsn=10_000)
    assert rk["merge_kernel"] is True
    assert _state(spark, tk) == want


def test_salt_search_vectorized_matches_scalar():
    """partition_salts now coupon-collects with the numpy murmur3; the
    vectorized hash must stay bit-exact with the scalar pinned against
    Spark above, and the salts found at cluster-scale partition counts
    must still be the identity on residue classes."""
    import numpy as np

    from pg_walstream_spark.lake.merge_kernel import (
        _murmur3_int32, _murmur3_int32_np, partition_salts,
    )

    vs = np.arange(4096, dtype=np.int64)
    vec = _murmur3_int32_np(vs)
    for v in range(0, 4096, 37):
        assert int(vec[v]) == _murmur3_int32(v)

    for P in (1024, 4096):
        salts = partition_salts(P)
        assert salts is not None and len(salts) == P
        for p in range(0, P, 101):
            assert _murmur3_int32(salts[p]) % P == p


def test_salted_routing_array_literal_past_512(spark):
    """The salt bijection ships as a constant-folded array literal at every
    partition count; pin the whole chain (salt search → element_at
    expression → real shuffle) at a cluster-scale P=1024 by routing every
    residue class and asserting each lands in its own partition."""
    from pyspark.sql import functions as F

    from pg_walstream_spark.lake.merge_kernel import partition_salts

    P = 1024
    salts = partition_salts(P)
    assert salts is not None
    arr = ",".join(str(s) for s in salts)
    expr = (f"element_at(array({arr}), "
            f"CAST(pmod(_bucket, {P}) AS INT) + 1)")
    got = (
        spark.range(P).withColumnRenamed("id", "_bucket")
        .repartition(P, F.expr(expr))
        .select("_bucket", F.spark_partition_id().alias("p"))
        .collect()
    )
    assert len(got) == P
    for r in got:
        assert r["p"] == r["_bucket"] % P, (r["_bucket"], r["p"])


def test_kernel_aqe_toggle_refcounted_across_overlapping_holders(spark):
    """Two kernel jobs overlapping without nesting (A starts, B starts, A
    ends, B ends): AQE stays off until the LAST one ends, then returns to
    its prior value — a per-call save/restore would run B with AQE on and
    then strand it off for the session."""
    from pg_walstream_spark.lake.table import _kernel_aqe_off

    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    a, b = _kernel_aqe_off(spark), _kernel_aqe_off(spark)
    a.__enter__()
    b.__enter__()
    assert spark.conf.get(key) == "false"
    a.__exit__(None, None, None)
    assert spark.conf.get(key) == "false"
    b.__exit__(None, None, None)
    assert spark.conf.get(key) == "true"


@pytest.mark.parametrize("prior", ["true", "false"])
def test_concurrent_kernel_merges_restore_aqe(spark, tmp_path, prior):
    """The engine merges a batch's tables on parallel driver threads: two
    concurrent merge_bucketed calls must leave spark.sql.adaptive.enabled
    at its prior value and both land the declarative oracle's state."""
    from concurrent.futures import ThreadPoolExecutor

    key = "spark.sql.adaptive.enabled"
    kt = {"k1": "string", "k2": "string"}
    ev = _events_df(spark, _rand_workload(11))
    tables = [LakeTable.create(spark, str(tmp_path / f"t{i}"),
                               _base_df(spark), KEY_COLS, n_buckets=8)
              for i in range(2)]
    want, _ = _oracle_state(
        _base_df(spark), compact_changes(ev, KEY_COLS, DATA_COLS,
                                         key_types=kt))

    def _one(t, lsn):
        return t.merge_bucketed(
            spark, dml_images(ev, KEY_COLS, DATA_COLS, key_types=kt),
            applied_lsn=lsn)

    spark.conf.set(key, prior)
    try:
        # the second round re-applies the same changes (same final state)
        for lsn in (10_000, 20_000):
            with ThreadPoolExecutor(2) as pool:
                recs = list(pool.map(_one, tables, [lsn, lsn]))
            assert spark.conf.get(key) == prior
            assert all(r["merge_kernel"] for r in recs)
    finally:
        spark.conf.set(key, "true")
    assert all(_state(spark, t) == want for t in tables)


def _split_row_groups(t: LakeTable, rows_per_group: int = 7) -> None:
    """Rewrite every bucket of ``t`` as two parquet files of
    ``rows_per_group``-row row groups (the layout an outside writer could
    leave), in place at the same snapshot version."""
    snap = t.snapshot()
    for b, fl in snap["files"].items():
        tbl = pa.concat_tables([pq.read_table(t._abs(f)) for f in fl])
        d = os.path.dirname(t._abs(fl[0]))
        half = tbl.num_rows // 2
        out = []
        for i, part in enumerate((tbl.slice(0, half), tbl.slice(half))):
            p = os.path.join(d, f"split{i}.parquet")
            pq.write_table(part, p, row_group_size=rows_per_group)
            out.append(t._rel(p))
        for f in fl:
            os.remove(t._abs(f))
        snap["files"][b] = out
    t._commit(snap)


def _norm(rows):
    return sorted(
        tuple(tuple(sorted(v)) if k == "_toast" else v
              for k, v in r.asDict().items())
        for r in rows)


def test_kernel_streams_multi_file_row_groups_match_general(spark, tmp_path):
    """Buckets spanning two files and several row groups each, with a
    rename alias, the changelog on, and updates, deletes, inserts, a
    key-changing update and TOAST carries: the kernel (one row group at a
    time) lands the declarative oracle's state and change feed, and writes
    every bucket it rewrites as one row group."""
    cols = [("v_text", "string"), ("v_num", "bigint")]
    kt = {"k1": "string", "k2": "string"}
    tk = LakeTable.create(spark, str(tmp_path / "kernel"), _base_df(spark, 120),
                          KEY_COLS, n_buckets=4,
                          properties={"changelog": True})
    _split_row_groups(tk)
    tk.rename_column("v_str", "v_text")
    before = {b: [pq.ParquetFile(tk._abs(f)).num_row_groups for f in fl]
              for b, fl in tk.snapshot()["files"].items()}
    assert all(len(n) == 2 and sum(n) >= 3 for n in before.values())

    rows = [
        ("update", 100, 1, {"k1": "61", "k2": "a"},
         {"k1": "61", "k2": "a", "v_num": "611"}, ["v_text"]),
        ("update", 101, 2, {"k1": "63", "k2": "a"},
         {"k1": "63", "k2": "a", "v_str": "pre-rename", "v_num": "33"}, None),
        ("delete", 102, 3, {"k1": "64", "k2": "b"}, None, None),
        ("insert", 103, 4, None,
         {"k1": "900", "k2": "b", "v_text": "new", "v_num": "9"}, None),
        ("update", 104, 5, {"k1": "65", "k2": "a"},
         {"k1": "905", "k2": "a", "v_text": "moved", "v_num": "5"}, None),
    ]
    for op, lsn, seq, old, new, toast in _rand_workload(12, n_ops=150):
        if new and "v_str" in new:
            new["v_text"] = new.pop("v_str")
        rows.append((op, 200 + lsn, 10 + seq, old, new,
                     ["v_text"] if toast else None))
    ev = _events_df(spark, rows)
    al = tk.snapshot()["aliases"]
    changes = compact_changes(ev, KEY_COLS, cols, aliases=al, key_types=kt)
    want, _ = _oracle_state(tk.read(spark), changes, data_cols=cols)
    want_feed = _norm(oracle_feed(changes, KEY_COLS, [c for c, _ in cols],
                                  tk.snapshot()["version"] + 1,
                                  10_000).collect())
    rk = tk.merge_bucketed(spark, dml_images(ev, KEY_COLS, cols, aliases=al,
                                             key_types=kt),
                           applied_lsn=10_000)
    assert rk["merge_kernel"] is True and rk["deletes"] > 0
    got = _state(spark, tk)
    assert got == want
    by_key = {r[:2]: r for r in got}
    assert by_key[("61", "a")][2:] == ("base61", 611)
    assert ("65", "a") not in by_key and by_key[("905", "a")][2] == "moved"
    assert _norm(tk.read_changes(spark).collect()) == want_feed
    written = [tk._abs(f) for b in rk["buckets_rewritten"]
               for f in tk.snapshot()["files"].get(str(b), [])]
    assert written and all(pq.ParquetFile(f).num_row_groups == 1
                           for f in written)


def test_kernel_nested_data_columns_match_general(spark, tmp_path):
    """array<double> and map<string,int> data columns (which Acero cannot
    carry through a join) merge through the kernel, TOAST carry included,
    and land the declarative oracle's state."""
    ddl = ("k1 string, k2 string, v_arr array<double>, "
           "v_map map<string,int>")
    base = spark.createDataFrame(
        [(str(i), "a", [float(i), 0.5], {"n": i}) for i in range(40)], ddl)
    images = spark.createDataFrame([
        (100, 1, "upsert", "1", "a", [9.0], {"u": 1}, False, False),
        (101, 2, "upsert", "2", "a", None, {"t": 2}, True, False),
        (102, 3, "upsert", "3", "a", [3.0, 3.5], None, False, True),
        (103, 4, "delete", "4", "a", None, None, False, False),
        (104, 5, "upsert", "900", "b", [], {}, False, False),
        (105, 6, "upsert", "901", "b", None, {"x": 7}, True, False),
    ], "commit_lsn bigint, seq bigint, _op string, " + ddl
       + ", _t_v_arr boolean, _t_v_map boolean")
    # one image per key: the compacted change set is the images themselves
    changes = images.selectExpr(
        "k1", "k2", "CASE WHEN NOT _t_v_arr THEN v_arr END AS v_arr",
        "CASE WHEN NOT _t_v_map THEN v_map END AS v_map", "_op",
        "CASE WHEN _op = 'upsert' THEN array_compact(array("
        "CASE WHEN _t_v_arr THEN 'v_arr' END, "
        "CASE WHEN _t_v_map THEN 'v_map' END)) "
        "ELSE array() END AS _toast")
    tk = LakeTable.create(spark, str(tmp_path / "k"), base, KEY_COLS,
                          n_buckets=4)
    want, _ = _oracle_state(tk.read(spark), changes,
                            data_cols=[("v_arr", "array<double>"),
                                       ("v_map", "map<string,int>")])
    rk = tk.merge_bucketed(spark, images, applied_lsn=10_000)
    assert rk["merge_kernel"] is True
    got = _state(spark, tk)
    assert got == want
    by_key = {r[:2]: r[2:] for r in got}
    assert by_key[("2", "a")] == ([2.0, 0.5], {"t": 2})
    assert by_key[("3", "a")] == ([3.0, 3.5], {"n": 3})
    assert by_key[("901", "b")] == (None, {"x": 7})
    assert ("4", "a") not in by_key


@pytest.mark.parametrize("key_type", ["array<string>", "map<string,int>",
                                      "struct<a:int>"])
def test_create_rejects_nested_key_column(spark, tmp_path, key_type):
    df = spark.createDataFrame([], f"k_nested {key_type}, v string")
    with pytest.raises(ValueError, match="k_nested"):
        LakeTable.create(spark, str(tmp_path / "t"), df, ["k_nested"])
    assert not os.path.exists(tmp_path / "t")


def test_create_rejects_column_without_arrow_type(spark, tmp_path):
    df = spark.range(1).selectExpr("'a' AS k", "make_interval(1) AS v_iv")
    with pytest.raises(ValueError, match="v_iv"):
        LakeTable.create(spark, str(tmp_path / "t"), df, ["k"])
    assert not os.path.exists(tmp_path / "t")


def test_merge_one_bucket_writes_a_row_group_per_byte_cap(tmp_path,
                                                          monkeypatch):
    """The per-bucket step buffers output and writes one row group each
    time the buffer reaches ROW_GROUP_BYTES; at a 1-byte cap every emitted
    piece becomes its own row group, and the file still holds exactly the
    merged rows (update, delete, insert, untouched row groups)."""
    import pg_walstream_spark.lake.merge_kernel as mk

    schema = pa.schema([("k1", pa.string()), ("v", pa.int64())])
    src = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k1": [str(i) for i in range(100)],
                             "v": list(range(100))}, schema=schema),
                   src, row_group_size=10)
    changes = pa.table({"k1": ["5", "7", "500"],
                        "__op": ["upsert", "delete", "upsert"],
                        "__c_v": [50, None, 5000],
                        "__p_v": [False, False, False]})
    monkeypatch.setattr(mk, "ROW_GROUP_BYTES", 1)
    out = str(tmp_path / "out.parquet")
    st = mk._merge_one_bucket(changes, [src], schema, ["k1"], ["v"], out,
                              "zstd")
    assert (st["n_target"], st["del_applied"], st["ins_new"],
            st["rows_written"]) == (100, 1, 1, 100)
    assert pq.ParquetFile(out).num_row_groups > 10
    got = pq.read_table(out).to_pydict()
    got = dict(zip(got["k1"], got["v"]))
    assert len(got) == 100 and "7" not in got
    assert got["5"] == 50 and got["500"] == 5000 and got["99"] == 99
