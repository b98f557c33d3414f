"""Structured Streaming front-end + typed-deserialization functions."""

from __future__ import annotations

import os

from pyspark.sql import Row, functions as F

from pg_walstream_spark.engine import ReplayEngine
from pg_walstream_spark.fixtures import wal_gen as wg
from pg_walstream_spark.functions import (
    field_errors,
    lsn_str,
    pg_text_to_bool,
    pg_timestamp,
    str_to_lsn_col,
    try_typed,
    typed_columns,
)
from pg_walstream_spark.golden import golden_final_state
from pg_walstream_spark.streaming import start_stream


def test_streaming_available_now_matches_golden(spark, tmp_path):
    base, b = wg.gen_mixed_dml(n_base=60, n_txns=8, ops_per_txn=6)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=30)  # several files
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    bases = {"repos": base.slice(0, 30), "repos_full": base.slice(30)}
    for n, t in bases.items():
        p = os.path.join(str(tmp_path), f"{n}.parquet")
        wg.write_base(t, p)
        eng.bootstrap_table(n, spark.read.parquet(p), ["repo", "path"], 8)

    q = start_stream(
        spark, frames_dir, wh,
        checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
        max_files_per_trigger=2,
    )
    q.awaitTermination(300)

    for tname in ("repos", "repos_full"):
        golden_rows, glsn = golden_final_state(bases, frames, tname)
        lake = eng.table(tname)
        got = sorted(
            (r["repo"], r["path"], r["content"])
            for r in lake.read(spark).collect()
        )
        want = sorted((r["repo"], r["path"], r["content"]) for r in golden_rows)
        if got != want:
            import json as _json

            diag = {
                "table": tname,
                "missing": [r[:2] for r in want if r not in got][:10],
                "extra": [r[:2] for r in got if r not in want][:10],
                "engine_state": eng._load_state(),
                "lineage": {
                    t2: eng.table(t2).snapshot()["lineage"]
                    for t2 in ("repos", "repos_full")
                },
                "files": {
                    t2: {b: [f.split("/")[-2] + "/" + f.split("/")[-1]
                             for f in fl]
                         for b, fl in eng.table(t2).snapshot()["files"].items()}
                    for t2 in ("repos", "repos_full")
                },
            }
            raise AssertionError(
                "stream-vs-golden mismatch:\n" + _json.dumps(diag, indent=1,
                                                             default=str)
            )
        assert lake.applied_lsn() == glsn


def test_pg_bool_full_text_set(spark):
    vals = ["t", "f", "TRUE", "false", "1", "0", "on", "OFF", "yes", "no",
            "garbage", None]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.select(pg_text_to_bool("v")).collect()]
    assert got == [True, False, True, False, True, False, True, False, True,
                   False, None, None]


def test_typed_columns_and_lenient(spark):
    rows = [
        Row(new_data={"id": "42", "score": "1.5", "ok": "on", "name": "a"}),
        Row(new_data={"id": "oops", "score": "x", "ok": "maybe", "name": None}),
    ]
    df = spark.createDataFrame(rows)
    spec = {"id": "bigint", "score": "double", "ok": "boolean", "name": "string"}
    strict = typed_columns(
        df.where(F.element_at("new_data", "id") == "42"), spec
    ).collect()[0]
    assert (strict["id"], strict["score"], strict["ok"], strict["name"]) == (
        42, 1.5, True, "a")

    lenient = try_typed(df, spec).collect()
    good, bad = lenient
    assert good["_errors"] == []
    assert (bad["id"], bad["score"], bad["ok"]) == (0, 0.0, False)
    errs = {e["field"]: e["value"] for e in bad["_errors"]}
    assert errs == {"id": "oops", "score": "x", "ok": "maybe"}
    err_df = field_errors(try_typed(df, spec))
    assert err_df.count() == 3


def test_lsn_and_timestamp_functions(spark):
    df = spark.createDataFrame([(0x16B3748, 0, "AB/16B3748")],
                               "lsn long, ts long, s string")
    r = df.select(
        lsn_str("lsn").alias("l"),
        pg_timestamp("ts").cast("string").alias("t"),
        str_to_lsn_col("s").alias("back"),
    ).collect()[0]
    assert r["l"] == "0/16B3748"
    assert r["t"].startswith("2000-01-01 00:00:00")
    assert r["back"] == (0xAB << 32) | 0x16B3748


def test_lsn_roundtrip_property(spark):
    df = spark.range(1, 50).select(
        (F.col("id") * 982451653 % F.lit(2**62)).alias("lsn")
    )
    r = df.select(
        F.max(
            (str_to_lsn_col(lsn_str(F.col("lsn"))) == F.col("lsn")).cast("int")
        ).alias("mx"),
        F.min(
            (str_to_lsn_col(lsn_str(F.col("lsn"))) == F.col("lsn")).cast("int")
        ).alias("mn"),
    ).collect()[0]
    assert r["mn"] == 1 and r["mx"] == 1


def test_pg_int_reference_semantics(spark):
    """Reference fast-path int parse (deserializer.rs:345-371): pure digit
    tokens only, width-checked — '1.5' and overflow yield null regardless
    of the session's ANSI mode (plain cast would truncate or throw)."""
    from pg_walstream_spark.functions import pg_int

    vals = ["42", "-7", "+9", "1.5", "1e3", "oops", "32768", "-32769",
            "2147483648", "9223372036854775807", None]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got16 = [r[0] for r in df.select(pg_int("v", "smallint")).collect()]
    assert got16 == [42, -7, 9, None, None, None, None, None, None, None,
                     None]
    got32 = [r[0] for r in df.select(pg_int("v", "int")).collect()]
    assert got32 == [42, -7, 9, None, None, None, 32768, -32769, None, None,
                     None]
    got64 = [r[0] for r in df.select(pg_int("v", "bigint")).collect()]
    assert got64 == [42, -7, 9, None, None, None, 32768, -32769, 2147483648,
                     9223372036854775807, None]


def test_pg_char_and_enum(spark):
    from pg_walstream_spark.functions import pg_char, pg_enum

    df = spark.createDataFrame(
        [("a",), ("ab",), ("",), (None,)], "v string")
    assert [r[0] for r in df.select(pg_char("v")).collect()] == \
        ["a", None, None, None]
    df2 = spark.createDataFrame(
        [("red",), ("blue",), ("mauve",), (None,)], "v string")
    assert [r[0] for r in df2.select(
        pg_enum("v", ["red", "green", "blue"])).collect()] == \
        ["red", "blue", None, None]


def test_streaming_stop_and_resume_live_tail(spark, tmp_path):
    """Graceful shutdown of a LIVE (non-availableNow) tail: stop mid-stream,
    then resume with a second query over newly arrived frame files — the
    checkpoint + LSN fence make the handoff exactly-once (the reference's
    cancellation + restart-from-confirmed-LSN contract)."""
    import time

    import pyarrow.parquet as pq

    from pg_walstream_spark.golden import golden_final_state

    base, b = wg.gen_basic(n_base=40, n_txns=8, ops_per_txn=4)
    frames = b.to_table()
    n = frames.num_rows
    half = n // 2
    frames_dir = os.path.join(str(tmp_path), "frames")
    os.makedirs(frames_dir)
    pq.write_table(frames.slice(0, half),
                   os.path.join(frames_dir, "part-00000.parquet"))

    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)

    q = start_stream(spark, frames_dir, wh,
                     checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
                     max_files_per_trigger=1, available_now=False)
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if eng._load_state()["applied_lsn"] > 0:
            break
        time.sleep(0.5)
    q.stop()
    assert not q.isActive
    mid_lsn = eng._load_state()["applied_lsn"]
    assert mid_lsn > 0

    pq.write_table(frames.slice(half),
                   os.path.join(frames_dir, "part-00001.parquet"))
    q2 = start_stream(spark, frames_dir, wh,
                      checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
                      max_files_per_trigger=1, available_now=True)
    q2.awaitTermination(180)

    golden_rows, glsn = golden_final_state({"repos": base}, frames, "repos")
    lake = eng.table("repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in lake.read(spark).collect())
    want = sorted((r["repo"], r["path"], r["content"]) for r in golden_rows)
    assert got == want
    assert lake.applied_lsn() == glsn


def test_out_of_order_batch_raises(spark, tmp_path):
    """A batch that extends the consumed seq range non-contiguously must
    fail loudly — silently fencing a reordered WAL segment off as a
    duplicate loses data (the round-1/2 streaming flake: frame files with
    tied mtimes delivered out of order by the file source)."""
    import pytest

    base, b = wg.gen_basic(n_base=10, n_txns=4, ops_per_txn=2)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir)
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 4)
    fdf = spark.read.parquet(frames_dir)
    st = eng._load_state()
    n = frames.num_rows
    first = fdf.filter(F.col("seq") < 6)
    eng.process_batch(first, 0, st, seq_range=(0, 5))
    # skipping ahead (gap) must raise
    tail = fdf.filter(F.col("seq") >= 10)
    with pytest.raises(RuntimeError, match="out of order"):
        eng.process_batch(tail, 1, st, seq_range=(10, n - 1))
    # exact redelivery of the consumed range is fine (fence no-ops it)
    eng.process_batch(first, 2, st, seq_range=(0, 5))
    # contiguous continuation is fine
    mid = fdf.filter((F.col("seq") >= 6) & (F.col("seq") < 10))
    eng.process_batch(mid, 3, st, seq_range=(6, 9))


def test_out_of_order_file_delivery_held_and_released(spark, tmp_path):
    """Regression for the round-1/2 exactly-once flake (root cause).

    Spark's file source occasionally delivered frame files out of mtime
    order: a first batch of {file0, file2} applied file2's commits and
    advanced the LSN fence to the final commit, so when file1 arrived in
    the next batch its transactions were fenced off as "duplicates" —
    silently losing txns 4-7 (the exact suite_h2 failure signature:
    applied_lsn jumped to the last commit's end LSN, open_xid=1008 dangling,
    pending=4, batch 1 applying nothing). ``ingest_frames_batch`` must HOLD
    the post-gap file and release it once the gap fills, reproducing the
    golden state regardless of delivery order."""
    from pg_walstream_spark.streaming import ingest_frames_batch

    base, b = wg.gen_mixed_dml(n_base=60, n_txns=8, ops_per_txn=6)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=30)
    files = sorted(
        os.path.join(frames_dir, f)
        for f in os.listdir(frames_dir) if f.endswith(".parquet")
    )
    assert len(files) == 3
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    bases = {"repos": base.slice(0, 30), "repos_full": base.slice(30)}
    for n, t in bases.items():
        p = os.path.join(str(tmp_path), f"{n}.parquet")
        wg.write_base(t, p)
        eng.bootstrap_table(n, spark.read.parquet(p), ["repo", "path"], 8)

    # adversarial delivery order: {f0, f2} then {f1}
    ingest_frames_batch(eng, spark.read.parquet(files[0], files[2]), 0)
    st = eng._load_state()
    assert len(st["held_frames"]) == 1, st  # f2 held behind the gap
    assert st["max_seq"] == 29, st  # only f0 consumed
    ingest_frames_batch(eng, spark.read.parquet(files[1]), 1)
    st = eng._load_state()
    assert st["held_frames"] == [], st  # gap filled, f2 released
    assert st["max_seq"] == frames.num_rows - 1, st
    assert int(st.get("reorder_events", 0)) >= 1, st
    # redelivery of an already-consumed file is a no-op
    ingest_frames_batch(eng, spark.read.parquet(files[1]), 2)

    for tname in ("repos", "repos_full"):
        golden_rows, glsn = golden_final_state(bases, frames, tname)
        lake = eng.table(tname)
        got = sorted(
            (r["repo"], r["path"], r["content"])
            for r in lake.read(spark).collect()
        )
        want = sorted((r["repo"], r["path"], r["content"])
                      for r in golden_rows)
        assert got == want, tname
        assert lake.applied_lsn() == glsn, tname


def test_streaming_batch_transient_failure_retries_in_place(spark, tmp_path):
    """A transient failure inside a streamed micro-batch retries under the
    retry taxonomy's backoff budget instead of failing the query — Spark's
    query restart would also recover, but at whole-restart cost (the
    reference retries inside the consume loop for the same reason,
    /root/reference/src/stream.rs:957-1044). The LSN fence makes the
    partial re-application idempotent, so the retried batch must land the
    exact golden state."""
    from pg_walstream_spark.retry import RetryConfig
    from pg_walstream_spark.streaming import ingest_frames_batch

    base, b = wg.gen_basic(n_base=30, n_txns=4, ops_per_txn=4)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=frames.num_rows)
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh, retry_config=RetryConfig(
        max_attempts=3, initial_delay_s=0.01, max_delay_s=0.02))
    p = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, p)
    eng.bootstrap_table("repos", spark.read.parquet(p), ["repo", "path"], 8)

    real = ReplayEngine.process_batch
    calls = {"n": 0}

    def flaky(self, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated transient FS hiccup")
        return real(self, *a, **k)

    eng.process_batch = flaky.__get__(eng)
    rec = ingest_frames_batch(eng, spark.read.parquet(frames_dir), 0)
    assert rec is not None
    assert calls["n"] == 2  # failed once, recovered in place
    golden_rows, glsn = golden_final_state({"repos": base}, frames, "repos")
    lake = eng.table("repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in lake.read(spark).collect())
    want = sorted((r["repo"], r["path"], r["content"]) for r in golden_rows)
    assert got == want
    assert lake.applied_lsn() == glsn


def test_frame_files_have_increasing_mtimes(tmp_path):
    """The frame pump must stamp strictly increasing mtimes so the
    streaming file source lists files in WAL order."""
    _, b = wg.gen_basic(n_base=10, n_txns=6, ops_per_txn=3)
    d = os.path.join(str(tmp_path), "frames")
    wg.write_frames(b.to_table(), d, rows_per_file=7)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert len(files) >= 3
    mtimes = [os.stat(os.path.join(d, f)).st_mtime for f in files]
    assert all(a < b2 for a, b2 in zip(mtimes, mtimes[1:])), mtimes


def test_streaming_keepalives_advance_max_seq(spark, tmp_path):
    """Streaming ingest of a keepalive-interleaved stream: heartbeats are
    consumed like any frame (max_seq covers them — a keepalive-only tail
    must not look like a gap to the hold-and-release guard), final state
    matches golden, fence stops at the last commit."""
    base, b = wg.gen_keepalives(n_txns=4)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=11)
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    p = os.path.join(str(tmp_path), "repos.parquet")
    wg.write_base(base, p)
    eng.bootstrap_table("repos", spark.read.parquet(p), ["repo", "path"], 8)
    q = start_stream(
        spark, frames_dir, wh,
        checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
        max_files_per_trigger=2,
    )
    q.awaitTermination(300)
    golden_rows, _ = golden_final_state({"repos": base}, frames, "repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in eng.table("repos").read(spark).collect())
    assert got == sorted(
        (r["repo"], r["path"], r["content"]) for r in golden_rows)
    st = eng._load_state()
    assert int(st["max_seq"]) == frames.num_rows - 1
    assert st.get("held_frames") in (None, [], {})
    assert eng.table("repos").applied_lsn() == b.commit_lsns[-1]


def test_chunk_by_rate_unit():
    """Greedy caps-bounded chunking: no caps → one chunk; frame cap splits
    at file granularity; an oversized single file still gets its own chunk
    (progress guarantee); byte cap works independently."""
    from pg_walstream_spark.streaming import _chunk_by_rate

    spans = [{"path": f"f{i}", "lo": i * 10, "hi": i * 10 + 9, "n": 10,
              "bytes": 100} for i in range(5)]
    assert _chunk_by_rate(spans, None, None) == [spans]
    by20 = _chunk_by_rate(spans, 20, None)
    assert [len(c) for c in by20] == [2, 2, 1]
    assert [s["path"] for c in by20 for s in c] == [s["path"] for s in spans]
    # cap below a single file: one file per chunk, never an empty chunk
    assert [len(c) for c in _chunk_by_rate(spans, 5, None)] == [1] * 5
    assert [len(c) for c in _chunk_by_rate(spans, None, 250)] == [2, 2, 1]


def test_rate_limited_ingest_matches_golden_and_reports_lag(spark, tmp_path):
    """Rate-limited ingest (max_frames_per_batch) splits one trigger's
    files into several fenced micro-batch applies — including chunk
    boundaries that cut transactions in half (open txn rides the pending
    store into the next chunk) — and the final lake state still equals the
    sequential golden applier. The ingest health metric reports the chunk
    count and drain rate."""
    from pg_walstream_spark.streaming import ingest_frames_batch

    base, b = wg.gen_mixed_dml(n_base=60, n_txns=8, ops_per_txn=6)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=25)
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    bases = {"repos": base.slice(0, 30), "repos_full": base.slice(30)}
    for n, t in bases.items():
        p = os.path.join(str(tmp_path), f"{n}.parquet")
        wg.write_base(t, p)
        eng.bootstrap_table(n, spark.read.parquet(p), ["repo", "path"], 8)

    seen_ranges, seen_idx = [], []
    orig = eng.process_batch

    def spy(frames_df, batch_idx, st, **kw):
        seen_ranges.append(kw.get("seq_range"))
        seen_idx.append(batch_idx)
        return orig(frames_df, batch_idx, st, **kw)

    eng.process_batch = spy
    df = spark.read.parquet(frames_dir)
    rec = ingest_frames_batch(eng, df, 0, max_frames_per_batch=30)

    n_files = len(os.listdir(frames_dir))
    assert len(seen_ranges) > 1, "cap should force multiple chunks"
    # chunks partition the full seq range contiguously, in order
    assert seen_ranges[0][0] == 0
    for (_lo, prev_hi), (lo, _hi) in zip(seen_ranges, seen_ranges[1:]):
        assert lo == prev_hi + 1
    assert seen_ranges[-1][1] == frames.num_rows - 1
    assert rec["chunks"] == len(seen_ranges)

    for tname in ("repos", "repos_full"):
        golden_rows, glsn = golden_final_state(bases, frames, tname)
        got = sorted((r["repo"], r["path"], r["content"])
                     for r in eng.table(tname).read(spark).collect())
        assert got == sorted(
            (r["repo"], r["path"], r["content"]) for r in golden_rows)
        assert eng.table(tname).applied_lsn() == glsn

    st = eng._load_state()
    ing = st["ingest"]
    assert ing["chunks"] == len(seen_ranges)
    assert ing["frames"] == frames.num_rows
    assert ing["lag_frames"] == 0 and ing["lag_spans"] == 0
    assert ing["frames_per_sec"] > 0
    # every chunk is its own batch: its own index and its own batch row
    assert seen_idx == list(range(len(seen_ranges)))
    rows = eng.metrics_df().collect()
    kinds = [r["kind"] for r in rows]
    assert any(k.startswith("ingest frames=") for k in kinds)
    assert sorted(r["batch_id"] for r in rows
                  if r["kind"].startswith("batch pending=")) == sorted(
        f"b{i}" for i in seen_idx)
    assert n_files >= 2


def test_rate_limited_chunks_carry_open_txn_across_chunks(spark, tmp_path):
    """One trigger cut into 8 rate-limited chunks with transactions that
    each span at least 3 chunks. Every chunk is a batch of its own, so the
    pending delta an earlier chunk left for a still-open transaction
    survives the later chunks' pending commits, and both tables end at
    golden."""
    from pg_walstream_spark.streaming import ingest_frames_batch

    base, b = wg.gen_mixed_dml(n_base=60, n_txns=3, ops_per_txn=60)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=25)
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    bases = {"repos": base.slice(0, 30), "repos_full": base.slice(30)}
    for n, t in bases.items():
        p = os.path.join(str(tmp_path), f"{n}.parquet")
        wg.write_base(t, p)
        eng.bootstrap_table(n, spark.read.parquet(p), ["repo", "path"], 8)

    rec = ingest_frames_batch(eng, spark.read.parquet(frames_dir), 0,
                              max_frames_per_batch=30)
    assert rec["chunks"] == 8
    for tname in ("repos", "repos_full"):
        golden_rows, glsn = golden_final_state(bases, frames, tname)
        got = sorted((r["repo"], r["path"], r["content"])
                     for r in eng.table(tname).read(spark).collect())
        assert got == sorted(
            (r["repo"], r["path"], r["content"]) for r in golden_rows), tname
        assert eng.table(tname).applied_lsn() == glsn
    st = eng._load_state()
    assert st["batch_idx"] == 8
    assert int(st["max_seq"]) == frames.num_rows - 1


def test_rate_limited_stream_e2e_bytes_cap(spark, tmp_path):
    """End-to-end availableNow stream with a bytes-per-batch cap small
    enough to force chunking inside every trigger; final state matches
    golden and the stream drains completely (no stranded files — chunking
    must not defer work to a trigger that never comes)."""
    base, b = wg.gen_mixed_dml(n_base=40, n_txns=6, ops_per_txn=5)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=20)
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    bases = {"repos": base.slice(0, 20), "repos_full": base.slice(20)}
    for n, t in bases.items():
        p = os.path.join(str(tmp_path), f"{n}.parquet")
        wg.write_base(t, p)
        eng.bootstrap_table(n, spark.read.parquet(p), ["repo", "path"], 8)

    q = start_stream(
        spark, frames_dir, wh,
        checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
        max_files_per_trigger=4,
        max_bytes_per_batch=1,  # below any file size: one file per chunk
    )
    q.awaitTermination(300)

    for tname in ("repos", "repos_full"):
        golden_rows, glsn = golden_final_state(bases, frames, tname)
        got = sorted((r["repo"], r["path"], r["content"])
                     for r in eng.table(tname).read(spark).collect())
        assert got == sorted(
            (r["repo"], r["path"], r["content"]) for r in golden_rows)
        # per-table fence only advances with a chunk that touches the
        # table (a 1-file final chunk may carry DML for just one table) —
        # the global LSN feedback in engine state is the slot cursor
        assert eng.table(tname).applied_lsn() <= glsn
    st = eng._load_state()
    assert int(st["applied_lsn"]) == glsn
    assert int(st["max_seq"]) == frames.num_rows - 1
    assert st["ingest"]["chunks"] >= 1


def test_checkpoint_loss_recovery_from_warehouse_fence(spark, tmp_path):
    """Failover-slot durability analog
    (/root/reference/integration-tests/failover_slot.rs): the streaming
    CHECKPOINT is lost (disk loss / failover to a standby driver) but the
    warehouse (engine state + lake fence) survives. Restarting with a
    FRESH checkpoint makes the file source redeliver EVERYTHING from
    scratch; the consumed-seq skip + LSN fence must absorb the redelivery
    with no duplicates and no loss — final state identical to the
    sequential golden applier, and the redelivered prefix must be fenced
    (not re-applied) rather than re-merged."""
    import shutil

    from pg_walstream_spark.golden import golden_final_state

    base, b = wg.gen_mixed_dml(n_base=50, n_txns=10, ops_per_txn=5)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=25)

    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)

    ckpt1 = os.path.join(str(tmp_path), "ckpt1")
    q = start_stream(spark, frames_dir, wh, checkpoint_dir=ckpt1,
                     max_files_per_trigger=2)
    q.awaitTermination(300)
    st_mid = eng._load_state()
    assert st_mid["applied_lsn"] > 0
    merges_before = len(eng.table("repos").snapshot()["lineage"])

    # disaster: the checkpoint is gone, the warehouse survives
    shutil.rmtree(ckpt1)

    q2 = start_stream(spark, frames_dir, wh,
                      checkpoint_dir=os.path.join(str(tmp_path), "ckpt2"),
                      max_files_per_trigger=2)
    q2.awaitTermination(300)

    golden_rows, glsn = golden_final_state({"repos": base}, frames, "repos")
    lake = eng.table("repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in lake.read(spark).collect())
    want = sorted((r["repo"], r["path"], r["content"]) for r in golden_rows)
    assert got == want
    assert lake.applied_lsn() == glsn
    st_after = eng._load_state()
    assert st_after["applied_lsn"] == glsn
    # redelivered files were consumed-seq-skipped, not re-merged: no new
    # merge lineage beyond the first pass
    assert len(lake.snapshot()["lineage"]) == merges_before
    assert st_after["max_seq"] == st_mid["max_seq"]
