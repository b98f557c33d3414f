"""Driver-side parquet-footer seq spans (engine.seq_spans_from_footers).

The bounded replay and the streaming ingest both need per-file/global
``seq`` bounds; reading them from footer statistics removes one fixed
Spark job from every call — a core-count-independent serial tail. These
tests pin (a) footer spans == the Spark aggregation they replace,
(b) the None fallback for files without usable statistics, and (c) that
the streaming path actually TAKES the footer path (not silently falling
back) while still matching golden.
"""
from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import pg_walstream_spark.engine as engine_mod
from pg_walstream_spark.engine import ReplayEngine, seq_spans_from_footers
from pg_walstream_spark.fixtures import wal_gen as wg
from pg_walstream_spark.golden import golden_final_state
from pg_walstream_spark.streaming import start_stream


def _write_fixture(tmp_path, rows_per_file=30):
    base, b = wg.gen_mixed_dml(n_base=60, n_txns=8, ops_per_txn=6)
    frames = b.to_table()
    frames_dir = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, frames_dir, rows_per_file=rows_per_file)
    return base, frames, frames_dir


def test_seq_spans_from_footers_match_spark(spark, tmp_path):
    _base, _frames, frames_dir = _write_fixture(tmp_path)
    files = sorted(glob.glob(os.path.join(frames_dir, "*.parquet")))
    assert len(files) > 1
    spans = seq_spans_from_footers(files)
    assert spans is not None and len(spans) == len(files)

    want = {
        os.path.basename(r["path"]): (int(r["lo"]), int(r["hi"]), int(r["n"]))
        for r in spark.read.parquet(frames_dir)
        .groupBy(F.input_file_name().alias("path"))
        .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"),
             F.count("seq").alias("n")).collect()
    }
    got = {os.path.basename(s["path"]): (s["lo"], s["hi"], s["n"])
           for s in spans}
    assert got == want

    # file:// URIs accepted too (streaming hands inputFiles() URIs)
    spans_uri = seq_spans_from_footers(["file://" + f for f in files])
    assert [s["lo"] for s in spans_uri] == [s["lo"] for s in spans]


def test_seq_spans_fallback_without_statistics(tmp_path):
    t = pa.table({"seq": pa.array([0, 1, 2], pa.int64()),
                  "data": pa.array([b"a", b"b", b"c"], pa.binary())})
    p_nostats = os.path.join(str(tmp_path), "nostats.parquet")
    pq.write_table(t, p_nostats, write_statistics=False)
    assert seq_spans_from_footers([p_nostats]) is None

    p_noseq = os.path.join(str(tmp_path), "noseq.parquet")
    pq.write_table(t.drop_columns(["seq"]), p_noseq)
    assert seq_spans_from_footers([p_noseq]) is None

    assert seq_spans_from_footers(
        [os.path.join(str(tmp_path), "missing.parquet")]) is None


def test_seq_spans_file_count_cap(tmp_path, monkeypatch):
    """Past the cap the serial driver-side footer walk loses to the
    parallel Spark scan — the helper declines and callers fall back."""
    t = pa.table({"seq": pa.array([0], pa.int64())})
    p = os.path.join(str(tmp_path), "one.parquet")
    pq.write_table(t, p)
    monkeypatch.setattr(engine_mod, "FOOTER_SPAN_MAX_FILES", 2)
    assert seq_spans_from_footers([p, p, p]) is None
    assert seq_spans_from_footers([p, p]) is not None


def test_streaming_takes_footer_path_and_matches_golden(
        spark, tmp_path, monkeypatch):
    footer_hits = []
    real = engine_mod.seq_spans_from_footers

    def spy(paths):
        out = real(paths)
        footer_hits.append(out is not None)
        return out

    monkeypatch.setattr(engine_mod, "seq_spans_from_footers", spy)

    base, frames, frames_dir = _write_fixture(tmp_path)
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

    # the footer path must have fired and succeeded (a silent permanent
    # fallback would mean the optimization never runs in production)
    assert footer_hits and all(footer_hits)

    golden_rows, glsn = golden_final_state({"repos": base}, frames, "repos")
    lake = eng.table("repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in lake.read(spark).collect())
    want = sorted((r["repo"], r["path"], r["content"])
                  for r in golden_rows)
    assert got == want
    assert lake.applied_lsn() == glsn


def test_batch_files_from_source_log_unit(tmp_path):
    from pg_walstream_spark.streaming import _batch_files_from_source_log

    ck = os.path.join(str(tmp_path), "ck")
    d = os.path.join(ck, "sources", "0")
    os.makedirs(d)
    with open(os.path.join(d, "3"), "w") as f:
        f.write('v1\n{"path":"file:///a.parquet","timestamp":1,"batchId":3}\n'
                '{"path":"file:///b.parquet","timestamp":1,"batchId":3}\n')
    assert _batch_files_from_source_log(ck, 3) == [
        "file:///a.parquet", "file:///b.parquet"]
    # compact form: full history, filtered to the batch
    with open(os.path.join(d, "9.compact"), "w") as f:
        f.write('v1\n{"path":"file:///a.parquet","timestamp":1,"batchId":3}\n'
                '{"path":"file:///c.parquet","timestamp":2,"batchId":9}\n')
    assert _batch_files_from_source_log(ck, 9) == ["file:///c.parquet"]
    # anomalies -> None (callers fall back to the Spark aggregation)
    assert _batch_files_from_source_log(ck, 7) is None
    assert _batch_files_from_source_log(None, 3) is None
    with open(os.path.join(d, "4"), "w") as f:
        f.write("not-a-version-header\n")
    assert _batch_files_from_source_log(ck, 4) is None


def test_streaming_footer_path_across_live_log_compaction(
        spark, tmp_path, monkeypatch):
    """The source-log reader must keep working through Spark's OWN log
    compaction (every compactInterval-th batch is written as
    ``<id>.compact`` holding the full history): force a tiny interval and
    a one-file-per-trigger stream so several compact batches occur live,
    assert the footer path never fell back, and the state matches golden."""
    footer_hits = []
    real = engine_mod.seq_spans_from_footers

    def spy(paths):
        out = real(paths)
        footer_hits.append(out is not None)
        return out

    monkeypatch.setattr(engine_mod, "seq_spans_from_footers", spy)

    base, frames, frames_dir = _write_fixture(tmp_path, rows_per_file=12)
    n_files = len(glob.glob(os.path.join(frames_dir, "*.parquet")))
    assert n_files >= 6  # enough batches to cross >=2 compaction points
    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    p = os.path.join(str(tmp_path), "repos.parquet")
    wg.write_base(base, p)
    eng.bootstrap_table("repos", spark.read.parquet(p), ["repo", "path"], 8)

    key = "spark.sql.streaming.fileSource.log.compactInterval"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        q = start_stream(
            spark, frames_dir, wh,
            checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
            max_files_per_trigger=1,
        )
        q.awaitTermination(300)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    src_dir = os.path.join(str(tmp_path), "ckpt", "sources", "0")
    compacts = glob.glob(os.path.join(src_dir, "*.compact"))
    assert compacts, "compaction never fired - interval conf not applied?"
    assert len(footer_hits) >= n_files and all(footer_hits)

    golden_rows, glsn = golden_final_state({"repos": base}, frames, "repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in eng.table("repos").read(spark).collect())
    want = sorted((r["repo"], r["path"], r["content"]) for r in golden_rows)
    assert got == want
    assert eng.table("repos").applied_lsn() == glsn


def test_seq_spans_fallback_on_null_seq(tmp_path):
    """Footer `n` is the ROW count; the Spark fallback counts NON-NULL
    seq. With null seqs the two paths would disagree on the in-file gap
    corruption check ([0, null, 2] looks gap-free to the footer), so the
    footer path must decline and defer to the fallback."""
    t = pa.table({"seq": pa.array([0, None, 2], pa.int64()),
                  "data": pa.array([b"a", b"b", b"c"], pa.binary())})
    p = os.path.join(str(tmp_path), "nullseq.parquet")
    pq.write_table(t, p)
    assert seq_spans_from_footers([p]) is None


def test_replay_refuses_mixed_flat_nested_layout(spark, tmp_path):
    """A mixed flat+nested frame layout is incoherent in Spark itself —
    plain subdirs are silently ignored, partition-style subdirs shadow the
    flat files (measured: 3 inputFiles but only the partition rows
    counted) — so EVERY lo/hi source would silently replay a subset.
    replay_frames must refuse loudly instead of losing frames."""
    import shutil

    import pytest

    base, frames, frames_dir = _write_fixture(tmp_path)
    files = sorted(glob.glob(os.path.join(frames_dir, "*.parquet")))
    assert len(files) > 2
    sub = os.path.join(frames_dir, "nested")
    os.makedirs(sub)
    shutil.move(files[-1], os.path.join(sub, os.path.basename(files[-1])))

    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    p = os.path.join(str(tmp_path), "repos.parquet")
    wg.write_base(base, p)
    eng.bootstrap_table("repos", spark.read.parquet(p), ["repo", "path"], 8)
    with pytest.raises(ValueError, match="mixed flat\\+nested"):
        eng.replay_frames(frames_dir, batch_frames=1000)


def test_streaming_foreign_suffix_file_not_stalled(spark, tmp_path):
    """The file source lists files regardless of name: a frame file
    WITHOUT a .parquet suffix is in the micro-batch df. Filtering it out
    of the footer spans fabricated a permanent seq gap that held every
    later file forever (ingest stall). The batch must fall back to the df
    groupBy and finish at golden."""
    base, frames, frames_dir = _write_fixture(tmp_path)
    files = sorted(glob.glob(os.path.join(frames_dir, "*.parquet")))
    assert len(files) > 2
    mid = files[len(files) // 2]
    os.rename(mid, mid[: -len(".parquet")] + ".frames")

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

    st = eng._load_state()
    assert not st.get("held_frames"), st.get("held_frames")
    golden_rows, glsn = golden_final_state({"repos": base}, frames, "repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in eng.table("repos").read(spark).collect())
    want = sorted((r["repo"], r["path"], r["content"]) for r in golden_rows)
    assert got == want
    assert eng.table("repos").applied_lsn() == glsn


def test_replay_spark_fallback_without_statistics(spark, tmp_path):
    """Frames from a foreign producer (no footer stats) replay through the
    Spark-aggregation fallback and still match golden."""
    base, frames, frames_dir = _write_fixture(tmp_path)
    # rewrite every frame file without statistics, preserving contents
    for f in glob.glob(os.path.join(frames_dir, "*.parquet")):
        t = pq.read_table(f)
        pq.write_table(t, f, write_statistics=False)
    assert seq_spans_from_footers(
        sorted(glob.glob(os.path.join(frames_dir, "*.parquet")))) is None

    wh = os.path.join(str(tmp_path), "wh")
    eng = ReplayEngine(spark, wh)
    p = os.path.join(str(tmp_path), "repos.parquet")
    wg.write_base(base, p)
    eng.bootstrap_table("repos", spark.read.parquet(p), ["repo", "path"], 8)
    eng.replay_frames(frames_dir, batch_frames=1000)

    golden_rows, glsn = golden_final_state({"repos": base}, frames, "repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in eng.table("repos").read(spark).collect())
    want = sorted((r["repo"], r["path"], r["content"])
                  for r in golden_rows)
    assert got == want
    assert eng.table("repos").applied_lsn() == glsn
