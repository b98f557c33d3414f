"""Structured Streaming front-end: readStream over a growing frame directory
→ the engine's batch loop, the same one the bounded replay drives.

Maps the reference's live-tail lifecycle onto Spark's streaming runtime:
- the frame directory is the replication slot (files = COPY frames);
- ``maxFilesPerTrigger`` is the frame pump's batch drain
  (/root/reference/src/stream.rs:646-694);
- the engine state's consumed seq (``max_seq``) is the slot's restart
  cursor; the checkpointLocation only decides what Spark redelivers;
- the LakeTable LSN fence is the applied-LSN feedback — a batch replayed
  after a crash is skipped by the fence, so delivery is exactly-once end to
  end (the contract of /root/reference/src/stream.rs:1563-1582: ack only
  after successful apply).

This module keeps only file discovery (the stream's source log) and the
rate-limit chunking. Span planning, hold-and-release, the batch loop, the
control sidecar read and the retry are the engine's, shared with the
bounded replay (``ReplayEngine.frame_spans`` / ``admit_spans`` /
``run_batches``).
"""

from __future__ import annotations

import os
from time import monotonic as _monotonic

from pyspark.sql import DataFrame, SparkSession

from .engine import (
    FRAME_SPARK_DDL, ReplayEngine, _local_path, tune_input_splits,
)

__all__ = ["FRAME_SPARK_DDL", "ingest_frames_batch", "start_stream"]


def _chunk_by_rate(process: list[dict], max_frames: int | None,
                   max_bytes: int | None) -> list[list[dict]]:
    """Split the contiguous admitted file run into rate-limited chunks.

    Greedy in seq order; a chunk closes when adding the next file would
    exceed either cap, but every chunk admits at least one file so a
    single oversized frame file still makes progress. With no caps the
    whole run is one chunk (the existing behavior).
    """
    if max_frames is None and max_bytes is None:
        return [process]
    chunks, cur, cur_n, cur_b = [], [], 0, 0
    for s in process:
        sz = s.get("bytes") or 0
        if cur and ((max_frames is not None and cur_n + s["n"] > max_frames)
                    or (max_bytes is not None and cur_b + sz > max_bytes)):
            chunks.append(cur)
            cur, cur_n, cur_b = [], 0, 0
        cur.append(s)
        cur_n += s["n"]
        cur_b += sz
    if cur:
        chunks.append(cur)
    return chunks


def _batch_files_from_source_log(checkpoint_dir: str | None,
                                 epoch_id: int) -> list[str] | None:
    """The micro-batch's file list from the stream's own file-source log
    (``<checkpoint>/sources/0/<batchId>``) — the authoritative record the
    FileStreamSource itself wrote for this batch, readable on the driver
    without a Spark job. Every ``compactInterval``-th batch is written as
    ``<batchId>.compact`` holding the full history; entries carry their
    originating ``batchId``, so filtering recovers the batch. Returns
    None on any anomaly (missing log, unknown format) — callers fall
    back to deriving spans with a Spark aggregation."""
    if not checkpoint_dir:
        return None
    base = os.path.join(checkpoint_dir, "sources", "0", str(epoch_id))
    path = base if os.path.isfile(base) else base + ".compact"
    if not os.path.isfile(path):
        return None
    try:
        import json as _json

        files: list[str] = []
        with open(path) as f:
            header = f.readline().strip()
            if not header.startswith("v"):
                return None
            for line in f:
                line = line.strip()
                if not line:
                    continue
                e = _json.loads(line)
                if int(e.get("batchId", -1)) == int(epoch_id):
                    files.append(e["path"])
        return files
    except Exception:
        return None


def ingest_frames_batch(engine: ReplayEngine, df: DataFrame,
                        epoch_id: int,
                        max_frames_per_batch: int | None = None,
                        max_bytes_per_batch: int | None = None,
                        checkpoint_dir: str | None = None
                        ) -> dict | None:
    """Apply one micro-batch of frame files with WAL-order repair
    (hold-and-release). Shared by the streaming sink and tests.

    Frames carry DENSE 0-based seq numbers and files are the transport's
    atomic delivery unit. The file source CAN deliver files out of WAL
    order (observed ~1/5 full-suite runs despite strictly increasing
    mtimes): a batch of files {1,3} would apply file 3's commits, advance
    the LSN fence past them, and then silently fence off file 2's
    transactions when it arrived "behind" the high-water mark. Instead of
    trusting delivery order, ``ReplayEngine.admit_spans`` skips files at
    or behind the consumed seq, admits the files extending it
    contiguously, and HOLDS files beyond a gap (by path, in engine state)
    until a later trigger fills the gap. Only a seq that never arrives
    (real WAL loss) blocks progress, and it stays visible as
    ``held_frames`` in the engine state / health report.
    """
    # foreachBatch hands a DataFrame bound to a CLONED SparkSession;
    # re-root the engine on it so every DataFrame the batch touches
    # (pending reads, dispo frames, target scans, the MERGE write) lives on
    # ONE session. Mixing the clone with the original session deadlocks
    # observed metrics (the write runs on one session's listener bus, the
    # observation waits on the other's) and leaves conf divergence between
    # plan fragments.
    engine.spark = df.sparkSession
    st = engine._load_state()

    # the file list from the stream's own source log feeds the footer
    # spans; without it frame_spans falls back to a groupBy over the df.
    # Spans keep the source-log URI spelling (same as input_file_name())
    # so held_frames state stays comparable across checkpoints.
    in_files = _batch_files_from_source_log(checkpoint_dir, epoch_id)
    if in_files is not None:
        # the file source lists files regardless of name, so a frame file
        # WITHOUT a .parquet suffix (foreign producer) is in this
        # micro-batch's df; dropping it from the spans would fabricate a
        # permanent seq gap that holds every later file forever. If any
        # source-log entry would be filtered, abandon the footer fast path
        # for this batch and let the df groupBy cover every file.
        flt = sorted(p for p in in_files if p.endswith(".parquet"))
        in_files = flt if len(flt) == len(in_files) else None
    spans = engine.frame_spans(df, in_files)
    known = {s["path"] for s in spans}
    process = engine.admit_spans(st, spans + [
        h for h in st.get("held_frames", []) if h["path"] not in known])
    if not process:
        engine._save_state(st)
        return None

    # rate limiting = batch SIZING, not trigger deferral: files are split
    # into caps-bounded chunks each applied as its own fenced micro-batch
    # job, all within this foreachBatch invocation. Deferring the excess
    # to held_frames would be wrong in Spark's trigger model — foreachBatch
    # only fires when NEW files arrive, so deferred files would strand
    # under availableNow (stream drains and stops) or a quiet live tail.
    # Chunking bounds what the rate limit actually protects — per-JOB
    # memory and shuffle size — while the catalog/max_seq carry in engine
    # state threads relation messages across chunks exactly as it does
    # across micro-batches (reference analog: bounded event batches in
    # integration-tests/rate_limited_streaming.rs:225-306).
    if max_frames_per_batch is not None or max_bytes_per_batch is not None:
        for s in process:
            try:
                s["bytes"] = os.stat(_local_path(s["path"])).st_size
            except OSError:
                s["bytes"] = 0
    chunks = _chunk_by_rate(process, max_frames_per_batch,
                            max_bytes_per_batch)

    def batches():
        for chunk in chunks:
            paths = [s["path"] for s in chunk]
            tune_input_splits(engine.spark, paths)
            if len(chunks) == 1 and set(paths) == known:
                batch_df = df  # common in-order case: the source's batch
            else:
                batch_df = df.sparkSession.read.schema(
                    FRAME_SPARK_DDL).parquet(*paths)
            yield (batch_df, min(s["lo"] for s in chunk),
                   max(s["hi"] for s in chunk))

    t_start = _monotonic()
    records = engine.run_batches(
        st, batches(),
        os.path.dirname(_local_path(process[0]["path"])).rstrip("/")
        + "_control")

    # ingest health: applied-vs-seen lag (non-zero only while frames are
    # gap-held) and this trigger's drain rate — the consumer-side
    # observability the reference surfaces as events/sec + LSN feedback
    elapsed = max(_monotonic() - t_start, 1e-9)
    n_frames = sum(s["n"] for s in process)
    st["ingest"] = {
        "epoch": int(epoch_id),
        "chunks": len(chunks),
        "frames": n_frames,
        "bytes": sum(s.get("bytes") or 0 for s in process),
        "frames_per_sec": round(n_frames / elapsed, 1),
        "lag_frames": sum(h["n"] for h in st["held_frames"]),
        "lag_spans": len(st["held_frames"]),
    }
    engine._save_state(st)
    result = records[-1] if records else None
    if result is not None and len(chunks) > 1:
        result["chunks"] = len(chunks)
    return result


def start_stream(
    spark: SparkSession,
    frames_path: str,
    warehouse: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    protocol_version: int = 2,
    max_frames_per_batch: int | None = None,
    max_bytes_per_batch: int | None = None,
):
    """Start (or resume) the streaming ingest. Returns the StreamingQuery.

    With ``available_now=True`` the query drains everything currently in the
    directory and stops — bounded replay with streaming semantics. With
    False it keeps tailing for new frame files (the live CDC mode).

    ``max_frames_per_batch`` / ``max_bytes_per_batch`` rate-limit the apply:
    a trigger's files are split into caps-bounded chunks, each replayed as
    its own fenced micro-batch job — bounding per-job memory and shuffle
    size when a burst (or a catch-up after downtime) delivers far more WAL
    than one job should bite off. The reference's rate-limited consumer
    pattern (integration-tests/rate_limited_streaming.rs) throttles its
    event loop the same way: bounded bites, LSN feedback after each.
    """
    engine = ReplayEngine(spark, warehouse, protocol_version)

    reader = (
        spark.readStream.schema(FRAME_SPARK_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(frames_path)
    )

    def apply_batch(df, epoch_id: int):
        ingest_frames_batch(engine, df, int(epoch_id),
                            max_frames_per_batch=max_frames_per_batch,
                            max_bytes_per_batch=max_bytes_per_batch,
                            checkpoint_dir=checkpoint_dir)

    writer = (
        reader.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
