"""Raw transport-frame operators (SURVEY.md §2a parity).

For fixtures/captures that store raw replication CopyData payloads (the
``'w'``/``'k'`` dispatch byte still attached) instead of pre-split frames:

- ``split_xlogdata``: vectorized parse of the fixed 25-byte XLogData header
  (``'w'`` + wal_start u64 + wal_end u64 + send_time i64) into the engine's
  frame schema — the batch analog of the reference's header parse
  (/root/reference/src/stream.rs:1046-1075).
- ``parse_keepalive``: the 18-byte ``'k'`` message → (wal_end, server_time,
  reply_requested) — liveness rows carrying the offset advance
  (/root/reference/src/protocol.rs:1940-1965).
- ``filter_origin``: the client-side analog of the server's
  ``origin 'none'|'any'`` filter (/root/reference/src/stream.rs:130-143):
  with 'none', transactions attributed to a replication origin (events
  between an Origin message and its commit) are dropped.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from .. import worker_task
from .decode import _be64, _binary_buffers

RAW_SPARK_DDL = "seq long, raw binary"
FRAME_OUT_DDL = (
    "seq long, wal_start long, wal_end long, server_time long, tag int, "
    "data binary"
)
KEEPALIVE_DDL = "seq long, wal_end long, server_time long, reply_requested boolean"


def _split_batch(batch: pa.RecordBatch) -> pa.Table:
    t = pa.Table.from_batches([batch]).combine_chunks()
    seq = t.column("seq").to_numpy()
    buf, offsets = _binary_buffers(t.column("raw"))
    o, ends = offsets[:-1], offsets[1:]
    nonempty = ends > o
    first = np.where(nonempty, buf[np.where(nonempty, o, 0)], 0) \
        if len(buf) else np.zeros(len(seq), np.uint8)
    is_w = (first == ord("w")) & ((ends - o) >= 25)
    idx = np.nonzero(is_w)[0]
    wo = o[idx]
    wal_start = _be64(buf, wo + 1)
    wal_end = _be64(buf, wo + 9)
    server_time = _be64(buf, wo + 17)
    starts = wo + 25
    lens = ends[idx] - starts
    from .decode import _strings_from_slices

    data = _strings_from_slices(
        buf, starts, lens, np.ones(len(idx), bool)
    ).cast(pa.binary())
    tag = np.where(lens > 0, buf[np.where(lens > 0, starts, 0)], 0) \
        if len(buf) else np.zeros(len(idx), np.uint8)
    return pa.table(
        {
            "seq": pa.array(seq[idx]),
            "wal_start": pa.array(wal_start),
            "wal_end": pa.array(wal_end),
            "server_time": pa.array(server_time),
            "tag": pa.array(tag.astype(np.int32)),
            "data": data,
        }
    )


def split_xlogdata(raw_df: DataFrame) -> DataFrame:
    """Raw CopyData rows (seq, raw) → engine frame rows; keepalives and
    malformed rows are dropped (the transport layer's job)."""
    from .. import ensure_shipped

    ensure_shipped(raw_df.sparkSession)

    def fn(batches):
        for b in batches:
            yield from _split_batch(b).to_batches()

    return raw_df.mapInArrow(worker_task(fn), FRAME_OUT_DDL)


def parse_keepalive(raw_df: DataFrame) -> DataFrame:
    """Raw 'k' rows → (wal_end, server_time, reply_requested)."""
    from .. import ensure_shipped

    ensure_shipped(raw_df.sparkSession)

    def fn(batches):
        for b in batches:
            t = pa.Table.from_batches([b]).combine_chunks()
            seq = t.column("seq").to_numpy()
            buf, offsets = _binary_buffers(t.column("raw"))
            o, ends = offsets[:-1], offsets[1:]
            nonempty = ends > o
            first = np.where(nonempty, buf[np.where(nonempty, o, 0)], 0) \
                if len(buf) else np.zeros(len(seq), np.uint8)
            is_k = (first == ord("k")) & ((ends - o) >= 18)
            idx = np.nonzero(is_k)[0]
            ko = o[idx]
            yield from pa.table(
                {
                    "seq": pa.array(seq[idx]),
                    "wal_end": pa.array(_be64(buf, ko + 1)),
                    "server_time": pa.array(_be64(buf, ko + 9)),
                    "reply_requested": pa.array(buf[ko + 17] != 0),
                }
            ).to_batches()

    return raw_df.mapInArrow(worker_task(fn), KEEPALIVE_DDL)


_ORIGIN_DROP_TYPES = ("insert", "update", "delete", "truncate")


def filter_origin(events: DataFrame, mode: str = "none",
                  foreign_xids: list[int] | None = None) -> DataFrame:
    """origin 'none': drop the changes (DML + truncate) of transactions that
    carry a replication origin; 'any': passthrough.

    ``foreign_xids``: driver-known foreign xid set (from the control-scan
    context, including xids carried across micro-batch boundaries — an
    ORIGIN frame in batch N must poison the same txn's DML in batch N+1).
    When None, falls back to deriving the set from origin events present in
    this DataFrame (single-batch semantics only)."""
    if mode == "any":
        return events
    if mode != "none":
        raise ValueError("origin mode must be 'none' or 'any'")
    changes = F.col("event_type").isin(list(_ORIGIN_DROP_TYPES))
    if foreign_xids is not None:
        if not foreign_xids:
            return events
        return events.filter(
            ~(changes & F.col("xid").isin([int(x) for x in foreign_xids]))
        )
    # the decode kernel stamps origin events with their enclosing txn xid,
    # so foreign transactions are exactly the xids carrying an origin row
    foreign = (
        events.filter(
            (F.col("event_type") == "origin") & F.col("xid").isNotNull()
        )
        .select("xid")
        .distinct()
    )
    dml = events.filter(changes)
    non_dml = events.filter(~changes)
    return dml.join(F.broadcast(foreign), on="xid", how="left_anti") \
        .unionByName(non_dml)
