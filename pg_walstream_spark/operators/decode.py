"""Vectorized pgoutput decode kernel (the engine's stage 1).

Functional contract = the reference's connection-free decoder
(``PgOutputDecoder::decode_message``, /root/reference/src/protocol.rs:1880-1932):
complete frames in, relation-resolved change events out. Architecture differs
deliberately (SURVEY.md §1 "Columnar?"): frames arrive in Arrow batches and
the hot DML path is parsed **column-loop / row-vectorized** — numpy gathers
over the Arrow binary values buffer, looping over *column index* (bounded,
small) instead of rows. Per-row Python only touches rare control messages.

Driver-side context (built once per micro-batch from a cheap control-frame
scan, then broadcast):
- relation catalog timeline  → name binding + key columns (the broadcast
  map-join of SURVEY.md §2c);
- stream spans (S..E)        → in-stream xid detection without sequential
  state inside executors;
- transaction index          → commit stamping (commit_lsn/end_lsn/ts) and
  disposition (committed/aborted/open/prepared) at decode time, so the
  apply stage gates on transaction boundaries without a join.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np
import pyarrow as pa

from .. import worker_task
from ..protocol import PyWalParser, ProtocolError, constants as c

# ---------------------------------------------------------------------------
# Output schema (ChangeEvent, FIXTURES.md §3)
# ---------------------------------------------------------------------------

EVENT_ARROW_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("lsn", pa.int64()),
        ("wal_end", pa.int64()),
        ("server_time", pa.int64()),
        ("event_type", pa.string()),
        ("xid", pa.int64()),
        ("schema_name", pa.string()),
        ("table_name", pa.string()),
        ("relation_oid", pa.int64()),
        ("replica_identity", pa.string()),
        ("key_columns", pa.list_(pa.string())),
        ("key_type", pa.string()),
        ("old_data", pa.map_(pa.string(), pa.string())),
        ("new_data", pa.map_(pa.string(), pa.string())),
        ("new_toast", pa.list_(pa.string())),
        ("txn_status", pa.string()),
        ("commit_lsn", pa.int64()),
        ("end_lsn", pa.int64()),
        ("commit_ts_us", pa.int64()),
        ("final_lsn", pa.int64()),
        ("truncate_tables", pa.list_(pa.string())),
        ("gid", pa.string()),
        ("error", pa.string()),
        # subtransaction id of in-stream rows (the per-message xid prefix —
        # protocol.rs:1105-1132 discards only this span on a sub-abort)
        ("sub_xid", pa.int64()),
        # pg_logical_emit_message payload (protocol.rs:1027-1052 delivers
        # the body; round 1 dropped it and kept only the prefix)
        ("message_content", pa.binary()),
    ]
)

EVENT_SPARK_DDL = (
    "seq long, lsn long, wal_end long, server_time long, event_type string, "
    "xid long, schema_name string, table_name string, relation_oid long, "
    "replica_identity string, key_columns array<string>, key_type string, "
    "old_data map<string,string>, new_data map<string,string>, "
    "new_toast array<string>, txn_status string, commit_lsn long, "
    "end_lsn long, commit_ts_us long, final_lsn long, "
    "truncate_tables array<string>, gid string, error string, "
    "sub_xid long, message_content binary"
)

CONTROL_TAGS = frozenset(
    {
        c.TAG_RELATION, c.TAG_BEGIN, c.TAG_COMMIT, c.TAG_ORIGIN, c.TAG_TYPE,
        c.TAG_MESSAGE, c.TAG_TRUNCATE, c.TAG_STREAM_START, c.TAG_STREAM_STOP,
        c.TAG_STREAM_COMMIT, c.TAG_STREAM_ABORT, c.TAG_BEGIN_PREPARE,
        c.TAG_PREPARE, c.TAG_COMMIT_PREPARED, c.TAG_ROLLBACK_PREPARED,
        c.TAG_STREAM_PREPARE,
    }
)

ST_OPEN, ST_COMMITTED, ST_ABORTED, ST_PREPARED = 0, 1, 2, 3
_STATUS_NAMES = np.array(["open", "committed", "aborted", "prepared"])


class RelationVersion(NamedTuple):
    valid_from_seq: int
    namespace: str
    relname: str
    replica_identity: str
    names: tuple
    key_flags: tuple
    type_oids: tuple


class DecodeContext:
    """Driver-built, broadcast-sized decode context for one micro-batch."""

    def __init__(self):
        self.catalog: dict[int, list[RelationVersion]] = {}
        # streamed segments: data msgs with span_start < seq < span_stop are
        # in-stream with the span's xid
        self.span_starts = np.empty(0, np.int64)
        self.span_stops = np.empty(0, np.int64)
        self.span_xids = np.empty(0, np.int64)
        # non-streamed txn spans (begin/begin_prepare .. commit/prepare)
        self.begin_seqs = np.empty(0, np.int64)
        self.begin_xids = np.empty(0, np.int64)
        self.begin_ends = np.empty(0, np.int64)
        # xid → disposition
        self.xid_sorted = np.empty(0, np.int64)
        self.xid_status = np.empty(0, np.int8)
        self.xid_commit_lsn = np.empty(0, np.int64)
        self.xid_end_lsn = np.empty(0, np.int64)
        self.xid_ts = np.empty(0, np.int64)
        self.schema_changes: list[dict] = []
        self.protocol_version = 2
        self.has_origin = False
        # xids of origin-marked (foreign) transactions, including ones
        # carried from earlier batches whose span crosses the batch cut —
        # origin filtering must poison their DML in EVERY batch they touch,
        # not just the batch holding the ORIGIN frame
        self.origin_xids: set[int] = set()
        self.origin_carry: set[int] = set()
        # TRUNCATE frames of the batch: (seq, xid, relation names), stamped
        # exactly as the decode kernel stamps the truncate row, so the
        # engine reads truncate positions here instead of from the events
        self.truncates: list[tuple[int, int, tuple]] = []

    # -- lookups (all vectorized) ------------------------------------------

    def in_stream(self, seqs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(is_in_stream bool[n], xid int64[n])."""
        if len(self.span_starts) == 0:
            return np.zeros(len(seqs), bool), np.full(len(seqs), -1, np.int64)
        i = np.searchsorted(self.span_starts, seqs, "right") - 1
        ok = i >= 0
        ii = np.clip(i, 0, None)
        inside = ok & (seqs < self.span_stops[ii]) & (seqs > self.span_starts[ii])
        xid = np.where(inside, self.span_xids[ii], -1)
        return inside, xid

    def txn_of(self, seqs: np.ndarray) -> np.ndarray:
        """xid of the enclosing non-streamed transaction (-1 if none)."""
        if len(self.begin_seqs) == 0:
            return np.full(len(seqs), -1, np.int64)
        i = np.searchsorted(self.begin_seqs, seqs, "right") - 1
        ok = i >= 0
        ii = np.clip(i, 0, None)
        inside = ok & (seqs <= self.begin_ends[ii])
        return np.where(inside, self.begin_xids[ii], -1)

    def disposition(self, xids: np.ndarray):
        """(status int8[n], commit_lsn, end_lsn, ts) per xid; open if unknown."""
        n = len(xids)
        if len(self.xid_sorted) == 0:
            z = np.zeros(n, np.int64)
            return np.zeros(n, np.int8), z, z, z
        i = np.searchsorted(self.xid_sorted, xids)
        i = np.clip(i, 0, len(self.xid_sorted) - 1)
        hit = self.xid_sorted[i] == xids
        status = np.where(hit, self.xid_status[i], ST_OPEN).astype(np.int8)
        cl = np.where(hit, self.xid_commit_lsn[i], 0)
        el = np.where(hit, self.xid_end_lsn[i], 0)
        ts = np.where(hit, self.xid_ts[i], 0)
        return status, cl, el, ts

    def relation_version(self, oid: int, seq: int) -> RelationVersion | None:
        versions = self.catalog.get(oid)
        if not versions:
            return None
        out = None
        for v in versions:
            if v.valid_from_seq <= seq:
                out = v
            else:
                break
        return out


_B_STRUCT = struct.Struct(">QqI")   # final_lsn, ts, xid
_C_STRUCT = struct.Struct(">QQq")   # commit_lsn, end_lsn, ts


def _i64(v):
    """Reinterpret an unsigned 64-bit parser value as signed int64 (two's
    complement). The parser surface keeps true u64 semantics (pinned by the
    begin_u64_lsn_high_bit spec vector), but every kernel-side store —
    events schema, context arrays, Arrow tables — is int64, and _be64
    already views the same bytes as signed. A u64 LSN past 2^63 (9.2 EB of
    WAL) is unreachable for a real server but arrives freely from fuzzed/
    corrupt frames; unwrapped it overflowed Arrow int64 construction in the
    control-rows path (tests/test_fuzz_bytes.py, round 8)."""
    return v - (1 << 64) if v is not None and v >= (1 << 63) else v


def _fast_begin_commit(data: bytes) -> dict | None:
    """Inline parse of the two dominant control tags. Returns None for
    anything else (general parser path), including frames SHORTER than
    the fixed layout — those must raise through parser.parse exactly as
    before. Trailing bytes are ignored, matching the reader semantics.
    Field-identical to PyWalParser.parse (pinned differentially)."""
    if not data:
        return None
    tag = data[0]
    if tag == c.TAG_BEGIN and len(data) >= 21:
        final_lsn, ts, xid = _B_STRUCT.unpack_from(data, 1)
        return {"event_type": c.EVENT_BEGIN, "final_lsn": final_lsn,
                "commit_ts_us": ts, "xid": xid}
    if tag == c.TAG_COMMIT and len(data) >= 26:
        commit_lsn, end_lsn, ts = _C_STRUCT.unpack_from(data, 2)
        return {"event_type": c.EVENT_COMMIT, "flags": data[1],
                "commit_lsn": commit_lsn, "end_lsn": end_lsn,
                "commit_ts_us": ts}
    return None


def build_context(
    control_frames: list[dict],
    protocol_version: int = 2,
    carry_catalog: dict | None = None,
    carry_open_xid: int | None = None,
    carry_open_stream_xid: int | None = None,
    carry_aborted_subxids: list[int] | None = None,
    carry_origin_xids: list[int] | None = None,
) -> DecodeContext:
    """Sequentially replay the (rare) control frames on the driver to build
    the broadcast context. ``control_frames``: dicts with seq, wal_start,
    data — MUST be in seq order.

    ``carry_catalog``/``carry_open_xid`` resume state from the previous
    micro-batch (relation catalog; a transaction left open at the cut);
    ``carry_aborted_subxids``: subtransactions stream-aborted in earlier
    batches whose top-level transactions are still unresolved."""
    ctx = DecodeContext()
    ctx.protocol_version = protocol_version
    aborted_subxids: set[int] = set(carry_aborted_subxids or [])
    origin_xids: set[int] = {int(x) for x in (carry_origin_xids or [])}
    if origin_xids:
        ctx.has_origin = True
    parser = PyWalParser(protocol_version)
    if carry_catalog:
        # normalize fully: engine state round-trips through JSON, turning
        # the inner names/key_flags/type_oids tuples into lists — without
        # re-tupling, `prev[1:] != new[1:]` below would flag every identical
        # relation re-announcement after a restart as a schema change
        def _rv(v):
            if isinstance(v, RelationVersion):
                v = tuple(v)
            return RelationVersion(
                v[0], v[1], v[2], v[3], tuple(v[4]), tuple(v[5]), tuple(v[6])
            )

        ctx.catalog = {
            oid: [_rv(v) for v in versions]
            for oid, versions in carry_catalog.items()
        }

    span_s, span_e, span_x = [], [], []
    beg_s, beg_x, beg_e = [], [], []
    dispo: dict[int, tuple] = {}
    truncs: list[tuple[int, int, tuple]] = []
    open_begin_idx: int | None = None

    if carry_open_xid is not None:
        beg_s.append(-(1 << 62))
        beg_x.append(carry_open_xid)
        beg_e.append(1 << 62)
        open_begin_idx = 0
    if carry_open_stream_xid is not None:
        # a StreamStart..StreamStop segment split by the batch boundary:
        # everything up to the first StreamStop is in-stream with that xid
        span_s.append(-(1 << 62))
        span_e.append(1 << 62)
        span_x.append(carry_open_stream_xid)
        parser.in_stream_xid = carry_open_stream_xid

    for fr in control_frames:
        seq, lsn, data = fr["seq"], fr["wal_start"], bytes(fr["data"])
        # Begin/Commit dominate the control stream (2 per transaction);
        # their layouts are fixed and their parse is stateless, so the
        # driver-side control replay slices them inline instead of paying
        # the general parser's reader/dispatch per frame (~2x on a
        # 24k-control-frame batch; differentially pinned against
        # parser.parse in tests/test_decode_kernel.py). Everything else —
        # and any short frame — takes the general parser unchanged.
        m = _fast_begin_commit(data)
        if m is None:
            try:
                m = parser.parse(data)
            except ProtocolError:
                continue
        et = m["event_type"]
        if et == "relation":
            versions = ctx.catalog.setdefault(m["relation_oid"], [])
            new = RelationVersion(
                seq, m["namespace"], m["relname"], m["replica_identity"],
                tuple(col[1] for col in m["columns"]),
                tuple(col[0] for col in m["columns"]),
                tuple(col[2] for col in m["columns"]),
            )
            if versions:
                prev = versions[-1]
                if prev[1:] != new[1:]:
                    ctx.schema_changes.append(
                        {"oid": m["relation_oid"], "old": prev, "new": new,
                         "seq": seq, "lsn": lsn}
                    )
                    versions.append(new)
                # identical re-announcement: no new version
            else:
                versions.append(new)
        elif et in ("begin", "begin_prepare"):
            if open_begin_idx is not None:
                beg_e[open_begin_idx] = seq  # close dangling (defensive)
            beg_s.append(seq)
            beg_x.append(m["xid"])
            beg_e.append(1 << 62)
            open_begin_idx = len(beg_s) - 1
        elif et == "commit":
            if open_begin_idx is not None:
                beg_e[open_begin_idx] = seq
                dispo[beg_x[open_begin_idx]] = (
                    ST_COMMITTED, _i64(m["commit_lsn"]), _i64(m["end_lsn"]),
                    m["commit_ts_us"]
                )
                open_begin_idx = None
        elif et == "prepare":
            if open_begin_idx is not None:
                beg_e[open_begin_idx] = seq
                dispo.setdefault(m["xid"], (ST_PREPARED, 0, 0, 0))
                open_begin_idx = None
        elif et == "commit_prepared":
            dispo[m["xid"]] = (
                ST_COMMITTED, _i64(m["prepare_lsn"]), _i64(m["end_lsn"]),
                m["commit_ts_us"]
            )
        elif et == "rollback_prepared":
            dispo[m["xid"]] = (ST_ABORTED, 0, 0, 0)
        elif et == "stream_start":
            span_s.append(seq)
            span_e.append(1 << 62)
            span_x.append(m["xid"])
        elif et == "stream_stop":
            for i in range(len(span_e) - 1, -1, -1):
                if span_e[i] == 1 << 62:
                    span_e[i] = seq
                    break
        elif et == "stream_commit":
            dispo[m["xid"]] = (
                ST_COMMITTED, _i64(m["commit_lsn"]), _i64(m["end_lsn"]),
                m["commit_ts_us"]
            )
        elif et == "stream_prepare":
            dispo.setdefault(m["xid"], (ST_PREPARED, 0, 0, 0))
        elif et == "origin":
            ctx.has_origin = True
            # poison the enclosing transaction: its DML in this AND later
            # batches (via origin_carry) must be dropped under origin='none'
            enclosing = (
                beg_x[open_begin_idx] if open_begin_idx is not None
                else parser.in_stream_xid
            )
            if enclosing is not None:
                origin_xids.add(int(enclosing))
        elif et == "truncate":
            rvs = (ctx.relation_version(o, seq) for o in m["oids"])
            truncs.append((seq, m.get("xid") or -1,
                           tuple(rv.relname for rv in rvs if rv is not None)))
        elif et == "stream_abort":
            # subxid == xid → the whole streamed transaction aborts;
            # subxid != xid → ONLY the subtransaction's span of changes is
            # discarded; the top-level txn stays open and may still commit
            # (/root/reference/src/protocol.rs:1105-1132)
            if m["xid"] == m.get("subxid", m["xid"]):
                dispo[m["xid"]] = (ST_ABORTED, 0, 0, 0)
            else:
                aborted_subxids.add(m["subxid"])
        # type/message: no context effect

    ctx.span_starts = np.array(span_s, np.int64)
    ctx.span_stops = np.array(span_e, np.int64)
    ctx.span_xids = np.array(span_x, np.int64)
    ctx.begin_seqs = np.array(beg_s, np.int64)
    ctx.begin_xids = np.array(beg_x, np.int64)
    ctx.begin_ends = np.array(beg_e, np.int64)
    if dispo:
        xids = np.array(sorted(dispo), np.int64)
        ctx.xid_sorted = xids
        ctx.xid_status = np.array([dispo[x][0] for x in xids], np.int8)
        ctx.xid_commit_lsn = np.array(
            [_i64(dispo[x][1]) for x in xids], np.int64)
        ctx.xid_end_lsn = np.array(
            [_i64(dispo[x][2]) for x in xids], np.int64)
        ctx.xid_ts = np.array([dispo[x][3] for x in xids], np.int64)
    ctx.open_xid_carry = beg_x[open_begin_idx] if open_begin_idx is not None else None
    if truncs:
        # an xid-less truncate belongs to its enclosing begin..commit span
        # (_stamp_txn), known only once every span is closed
        seqs = np.array([t[0] for t in truncs], np.int64)
        txids = np.array([t[1] for t in truncs], np.int64)
        txids = np.where(txids >= 0, txids, ctx.txn_of(seqs))
        ctx.truncates = [(int(sq), int(x), names) for (sq, _, names), x
                         in zip(truncs, txids)]
    open_spans = [x for s_, e_, x in zip(span_s, span_e, span_x)
                  if e_ == 1 << 62]
    ctx.open_stream_carry = open_spans[-1] if open_spans else None
    ctx.aborted_subxids = np.array(sorted(aborted_subxids), np.int64)
    ctx.origin_xids = origin_xids
    # carry forward origin marks whose transactions are still unresolved
    # (no disposition yet, or prepared awaiting COMMIT PREPARED) — a
    # resolved foreign txn had its DML filtered this batch and is spent
    ctx.origin_carry = {
        x for x in origin_xids
        if x not in dispo or dispo[x][0] == ST_PREPARED
    }
    return ctx


# ---------------------------------------------------------------------------
# numpy big-endian gathers over the Arrow values buffer
# ---------------------------------------------------------------------------

def _be16(buf: np.ndarray, pos: np.ndarray) -> np.ndarray:
    # clamped gathers: callers bounds-check real reads and mask the rows
    # that fail, but the masked rows' SUBSTITUTE positions still gather —
    # a frame shorter than the fixed header would index past the buffer
    # and crash the whole kernel batch (found by the arbitrary-bytes fuzz
    # harness, tests/test_fuzz_bytes.py: a bare b'D' frame). Clamping never
    # changes an in-bounds read; out-of-bounds values are garbage the
    # caller's error mask already discards.
    top = len(buf) - 1
    return (buf[np.minimum(pos, top)].astype(np.int64) << 8) \
        | buf[np.minimum(pos + 1, top)]


def _be32(buf: np.ndarray, pos: np.ndarray) -> np.ndarray:
    top = len(buf) - 1
    return (
        (buf[np.minimum(pos, top)].astype(np.int64) << 24)
        | (buf[np.minimum(pos + 1, top)].astype(np.int64) << 16)
        | (buf[np.minimum(pos + 2, top)].astype(np.int64) << 8)
        | buf[np.minimum(pos + 3, top)]
    )


def _be64(buf: np.ndarray, pos: np.ndarray) -> np.ndarray:
    hi = _be32(buf, pos).astype(np.uint64)
    lo = _be32(buf, pos + 4).astype(np.uint64)
    return ((hi << np.uint64(32)) | lo).view(np.int64)


def _binary_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(values uint8[], offsets int64[n+1]) for a pa.binary()/large_binary."""
    if isinstance(arr, pa.ChunkedArray):
        arr = (
            arr.chunk(0) if arr.num_chunks == 1 else pa.concat_arrays(arr.chunks)
        )
    if pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type):
        off_dtype = np.int64
    else:
        off_dtype = np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], off_dtype)[arr.offset : arr.offset + len(arr) + 1]
    values = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return values, offsets.astype(np.int64)


def _strings_from_slices(
    buf: np.ndarray, starts: np.ndarray, lens: np.ndarray, valid: np.ndarray
) -> pa.Array:
    """Build a StringArray by gathering [start, start+len) slices; rows with
    valid=False become null. Fully vectorized (repeat + cumsum gather)."""
    lens = np.where(valid, lens, 0)
    total = int(lens.sum())
    out_offsets = np.zeros(len(lens) + 1, np.int64)
    np.cumsum(lens, out=out_offsets[1:])
    if total:
        # gather indices via scatter+cumsum: idx advances by 1 inside each
        # slice and jumps to the next slice's start at boundaries — one
        # sequential cumsum pass instead of two np.repeat + arange passes.
        # int32 throughout (Arrow batches are far below 2 GiB).
        nz = lens > 0
        s32 = starts[nz].astype(np.int32)
        l32 = lens[nz].astype(np.int32)
        pos = out_offsets[:-1][nz].astype(np.int32)
        delta = np.ones(total, np.int32)
        delta[0] = s32[0]
        if len(s32) > 1:
            delta[pos[1:]] = s32[1:] - s32[:-1] - l32[:-1] + 1
        idx = np.cumsum(delta, dtype=np.int32)
        data = buf[idx].tobytes()
    else:
        data = b""
    if out_offsets[-1] <= np.iinfo(np.int32).max:
        offs = pa.array(out_offsets.astype(np.int32)).buffers()[1]
        typ = pa.string()
    else:
        offs = pa.array(out_offsets).buffers()[1]
        typ = pa.large_string()
    validity = pa.array(valid.astype(bool)).buffers()[1]
    return pa.Array.from_buffers(
        typ, len(lens), [validity, offs, pa.py_buffer(data)],
        null_count=int((~valid).sum()),
    )


_HEX = np.frombuffer(b"0123456789abcdef", np.uint8)


def _hex_strings_from_slices(
    buf: np.ndarray, starts: np.ndarray, lens: np.ndarray, valid: np.ndarray
) -> pa.Array:
    """Binary-format column values → PostgreSQL bytea text form
    (``\\x<hex>``), fully vectorized (losslessness parity with
    /root/reference/integration-tests/binary_columns.rs)."""
    lens = np.where(valid, lens, 0).astype(np.int64)
    out_lens = np.where(lens > 0, 2 * lens + 2, np.where(valid, 2, 0))
    out_offsets = np.zeros(len(lens) + 1, np.int64)
    np.cumsum(out_lens, out=out_offsets[1:])
    total = int(out_offsets[-1])
    if total:
        data = np.empty(total, np.uint8)
        heads = out_offsets[:-1][valid]
        data[heads] = ord("\\")
        data[heads + 1] = ord("x")
        raw = _gather_slices(buf, starts, lens)
        if len(raw):
            hx = np.empty(2 * len(raw), np.uint8)
            hx[0::2] = _HEX[raw >> 4]
            hx[1::2] = _HEX[raw & 15]
            mask = np.ones(total, bool)
            mask[heads] = False
            mask[heads + 1] = False
            data[mask] = hx
        payload = data.tobytes()
    else:
        payload = b""
    offs = pa.array(out_offsets.astype(np.int32)).buffers()[1]
    validity = pa.array(valid.astype(bool)).buffers()[1]
    return pa.Array.from_buffers(
        pa.string(), len(lens), [validity, offs, pa.py_buffer(payload)],
        null_count=int((~valid).sum()),
    )


def _gather_slices(buf: np.ndarray, starts: np.ndarray,
                   lens: np.ndarray) -> np.ndarray:
    """Concatenate [start, start+len) slices into one uint8 array
    (scatter+cumsum index trick, shared by text and hex paths)."""
    total = int(lens.sum())
    if not total:
        return np.empty(0, np.uint8)
    nz = lens > 0
    s32 = starts[nz].astype(np.int32)
    l32 = lens[nz].astype(np.int32)
    out_off = np.zeros(int(nz.sum()), np.int64)
    np.cumsum(l32[:-1], out=out_off[1:]) if len(l32) > 1 else None
    delta = np.ones(total, np.int32)
    delta[0] = s32[0]
    if len(s32) > 1:
        pos = out_off[1:].astype(np.int32)
        delta[pos] = s32[1:] - s32[:-1] - l32[:-1] + 1
    idx = np.cumsum(delta, dtype=np.int32)
    return buf[idx]


def _walk_tuples(
    buf: np.ndarray, cur: np.ndarray, ends: np.ndarray, max_cols: int = 1600
):
    """Vectorized TupleData walk: loop over column index, gather over rows.

    Returns (kinds uint8[M, C], starts int64[M, C], lens int64[M, C],
    end_cur int64[M], err bool[M], ncols int64[M]) where C = max observed
    column count. kinds hold the raw kind bytes (n/u/t/b); 0 = absent.
    """
    M = len(cur)
    err = np.zeros(M, bool)
    ok = (cur + 2) <= ends
    err |= ~ok
    safe_cur = np.where(ok, cur, 0)
    ncols = np.where(ok, _be16(buf, safe_cur), 0)
    # alloc-cap guard (reference: src/protocol.rs:1296-1298): each column is
    # at least 1 byte, so ncols can't exceed remaining bytes
    bogus = ncols > (ends - cur - 2)
    err |= bogus & ok
    ncols = np.where(err, 0, ncols)
    C = int(min(max(int(ncols.max()) if M else 0, 0), max_cols))
    kinds = np.zeros((M, C), np.uint8)
    starts = np.zeros((M, C), np.int64)
    lens = np.zeros((M, C), np.int64)
    pos = cur + 2
    for j in range(C):
        active = (~err) & (j < ncols)
        if not active.any():
            break
        p = np.where(active, pos, 0)
        in_bounds = active & (p < ends)
        err |= active & ~in_bounds
        k = np.where(in_bounds, buf[np.where(in_bounds, p, 0)], 0)
        is_simple = in_bounds & ((k == c.COL_NULL) | (k == c.COL_UNCHANGED_TOAST))
        is_val = in_bounds & ((k == c.COL_TEXT) | (k == c.COL_BINARY))
        bad = in_bounds & ~(is_simple | is_val)
        err |= bad
        # length-prefixed values
        can_len = is_val & ((p + 5) <= ends)
        err |= is_val & ~can_len
        vlen = np.zeros(M, np.int64)
        sp = np.where(can_len, p, 0)
        vlen = np.where(can_len, _be32(buf, sp + 1), 0)
        fits = can_len & ((p + 5 + vlen) <= ends)
        err |= can_len & ~fits
        kinds[:, j] = np.where(in_bounds & ~err, k, 0)
        starts[:, j] = np.where(fits, p + 5, 0)
        lens[:, j] = np.where(fits, vlen, 0)
        pos = np.where(is_simple, p + 1, np.where(fits, p + 5 + vlen, p))
    return kinds, starts, lens, pos, err, ncols


# ---------------------------------------------------------------------------
# group assembly helpers
# ---------------------------------------------------------------------------

def _tiled_keys(names: tuple, M: int) -> pa.Array:
    """StringArray of ``names`` repeated M times, built directly from
    buffers (no per-row Python objects — this is the map-key column for
    every row of a relation group)."""
    name_bytes = [n.encode("utf-8") for n in names]
    pattern = b"".join(name_bytes)
    lens = np.array([len(b) for b in name_bytes], np.int32)
    one_offsets = np.zeros(len(names) + 1, np.int32)
    np.cumsum(lens, out=one_offsets[1:])
    pat_len = one_offsets[-1]
    # offsets for M repetitions: tile the per-name offsets and add stride
    reps = np.tile(one_offsets[1:], M) + np.repeat(
        np.arange(M, dtype=np.int64) * int(pat_len), len(names)
    )
    offsets = np.empty(len(names) * M + 1, np.int64)
    offsets[0] = 0
    offsets[1:] = reps
    data = pattern * M
    if offsets[-1] <= np.iinfo(np.int32).max:
        off_buf = pa.py_buffer(offsets.astype(np.int32).tobytes())
        return pa.Array.from_buffers(
            pa.string(), len(names) * M, [None, off_buf, pa.py_buffer(data)]
        )
    off_buf = pa.py_buffer(offsets.tobytes())
    return pa.Array.from_buffers(
        pa.large_string(), len(names) * M, [None, off_buf, pa.py_buffer(data)]
    )


def _map_from_group(
    buf, names: tuple, kinds, starts, lens, row_valid: np.ndarray
) -> pa.Array:
    """Map<string,string> with one entry per relation column per row; 'n' and
    'u' kinds become null values. Rows with row_valid=False become null maps."""
    M, C = kinds.shape[0], len(names)
    if M == 0:
        return pa.array([], pa.map_(pa.string(), pa.string()))
    kk = kinds[:, :C] if kinds.shape[1] >= C else np.pad(
        kinds, ((0, 0), (0, C - kinds.shape[1]))
    )
    ss = starts[:, :C] if starts.shape[1] >= C else np.pad(
        starts, ((0, 0), (0, C - starts.shape[1]))
    )
    ll = lens[:, :C] if lens.shape[1] >= C else np.pad(
        lens, ((0, 0), (0, C - lens.shape[1]))
    )
    flat_t = (kk == c.COL_TEXT).ravel()
    flat_b = (kk == c.COL_BINARY).ravel()
    items = _strings_from_slices(buf, ss.ravel(), ll.ravel(), flat_t | flat_b)
    if flat_b.any():
        # binary-format values → bytea hex text (lossless); zero cost on the
        # default text-mode path
        import pyarrow.compute as pc

        hex_items = _hex_strings_from_slices(buf, ss.ravel(), ll.ravel(), flat_b)
        items = pc.if_else(pa.array(flat_b), hex_items, items)
    keys = _tiled_keys(names, M)
    offsets = pa.array(np.arange(0, (M + 1) * C, C, dtype=np.int32))
    m = pa.MapArray.from_arrays(offsets, keys, items)
    if row_valid.all():
        return m
    idx = pa.array(
        np.arange(M, dtype=np.int64), mask=~row_valid
    )
    return m.take(idx)


def _list_from_counts(values: np.ndarray, counts: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(counts) + 1, np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values, pa.string())
    )


def _toast_lists(names: tuple, kinds: np.ndarray) -> pa.Array:
    C = min(len(names), kinds.shape[1]) if kinds.size else 0
    if C == 0:
        return pa.array([[] for _ in range(kinds.shape[0])], pa.list_(pa.string()))
    mask = kinds[:, :C] == c.COL_UNCHANGED_TOAST
    counts = mask.sum(1).astype(np.int32)
    rows, cols = np.nonzero(mask)
    values = np.array(names, object)[cols]
    return _list_from_counts(values, counts)


def _key_columns_lists(
    names: tuple, key_flags: tuple, key_type_codes: np.ndarray
) -> pa.Array:
    """Per-row key_columns: 'O' → all columns (REPLICA IDENTITY FULL rule),
    else → flagged key columns (/root/reference/src/protocol.rs:1338-1366)."""
    names_arr = np.array(names, object)
    key_idx = np.array([i for i, f in enumerate(key_flags) if f & 1], np.int64)
    if len(key_idx) == 0:
        key_idx = np.arange(len(names), dtype=np.int64)
    M = len(key_type_codes)
    is_o = key_type_codes == c.KEY_TYPE_OLD
    C, K = len(names), len(key_idx)
    counts = np.where(is_o, C, K).astype(np.int64)
    total = int(counts.sum())
    offsets = np.zeros(M + 1, np.int64)
    np.cumsum(counts, out=offsets[1:])
    pos = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], counts)
    rowid = np.repeat(np.arange(M), counts)
    from_all = is_o[rowid]
    idx = np.where(from_all, pos, key_idx[np.clip(pos, 0, K - 1)])
    return _list_from_counts(names_arr[idx], counts.astype(np.int32))


# ---------------------------------------------------------------------------
# the kernel
# ---------------------------------------------------------------------------

_NULL = {f.name: None for f in EVENT_ARROW_SCHEMA}


def _rows_to_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(
        [dict(_NULL, **r) for r in rows], schema=EVENT_ARROW_SCHEMA
    )


def decode_batch(batch, ctx: DecodeContext) -> pa.Table:
    """Decode one Arrow batch of frames into ChangeEvent rows (seq-sorted)."""
    if isinstance(batch, pa.RecordBatch):
        batch = pa.Table.from_batches([batch])
    batch = batch.combine_chunks()
    n = batch.num_rows
    if n == 0:
        return EVENT_ARROW_SCHEMA.empty_table()
    seq = batch.column("seq").to_numpy()
    lsn = batch.column("wal_start").to_numpy()
    wal_end = batch.column("wal_end").to_numpy()
    server_time = batch.column("server_time").to_numpy()
    buf, offsets = _binary_buffers(batch.column("data"))
    o = offsets[:-1]
    ends = offsets[1:]
    nonempty = (ends > o) if len(buf) else np.zeros(n, bool)
    tag = np.where(nonempty, buf[np.where(nonempty, o, 0)], 0) if len(buf) else np.zeros(n, np.uint8)

    in_stream, stream_xid = ctx.in_stream(seq)
    xid_off = np.where(
        in_stream & (ctx.protocol_version >= 2), 4, 0
    ).astype(np.int64)

    pieces: list[pa.Table] = []
    handled = np.zeros(n, bool)

    for dml_tag in (c.TAG_INSERT, c.TAG_UPDATE, c.TAG_DELETE):
        mask = (tag == dml_tag) & nonempty
        if not mask.any():
            continue
        handled |= mask
        pieces.append(
            _decode_dml_group(
                dml_tag, np.nonzero(mask)[0], buf, o, ends, seq, lsn, wal_end,
                server_time, xid_off, stream_xid, ctx,
            )
        )

    # control + rare messages: per-row python on a small remainder
    rest_idx = np.nonzero(~handled & nonempty)[0]
    if len(rest_idx) or (~nonempty).any():
        pieces.append(
            _decode_control_rows(
                rest_idx, np.nonzero(~nonempty)[0], buf, o, ends, seq, lsn,
                wal_end, server_time, xid_off, stream_xid, in_stream, ctx,
            )
        )

    out = pa.concat_tables([p for p in pieces if p.num_rows], promote_options="default")
    return out.sort_by("seq")


def _stamp_txn(seqs, explicit_xid, ctx: DecodeContext):
    """Resolve (xid, status, commit_lsn, end_lsn, ts) for DML rows."""
    xid = np.where(explicit_xid >= 0, explicit_xid, ctx.txn_of(seqs))
    status, cl, el, ts = ctx.disposition(xid)
    # unknown txn (no begin seen) → open
    status = np.where(xid < 0, ST_OPEN, status).astype(np.int8)
    return xid, status, cl, el, ts


def _decode_dml_group(
    dml_tag, idx, buf, o, ends, seq, lsn, wal_end, server_time, xid_off,
    stream_xid, ctx,
):
    M = len(idx)
    gseq = seq[idx]
    goff = o[idx] + 1 + xid_off[idx]
    gends = ends[idx]
    err = np.zeros(M, bool)
    errmsg = np.full(M, None, object)

    ok = (goff + 4) <= gends
    err |= ~ok
    oid = np.where(ok, _be32(buf, np.where(ok, goff, 0)), -1)
    cur = goff + 4

    key_type_codes = np.zeros(M, np.uint8)
    old_kinds = old_starts = old_lens = None
    has_old = np.zeros(M, bool)

    if dml_tag in (c.TAG_UPDATE, c.TAG_DELETE):
        can = (~err) & (cur < gends)
        err |= ~can
        sub = np.where(can, buf[np.where(can, cur, 0)], 0)
        is_old = can & ((sub == c.KEY_TYPE_KEY) | (sub == c.KEY_TYPE_OLD))
        if dml_tag == c.TAG_DELETE:
            err |= can & ~is_old
        key_type_codes = np.where(is_old, sub, 0).astype(np.uint8)
        has_old = is_old
        # walk old tuples where present
        walk_cur = np.where(is_old, cur + 1, cur)
        if is_old.any():
            ok_idx = np.nonzero(is_old)[0]
            k2, s2, l2, end2, e2, _ = _walk_tuples(
                buf, walk_cur[ok_idx], gends[ok_idx]
            )
            old_kinds = np.zeros((M, k2.shape[1]), np.uint8)
            old_starts = np.zeros((M, k2.shape[1]), np.int64)
            old_lens = np.zeros((M, k2.shape[1]), np.int64)
            old_kinds[ok_idx] = k2
            old_starts[ok_idx] = s2
            old_lens[ok_idx] = l2
            err[ok_idx] |= e2
            cur = cur.copy()
            cur[ok_idx] = end2
        else:
            old_kinds = np.zeros((M, 0), np.uint8)
            old_starts = np.zeros((M, 0), np.int64)
            old_lens = np.zeros((M, 0), np.int64)

    new_kinds = new_starts = new_lens = None
    if dml_tag in (c.TAG_INSERT, c.TAG_UPDATE):
        can = (~err) & (cur < gends)
        err |= ~can
        mark = np.where(can, buf[np.where(can, cur, 0)], 0)
        good = can & (mark == c.NEW_TUPLE_MARK)
        err |= can & ~good
        new_kinds, new_starts, new_lens, _, e3, _ = _walk_tuples(
            buf, np.where(good, cur + 1, cur), gends
        )
        err |= e3 & good
        errmsg[np.nonzero(e3 & good)[0]] = "malformed tuple data"
    errmsg[np.nonzero(err & (errmsg == None))[0]] = "malformed dml message"  # noqa: E711

    # relation resolution: group rows by (oid, catalog version)
    xid, status, cl, el, ts = _stamp_txn(gseq, stream_xid[idx], ctx)
    # per-message xid prefix of in-stream rows = the emitting
    # SUBtransaction's xid; rows of a stream-aborted subtransaction are
    # poisoned even though their top-level txn may still commit
    gxo = xid_off[idx]
    sub = np.where(
        gxo > 0, _be32(buf, np.where(gxo > 0, o[idx] + 1, 0)), -1
    ).astype(np.int64)
    aborted_sub = getattr(ctx, "aborted_subxids", None)
    if aborted_sub is not None and len(aborted_sub):
        status = np.where(
            (sub >= 0) & np.isin(sub, aborted_sub), ST_ABORTED, status
        ).astype(np.int8)
    event_name = {
        c.TAG_INSERT: c.EVENT_INSERT,
        c.TAG_UPDATE: c.EVENT_UPDATE,
        c.TAG_DELETE: c.EVENT_DELETE,
    }[dml_tag]

    sub_tables = []
    uniq_oids = np.unique(oid)
    for u_oid in uniq_oids:
        omask = oid == u_oid
        versions = ctx.catalog.get(int(u_oid)) if u_oid >= 0 else None
        if not versions:
            # unknown relation → quarantine rows (reference WARN-drops;
            # we keep them as error rows for metrics)
            rows_err = np.nonzero(omask)[0]
            sub_tables.append(_error_table(
                rows_err, gseq, lsn[idx], wal_end[idx], server_time[idx],
                event_name, xid, sub,
                "unknown relation" if u_oid >= 0 else "malformed dml message",
            ))
            continue
        vfrom = np.array([v.valid_from_seq for v in versions], np.int64)
        vi = np.searchsorted(vfrom, gseq[omask], "right") - 1
        vi = np.clip(vi, 0, len(versions) - 1)
        for v_idx in np.unique(vi):
            rel = versions[v_idx]
            sel = np.nonzero(omask)[0][vi == v_idx]
            g_err = err[sel]
            tbl = _assemble_dml_subgroup(
                event_name, rel, int(u_oid), sel, buf, gseq, lsn[idx],
                wal_end[idx], server_time[idx], xid, status, cl, el, ts,
                key_type_codes, has_old, old_kinds, old_starts, old_lens,
                new_kinds, new_starts, new_lens, g_err, errmsg, sub,
            )
            sub_tables.append(tbl)
    return pa.concat_tables(sub_tables, promote_options="default") \
        if sub_tables else EVENT_ARROW_SCHEMA.empty_table()


def _error_table(sel, gseq, glsn, gwal_end, gst, event_name, xid, sub, msg):
    M = len(sel)
    return pa.Table.from_arrays(
        [
            pa.array(gseq[sel]), pa.array(glsn[sel]), pa.array(gwal_end[sel]),
            pa.array(gst[sel]), pa.array([event_name] * M),
            pa.array(xid[sel], mask=xid[sel] < 0),
            pa.nulls(M, pa.string()), pa.nulls(M, pa.string()),
            pa.nulls(M, pa.int64()), pa.nulls(M, pa.string()),
            pa.nulls(M, pa.list_(pa.string())), pa.nulls(M, pa.string()),
            pa.nulls(M, pa.map_(pa.string(), pa.string())),
            pa.nulls(M, pa.map_(pa.string(), pa.string())),
            pa.nulls(M, pa.list_(pa.string())), pa.nulls(M, pa.string()),
            pa.nulls(M, pa.int64()), pa.nulls(M, pa.int64()),
            pa.nulls(M, pa.int64()), pa.nulls(M, pa.int64()),
            pa.nulls(M, pa.list_(pa.string())), pa.nulls(M, pa.string()),
            pa.array([msg] * M, pa.string()),
            pa.array(sub[sel], mask=sub[sel] < 0),
            pa.nulls(M, pa.binary()),
        ],
        schema=EVENT_ARROW_SCHEMA,
    )


def _assemble_dml_subgroup(
    event_name, rel: RelationVersion, oid, sel, buf, gseq, glsn, gwal_end,
    gst, xid, status, cl, el, ts, key_type_codes, has_old,
    old_kinds, old_starts, old_lens, new_kinds, new_starts, new_lens,
    g_err, errmsg, sub,
):
    M = len(sel)
    names = rel.names
    valid = ~g_err

    if new_kinds is not None:
        new_map = _map_from_group(
            buf, names, new_kinds[sel], new_starts[sel], new_lens[sel], valid
        )
        toast = _toast_lists(names, new_kinds[sel])
    else:
        new_map = pa.nulls(M, pa.map_(pa.string(), pa.string()))
        toast = pa.nulls(M, pa.list_(pa.string()))

    if old_kinds is not None and old_kinds.shape[1] > 0:
        old_valid = valid & has_old[sel]
        old_map = _map_from_group(
            buf, names, old_kinds[sel], old_starts[sel], old_lens[sel], old_valid
        )
    else:
        old_map = pa.nulls(M, pa.map_(pa.string(), pa.string()))

    ktc = key_type_codes[sel]
    key_cols = _key_columns_lists(names, rel.key_flags, ktc)
    kt_strs = np.full(M, None, object)
    kt_strs[ktc == c.KEY_TYPE_KEY] = "K"
    kt_strs[ktc == c.KEY_TYPE_OLD] = "O"
    key_type = pa.array(kt_strs, pa.string())
    xs = xid[sel]
    stat = status[sel]
    committed = stat == ST_COMMITTED
    return pa.Table.from_arrays(
        [
            pa.array(gseq[sel]), pa.array(glsn[sel]), pa.array(gwal_end[sel]),
            pa.array(gst[sel]),
            pa.repeat(event_name, M),
            pa.array(xs, mask=xs < 0),
            pa.repeat(rel.namespace, M),
            pa.repeat(rel.relname, M),
            pa.array(np.full(M, oid, np.int64)),
            pa.repeat(rel.replica_identity, M),
            key_cols, key_type, old_map, new_map, toast,
            pa.array(_STATUS_NAMES[stat], pa.string()),
            pa.array(cl[sel], mask=~committed),
            pa.array(el[sel], mask=~committed),
            pa.array(ts[sel], mask=~committed),
            pa.nulls(M, pa.int64()),
            pa.nulls(M, pa.list_(pa.string())),
            pa.nulls(M, pa.string()),
            pa.array(errmsg[sel], pa.string()),
            pa.array(sub[sel], mask=sub[sel] < 0),
            pa.nulls(M, pa.binary()),
        ],
        schema=EVENT_ARROW_SCHEMA,
    )


def _decode_control_rows(
    idx, empty_idx, buf, o, ends, seq, lsn, wal_end, server_time, xid_off,
    stream_xid, in_stream, ctx,
):
    rows = []
    for i in empty_idx:
        rows.append({"seq": int(seq[i]), "lsn": int(lsn[i]),
                     "wal_end": int(wal_end[i]),
                     "server_time": int(server_time[i]),
                     "event_type": "error", "error": "empty frame"})
    parser = PyWalParser(ctx.protocol_version)
    for i in idx:
        data = buf[o[i] : ends[i]].tobytes()
        parser.in_stream_xid = int(stream_xid[i]) if in_stream[i] else None
        base = {
            "seq": int(seq[i]), "lsn": int(lsn[i]), "wal_end": int(wal_end[i]),
            "server_time": int(server_time[i]),
        }
        try:
            m = parser.parse(data)
        except ProtocolError as ex:
            rows.append({**base, "event_type": "error", "error": str(ex)})
            continue
        et = m["event_type"]
        r = {**base, "event_type": et, "xid": m.get("xid")}
        if et == "begin":
            r["final_lsn"] = _i64(m["final_lsn"])
            r["commit_ts_us"] = m["commit_ts_us"]
        elif et in ("commit", "stream_commit"):
            r["commit_lsn"] = _i64(m["commit_lsn"])
            r["end_lsn"] = _i64(m["end_lsn"])
            r["commit_ts_us"] = m["commit_ts_us"]
            r["txn_status"] = "committed"
        elif et == "relation":
            r["relation_oid"] = m["relation_oid"]
            r["schema_name"] = m["namespace"]
            r["table_name"] = m["relname"]
            r["replica_identity"] = m["replica_identity"]
            r["key_columns"] = [col[1] for col in m["columns"] if col[0] & 1]
        elif et == "truncate":
            xid2, status, cl, el, ts = _stamp_txn(
                np.array([seq[i]]), np.array([m.get("xid") or -1]), ctx
            )
            names = [
                ctx.relation_version(oid2, int(seq[i])).relname
                for oid2 in m["oids"]
                if ctx.relation_version(oid2, int(seq[i])) is not None
            ]
            r["truncate_tables"] = names
            r["xid"] = int(xid2[0]) if xid2[0] >= 0 else None
            r["txn_status"] = str(_STATUS_NAMES[status[0]])
            if status[0] == ST_COMMITTED:
                r["commit_lsn"] = int(cl[0])
                r["end_lsn"] = int(el[0])
                r["commit_ts_us"] = int(ts[0])
        elif et == "type":
            r["relation_oid"] = m["type_oid"]
            r["schema_name"] = m["namespace"]
            r["table_name"] = m["name"]
        elif et == "origin":
            r["final_lsn"] = _i64(m["origin_lsn"])
            r["table_name"] = m["name"]
            # stamp the enclosing txn so origin filtering can poison its DML
            ox = ctx.txn_of(np.array([seq[i]]))[0]
            r["xid"] = int(ox) if ox >= 0 else None
        elif et == "message":
            r["final_lsn"] = _i64(m["message_lsn"])
            r["table_name"] = m["prefix"]
            r["message_content"] = bytes(m["content"])
        elif et in ("begin_prepare", "prepare", "commit_prepared",
                    "rollback_prepared", "stream_prepare"):
            r["gid"] = m["gid"]
            r["end_lsn"] = _i64(m.get("end_lsn"))
            r["commit_ts_us"] = m.get("commit_ts_us")
            r["commit_lsn"] = _i64(m.get("prepare_lsn",
                                         m.get("prepare_end_lsn")))
            if et == "commit_prepared":
                r["txn_status"] = "committed"
        elif et == "stream_abort":
            r["txn_status"] = "aborted"
            r["sub_xid"] = m.get("subxid")
        elif et == "keepalive":
            # heartbeat: no state effect downstream (matches no DML/apply/
            # truncate filter), but the payload wal_end is the server flush
            # position — surface it so received-LSN tracking can advance
            # past the last data frame (reference stream.rs:1126-1142)
            r["wal_end"] = _i64(m["wal_end"])
            r["server_time"] = m["server_ts_us"]
        rows.append(r)
    return _rows_to_table(rows)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

# The pending-store spill predicate: the apply path's event types (DML and
# truncate) of transactions still open or prepared at the batch's end. An
# open transaction's truncate must survive a micro-batch boundary exactly
# like its DML, or a batch split between TRUNCATE and COMMIT drops it.
_SPILL_TYPES = pa.array(["insert", "update", "delete", "truncate"])
_SPILL_STATUS = pa.array(["open", "prepared"])
# A dead letter: the decode error plus the columns that locate the rejected
# frame in the retained WAL (re-extract the raw frame by ``seq``).
DEAD_LETTER_SCHEMA = pa.schema([
    EVENT_ARROW_SCHEMA.field(n) for n in (
        "seq", "lsn", "xid", "event_type", "schema_name", "table_name",
        "relation_oid", "error")])


class SideOutputs(NamedTuple):
    """Where each decode task writes its side outputs: rejected rows into
    ``dead_letters``; with ``pending`` set, the pending-store rows
    (``_pending_rows``, minus ``drop_xids``) into that delta dir."""

    dead_letters: str
    pending: str | None
    drop_xids: tuple


def _pending_rows(t: pa.Table, drop_xids=()) -> pa.Table:
    """The rows of decoded events ``t`` the pending store keeps: apply-path
    events without a decode error whose transaction is open or prepared.
    ``drop_xids`` (origin 'none' foreign transactions) drops those xids'
    rows, null xids included, as ``raw.filter_origin`` does."""
    import pyarrow.compute as pc

    keep = pc.and_(
        pc.and_(pc.is_in(t.column("event_type"), value_set=_SPILL_TYPES),
                pc.is_null(t.column("error"))),
        pc.is_in(t.column("txn_status"), value_set=_SPILL_STATUS))
    if len(drop_xids):
        xid = t.column("xid")
        keep = pc.and_(keep, pc.and_(
            pc.is_valid(xid),
            pc.invert(pc.is_in(xid, value_set=pa.array(
                drop_xids, pa.int64())))))
    return t.filter(keep)


def write_spill_part(t: pa.Table, spill_dir: str, part: int) -> str:
    """Write one decode task's side-output rows as ``part-{part}.parquet``
    in ``spill_dir``. The file lands under a dot-prefixed temp name
    (ignored by Spark and by ``*.parquet`` listings) and is renamed into
    place, so a retried or recomputed attempt of the same partition
    replaces it with the same bytes."""
    import os
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(spill_dir, exist_ok=True)
    path = os.path.join(spill_dir, f"part-{part}.parquet")
    tmp = os.path.join(spill_dir, f".part-{part}.{uuid.uuid4().hex[:8]}.tmp")
    try:
        pq.write_table(t, tmp)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return path


def decode_frames_df(frames_df, ctx: DecodeContext,
                     side: SideOutputs | None = None):
    """frames DataFrame → ChangeEvent DataFrame via mapInArrow (narrow,
    no shuffle; whole-stage codegen resumes on the other side).

    ``side``: optional ``SideOutputs`` of a replay batch. Each decode task
    then also keeps its rejected rows (``DEAD_LETTER_SCHEMA``) and, with a
    pending dir, its ``_pending_rows``; once its input is exhausted it
    writes each non-empty set with ``write_spill_part`` — a side output of
    whichever job decodes the batch, so neither costs a second decode. All
    rows still stream on downstream."""
    from .. import ensure_shipped

    ensure_shipped(frames_df.sparkSession)

    def fn(batches):
        dead, held = [], []
        for b in batches:
            t = decode_batch(b, ctx)
            if side is not None:
                err = t.column("error")
                if err.null_count < len(err):
                    import pyarrow.compute as pc

                    dead.append(t.filter(pc.is_valid(err)).select(
                        DEAD_LETTER_SCHEMA.names))
                if side.pending is not None:
                    p = _pending_rows(t, side.drop_xids)
                    if p.num_rows:
                        held.append(p)
            yield from t.to_batches()
        if dead or held:
            from pyspark import TaskContext

            part = TaskContext.get().partitionId()
            if dead:
                write_spill_part(
                    pa.concat_tables(dead).cast(DEAD_LETTER_SCHEMA),
                    side.dead_letters, part)
            if held:
                write_spill_part(
                    pa.concat_tables(held).cast(EVENT_ARROW_SCHEMA),
                    side.pending, part)

    return frames_df.mapInArrow(worker_task(fn), EVENT_SPARK_DDL)
