"""Deterministic WAL fixture generator (FIXTURES.md §2).

Synthesizes replayable pgoutput frame tables — one row per XLogData frame,
mirroring the reference's ``RawXLogData`` (/root/reference/src/stream.rs:60-69)
plus a ``tag`` column (first payload byte) so control-plane scans prune via
parquet min/max stats instead of re-reading every payload.

Frame schema: (seq long, wal_start long, wal_end long, server_time long,
tag int, data binary).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..protocol import constants as c, encoder as e
from .repos import gen_repos_base, next_commit

FRAME_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("wal_start", pa.int64()),
        ("wal_end", pa.int64()),
        ("server_time", pa.int64()),
        ("tag", pa.int32()),
        ("data", pa.binary()),
    ]
)

REPOS_OID = 16384
REPOS_FULL_OID = 16385
REPOS_COLUMNS = [  # (flags bit0=key, name, type_oid, typmod)
    (1, "repo", 25, -1),
    (1, "path", 25, -1),
    (0, "commit", 25, -1),
    (0, "lang", 25, -1),
    (0, "content", 25, -1),
]
STARS_COLUMN = (0, "stars", 23, -1)


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


class WalBuilder:
    """Accumulates pgoutput frames with monotonically advancing LSNs."""

    def __init__(self, seed: int = 42, protocol_version: int = 2,
                 start_lsn: int = 0x0100_0000):
        self.rng = np.random.default_rng(seed)
        self.protocol_version = protocol_version
        self.lsn = start_lsn
        self.seq = 0
        self.next_xid = 1000
        self.frames: list[tuple[int, int, int, int, int, bytes]] = []
        self.commit_lsns: list[int] = []  # end_lsn of each commit, in order

    def emit(self, body: bytes) -> int:
        wal_start = self.lsn
        wal_end = wal_start + len(body)
        self.lsn = wal_end + 8  # gap models WAL record framing overhead
        server_time = self.seq * 1_000 + 1  # µs since PG epoch, deterministic
        self.frames.append(
            (self.seq, _signed64(wal_start), _signed64(wal_end), server_time,
             body[0], body)
        )
        self.seq += 1
        return wal_start

    def alloc_xid(self) -> int:
        self.next_xid += 1
        return self.next_xid

    def keepalive(self, reply_requested: bool = False,
                  wal_end: int | None = None) -> int:
        """Primary-keepalive heartbeat frame ('k'). Does NOT consume WAL
        address space — the payload wal_end is the server flush position
        (defaults to the current LSN), and the frame's own wal_start/wal_end
        both report it (reference protocol.rs:1940-1965)."""
        we = self.lsn if wal_end is None else wal_end
        body = e.encode_keepalive(we, self.seq * 1_000, reply_requested)
        server_time = self.seq * 1_000 + 1
        self.frames.append(
            (self.seq, _signed64(we), _signed64(we), server_time,
             body[0], body)
        )
        self.seq += 1
        return we

    def relation(self, oid: int, relname: str, columns, replica_identity="d",
                 namespace="public", xid=None):
        self.emit(e.encode_relation(oid, namespace, relname, replica_identity,
                                    columns, xid=xid))

    def begin(self, xid: int | None = None) -> int:
        xid = xid if xid is not None else self.alloc_xid()
        # final_lsn (the commit record's position) isn't knowable up front in
        # a generator; stamp the begin frame's own lsn — consumers only rely
        # on commit's (commit_lsn, end_lsn).
        self.emit(e.encode_begin(self.lsn, self.seq * 1_000, xid))
        return xid

    def commit(self) -> int:
        commit_lsn = self.lsn
        end_lsn = commit_lsn + 34 + 8
        self.emit(e.encode_commit(commit_lsn, end_lsn, self.seq * 1_000))
        self.lsn = max(self.lsn, end_lsn + 8)
        self.commit_lsns.append(end_lsn)
        return end_lsn

    def to_table(self) -> pa.Table:
        cols = list(zip(*self.frames)) if self.frames else [[]] * 6
        return pa.table(
            {name: pa.array(col, FRAME_SCHEMA.field(name).type)
             for name, col in zip(FRAME_SCHEMA.names, cols)}
        )


def row_tuple(row: dict, columns=REPOS_COLUMNS, toast: set[str] = frozenset(),
              only: set[str] | None = None):
    """Build TupleData from a row dict for the given relation columns."""
    tup = []
    for _, name, _, _ in columns:
        if only is not None and name not in only:
            tup.append(("n", None))
        elif name in toast:
            tup.append(("u", None))
        elif row.get(name) is None:
            tup.append(("n", None))
        else:
            tup.append(("t", str(row[name])))
    return tup


class _OpPlanner:
    """Deterministic DML planner over a live mirror of the base table."""

    def __init__(self, base: pa.Table, seed: int):
        self.rng = np.random.default_rng(seed ^ 0x0BADC0DE)
        self.rows = {
            (r["repo"], r["path"]): dict(r) for r in base.to_pylist()
        }
        self.keys = list(self.rows)
        self.versions = {k: 0 for k in self.keys}
        self.seed = seed
        self.new_i = 0

    def pick_live(self) -> dict:
        while True:
            k = self.keys[int(self.rng.integers(0, len(self.keys)))]
            if k in self.rows:
                return self.rows[k]

    def make_insert(self) -> dict:
        donor = self.pick_live()
        self.new_i += 1
        repo = donor["repo"]
        path = f"src/new/file{self.new_i}.py"
        row = {
            "repo": repo, "path": path,
            "commit": next_commit(self.seed, repo, path, 0),
            "lang": "python",
            "content": f"{repo}:{path}:v0\n# generated {self.new_i}",
        }
        self.rows[(repo, path)] = row
        self.keys.append((repo, path))
        self.versions[(repo, path)] = 0
        return row

    def make_update(self) -> dict:
        row = dict(self.pick_live())
        k = (row["repo"], row["path"])
        v = self.versions[k] + 1
        self.versions[k] = v
        row["commit"] = next_commit(self.seed, row["repo"], row["path"], v)
        row["content"] = f"{row['repo']}:{row['path']}:v{v}\n" + row["content"][:256]
        self.rows[k] = row
        return row

    def make_delete(self) -> dict:
        row = self.pick_live()
        del self.rows[(row["repo"], row["path"])]
        return row


def gen_basic(n_base: int = 200, n_txns: int = 20, ops_per_txn: int = 10,
              seed: int = 42) -> tuple[pa.Table, WalBuilder]:
    """Relation + N txns of (Begin, Insert×k, Commit), protocol v2."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    planner = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    for _ in range(n_txns):
        b.begin()
        for _ in range(ops_per_txn):
            b.emit(e.encode_insert(REPOS_OID, row_tuple(planner.make_insert())))
        b.commit()
    return base, b


def gen_mixed_dml(n_base: int = 300, n_txns: int = 30, ops_per_txn: int = 12,
                  seed: int = 42) -> tuple[pa.Table, WalBuilder]:
    """Insert/update/delete mix across two relations: ``repos`` (REPLICA
    IDENTITY default — updates carry 'K' or no old tuple, deletes 'K') and
    ``repos_full`` (REPLICA IDENTITY FULL — old tuples are 'O')."""
    base = gen_repos_base(n_base, seed)
    half = n_base // 2
    base_d, base_f = base.slice(0, half), base.slice(half)
    b = WalBuilder(seed)
    pd_, pf = _OpPlanner(base_d, seed), _OpPlanner(base_f, seed + 1)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS, "d")
    b.relation(REPOS_FULL_OID, "repos_full", REPOS_COLUMNS, "f")
    rng = np.random.default_rng(seed ^ 0xD31)
    for _ in range(n_txns):
        b.begin()
        for _ in range(ops_per_txn):
            full = bool(rng.integers(0, 2))
            oid = REPOS_FULL_OID if full else REPOS_OID
            pl = pf if full else pd_
            op = rng.choice(["i", "u", "u", "d"])
            if op == "i":
                b.emit(e.encode_insert(oid, row_tuple(pl.make_insert())))
            elif op == "u":
                old = dict(pl.pick_live())
                k = (old["repo"], old["path"])
                v = pl.versions[k] + 1
                pl.versions[k] = v
                newr = dict(old)
                newr["commit"] = next_commit(pl.seed, old["repo"], old["path"], v)
                newr["content"] = f"{old['repo']}:{old['path']}:v{v}\n" + old["content"][:256]
                pl.rows[k] = newr
                if full:
                    b.emit(e.encode_update(oid, row_tuple(newr),
                                           row_tuple(old), "O"))
                else:
                    style = int(rng.integers(0, 2))
                    if style == 0:  # key old tuple
                        b.emit(e.encode_update(
                            oid, row_tuple(newr),
                            row_tuple(old, only={"repo", "path"}), "K"))
                    else:  # no old tuple (key unchanged)
                        b.emit(e.encode_update(oid, row_tuple(newr)))
            else:
                old = pl.make_delete()
                if full:
                    b.emit(e.encode_delete(oid, row_tuple(old), "O"))
                else:
                    b.emit(e.encode_delete(
                        oid, row_tuple(old, only={"repo", "path"}), "K"))
        b.commit()
    return base, b


def gen_toast(n_base: int = 100, n_txns: int = 10, seed: int = 42):
    """Updates whose ``content`` column is an unchanged-TOAST ``'u'`` marker:
    the sink must carry the old value forward."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    for _ in range(n_txns):
        b.begin()
        for _ in range(6):
            old = dict(pl.pick_live())
            k = (old["repo"], old["path"])
            v = pl.versions[k] + 1
            pl.versions[k] = v
            newr = dict(old)
            newr["commit"] = next_commit(pl.seed, old["repo"], old["path"], v)
            # content untouched → sent as 'u'
            pl.rows[k] = newr
            b.emit(e.encode_update(
                REPOS_OID, row_tuple(newr, toast={"content"}),
                row_tuple(old, only={"repo", "path"}), "K"))
        b.commit()
    return base, b


def gen_truncate(n_base: int = 120, seed: int = 42):
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    b.begin()
    for _ in range(15):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    b.commit()
    b.begin()
    b.emit(e.encode_truncate([REPOS_OID]))
    b.commit()
    b.begin()
    for _ in range(10):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    b.commit()
    return base, b


def gen_streaming_subabort(n_base: int = 60, seed: int = 42,
                           protocol_version: int = 2):
    """Streamed txn X with subtransaction Y aborted mid-stream
    (stream_abort with subxid != xid — the case round 1 got wrong in both
    the kernel and the golden applier, in opposite directions): X's rows,
    including rows streamed AFTER the sub-abort, commit; Y's must vanish.
    At protocol_version >= 4 the stream_abort carries abort_lsn/abort_ts."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed, protocol_version=protocol_version)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    xid_top = b.alloc_xid()
    xid_sub = b.alloc_xid()
    b.emit(e.encode_stream_start(xid_top, True))
    for _ in range(4):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert()),
                               xid=xid_top))
    for j in range(3):
        row = {"repo": "orgS/subdoomed", "path": f"s{j}.py",
               "commit": "1" * 40, "lang": "python", "content": "sub-aborted"}
        b.emit(e.encode_insert(REPOS_OID, row_tuple(row), xid=xid_sub))
    b.emit(e.encode_stream_stop())
    if protocol_version >= 4:
        b.emit(e.encode_stream_abort(xid_top, xid_sub,
                                     abort_lsn=b.lsn, abort_ts=b.seq * 1_000))
    else:
        b.emit(e.encode_stream_abort(xid_top, xid_sub))
    b.emit(e.encode_stream_start(xid_top, False))
    for _ in range(3):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert()),
                               xid=xid_top))
    b.emit(e.encode_stream_stop())
    commit_lsn = b.lsn
    b.emit(e.encode_stream_commit(xid_top, commit_lsn, commit_lsn + 7,
                                  b.seq * 1_000))
    b.commit_lsns.append(commit_lsn + 7)
    return base, b


def gen_schema_evo(n_base: int = 100, seed: int = 42):
    """Mid-stream Relation re-announcement adding ``stars int`` — drives the
    schema-evolution path (relation diff → lake ADD COLUMN)."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    b.begin()
    for _ in range(8):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    b.commit()
    cols_v2 = REPOS_COLUMNS + [STARS_COLUMN]
    b.relation(REPOS_OID, "repos", cols_v2)
    b.begin()
    for i in range(8):
        row = pl.make_insert()
        row["stars"] = i * 7
        b.emit(e.encode_insert(REPOS_OID, row_tuple(row, cols_v2)))
    b.commit()
    return base, b


def gen_origin(n_base: int = 30, seed: int = 42):
    """One local transaction and one foreign-origin transaction (ORIGIN
    message after its BEGIN): with the origin 'none' replication option the
    foreign txn's rows must not apply; with 'any' they do."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    b.begin()
    for _ in range(4):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    b.commit()
    b.begin()
    b.emit(e.encode_origin(b.lsn, "upstream_node_7"))
    for j in range(3):
        row = {"repo": "orgF/foreign", "path": f"f{j}.py",
               "commit": "2" * 40, "lang": "python", "content": "foreign"}
        b.emit(e.encode_insert(REPOS_OID, row_tuple(row)))
    b.commit()
    return base, b


def gen_rename_column(n_base: int = 30, seed: int = 42):
    """Mid-stream positional column rename (lang → language) between two
    committed transactions: the engine must apply it as a read-alias
    rename (old rows keep their values under the new name) or fail loudly
    — never replay into ghost columns."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    b.begin()
    for _ in range(6):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    b.commit()
    cols_v2 = [
        (f, ("language" if n == "lang" else n), t, m)
        for f, n, t, m in REPOS_COLUMNS
    ]
    b.relation(REPOS_OID, "repos", cols_v2)
    b.begin()
    for _ in range(5):
        row = pl.make_insert()
        row["language"] = row.pop("lang")
        b.emit(e.encode_insert(REPOS_OID, row_tuple(row, cols_v2)))
    b.commit()
    return base, b


def gen_streaming(n_base: int = 100, seed: int = 42):
    """Two interleaved streamed transactions (protocol v2): segments
    StreamStart..DML..StreamStop for xids A and B; A stream-commits,
    B stream-aborts (its changes must vanish)."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    pl_a, pl_b = _OpPlanner(base, seed), _OpPlanner(base.slice(0, 0), seed + 9)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    xid_a, xid_b = b.alloc_xid(), b.alloc_xid()
    for seg in range(3):
        b.emit(e.encode_stream_start(xid_a, seg == 0))
        for _ in range(5):
            b.emit(e.encode_insert(REPOS_OID, row_tuple(pl_a.make_insert()),
                                   xid=xid_a))
        b.emit(e.encode_stream_stop())
        b.emit(e.encode_stream_start(xid_b, seg == 0))
        for j in range(4):
            row = {
                "repo": "orgB/doomed", "path": f"x{seg}_{j}.py",
                "commit": "0" * 40, "lang": "python", "content": "aborted",
            }
            b.emit(e.encode_insert(REPOS_OID, row_tuple(row), xid=xid_b))
        b.emit(e.encode_stream_stop())
    commit_lsn = b.lsn
    b.emit(e.encode_stream_commit(xid_a, commit_lsn, commit_lsn + 42,
                                  b.seq * 1_000))
    b.commit_lsns.append(commit_lsn + 42)
    b.emit(e.encode_stream_abort(xid_b, xid_b))
    return base, b


def gen_two_phase(n_base: int = 80, seed: int = 42):
    """BeginPrepare/DML/Prepare … later CommitPrepared (applied) and a second
    prepared txn that RollbackPrepared discards."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)

    xid1, xid2 = b.alloc_xid(), b.alloc_xid()
    ts = b.seq * 1_000
    p1 = b.lsn
    b.emit(e.encode_begin_prepare(p1, p1 + 1, ts, xid1, "gid-commit"))
    for _ in range(6):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    b.emit(e.encode_prepare(p1, b.lsn + 30, b.seq * 1_000, xid1, "gid-commit"))

    p2 = b.lsn
    b.emit(e.encode_begin_prepare(p2, p2 + 1, b.seq * 1_000, xid2, "gid-abort"))
    for j in range(4):
        row = {"repo": "orgR/rolled", "path": f"r{j}.py", "commit": "1" * 40,
               "lang": "python", "content": "rolled back"}
        b.emit(e.encode_insert(REPOS_OID, row_tuple(row)))
    b.emit(e.encode_prepare(p2, b.lsn + 30, b.seq * 1_000, xid2, "gid-abort"))

    cl = b.lsn
    b.emit(e.encode_commit_prepared(cl, cl + 40, b.seq * 1_000, xid1, "gid-commit"))
    b.commit_lsns.append(cl + 40)
    b.emit(e.encode_rollback_prepared(p2, b.lsn + 20, ts, b.seq * 1_000, xid2,
                                      "gid-abort"))
    return base, b


def gen_streaming_2pc(n_base: int = 90, seed: int = 42,
                      protocol_version: int = 4):
    """One fixture exercising every streamed + two-phase lifecycle path
    (S/E/c/A with sub-xid abort, b/P/K/r, and streamed-prepare p) — the
    driver-oracle companion to the per-feature generators above
    (reference anchor: integration-tests/streaming_decode.rs:238-591).

    1. streamed txn T1: segment, sub-txn rows, sub-xid ABORT (poisoned
       rows vanish, T1's own rows — incl. post-abort segment — commit);
    2. streamed txn T2: fully stream-aborted (all rows vanish);
    3. streamed 2PC txn T3: segments → stream_prepare → commit_prepared
       (rows apply at the commit-prepared record);
    4. plain 2PC txn T4: begin_prepare → prepare → ROLLBACK prepared
       (rows vanish);
    5. plain 2PC txn T5: begin_prepare → prepare → commit_prepared;
    6. an ordinary Begin/DML/Commit txn to close the stream.
    """
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed, protocol_version=protocol_version)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)

    # 1 — streamed with sub-xid abort
    t1, t1_sub = b.alloc_xid(), b.alloc_xid()
    b.emit(e.encode_stream_start(t1, True))
    for _ in range(4):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert()),
                               xid=t1))
    for j in range(3):
        row = {"repo": "orgS/subdoomed", "path": f"s{j}.py",
               "commit": "1" * 40, "lang": "python", "content": "sub-aborted"}
        b.emit(e.encode_insert(REPOS_OID, row_tuple(row), xid=t1_sub))
    b.emit(e.encode_stream_stop())
    if protocol_version >= 4:
        b.emit(e.encode_stream_abort(t1, t1_sub, abort_lsn=b.lsn,
                                     abort_ts=b.seq * 1_000))
    else:
        b.emit(e.encode_stream_abort(t1, t1_sub))
    b.emit(e.encode_stream_start(t1, False))
    for _ in range(3):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert()),
                               xid=t1))
    b.emit(e.encode_stream_stop())
    c1 = b.lsn
    b.emit(e.encode_stream_commit(t1, c1, c1 + 7, b.seq * 1_000))
    b.commit_lsns.append(c1 + 7)

    # 2 — streamed, fully aborted
    t2 = b.alloc_xid()
    b.emit(e.encode_stream_start(t2, True))
    for j in range(4):
        row = {"repo": "orgB/doomed", "path": f"x{j}.py", "commit": "0" * 40,
               "lang": "python", "content": "aborted"}
        b.emit(e.encode_insert(REPOS_OID, row_tuple(row), xid=t2))
    b.emit(e.encode_stream_stop())
    b.emit(e.encode_stream_abort(t2, t2))

    # 3 — streamed two-phase: stream_prepare then commit_prepared
    t3 = b.alloc_xid()
    b.emit(e.encode_stream_start(t3, True))
    for _ in range(4):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert()),
                               xid=t3))
    b.emit(e.encode_stream_stop())
    p3 = b.lsn
    b.emit(e.encode_stream_prepare(p3, p3 + 11, b.seq * 1_000, t3,
                                   "gid-stream"))
    c3 = b.lsn
    b.emit(e.encode_commit_prepared(c3, c3 + 13, b.seq * 1_000, t3,
                                    "gid-stream"))
    b.commit_lsns.append(c3 + 13)

    # 4 — plain 2PC rolled back
    t4 = b.alloc_xid()
    p4 = b.lsn
    b.emit(e.encode_begin_prepare(p4, p4 + 1, b.seq * 1_000, t4, "gid-roll"))
    for j in range(3):
        row = {"repo": "orgR/rolled", "path": f"r{j}.py", "commit": "2" * 40,
               "lang": "python", "content": "rolled back"}
        b.emit(e.encode_insert(REPOS_OID, row_tuple(row)))
    b.emit(e.encode_prepare(p4, b.lsn + 30, b.seq * 1_000, t4, "gid-roll"))
    b.emit(e.encode_rollback_prepared(p4, b.lsn + 20, b.seq * 1_000,
                                      b.seq * 1_000, t4, "gid-roll"))

    # 5 — plain 2PC committed
    t5 = b.alloc_xid()
    p5 = b.lsn
    b.emit(e.encode_begin_prepare(p5, p5 + 1, b.seq * 1_000, t5, "gid-ok"))
    for _ in range(4):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    b.emit(e.encode_prepare(p5, b.lsn + 30, b.seq * 1_000, t5, "gid-ok"))
    c5 = b.lsn
    b.emit(e.encode_commit_prepared(c5, c5 + 40, b.seq * 1_000, t5,
                                    "gid-ok"))
    b.commit_lsns.append(c5 + 40)

    # 6 — ordinary txn (mixed DML) closing the fixture
    b.begin()
    for _ in range(3):
        b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    old = dict(pl.pick_live())
    k = (old["repo"], old["path"])
    v = pl.versions[k] + 1
    pl.versions[k] = v
    newr = dict(old)
    newr["commit"] = next_commit(pl.seed, old["repo"], old["path"], v)
    newr["content"] = f"{old['repo']}:{old['path']}:v{v}\n" + old["content"][:256]
    pl.rows[k] = newr
    b.emit(e.encode_update(REPOS_OID, row_tuple(newr),
                           row_tuple(old, only={"repo", "path"}), "K"))
    gone = pl.make_delete()
    b.emit(e.encode_delete(REPOS_OID,
                           row_tuple(gone, only={"repo", "path"}), "K"))
    b.commit()
    return base, b


def gen_binary_mode(n_base: int = 40, n_txns: int = 5, seed: int = 42):
    """binary=on stream: tuple values sent in binary format ('b' kind),
    including invalid-UTF8 payloads — the sink must preserve them losslessly
    as bytea hex text (parity:
    /root/reference/integration-tests/binary_columns.rs)."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    rng = np.random.default_rng(seed ^ 0xB1)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    for t in range(n_txns):
        b.begin()
        for j in range(5):
            blob = bytes(rng.integers(0, 256, 64, dtype=np.uint8))
            tup = [
                ("t", f"orgB/bin{t}"),
                ("t", f"blob_{t}_{j}.bin"),
                ("b", bytes(rng.integers(0, 256, 20, dtype=np.uint8))),
                ("t", "binary"),
                ("b", blob),
            ]
            b.emit(e.encode_insert(REPOS_OID, tup))
        b.commit()
    return base, b


def gen_malformed(seed: int = 42):
    """Well-formed stream with interleaved garbage frames — exercises the
    quarantine path (error rows, not crashes; alloc-cap guards)."""
    base = gen_repos_base(40, seed)
    b = WalBuilder(seed)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    b.begin()
    b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    b.emit(b"Z\x01\x02\x03")                      # unknown tag
    b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert()))[:-4])  # truncated
    b.emit(b"I\x00\x00\x40\x00N\xff\xff")          # bogus column count
    b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
    b.commit()
    return base, b


COMPLEX_OID = 16900
# (flags bit0=key, name, type_oid, typmod) — real PG OIDs; values travel as
# pgoutput text so the OIDs are catalog metadata only (the fidelity under
# test: verbatim text passthrough, reference
# /root/reference/integration-tests/complex_types.rs:9-16)
COMPLEX_COLUMNS = [
    (1, "id", 23, -1),            # int4 key
    (0, "int_arr", 1007, -1),     # integer[]
    (0, "text_arr", 1009, -1),    # text[]
    (0, "bool_arr", 1000, -1),    # boolean[]
    (0, "float_arr", 1022, -1),   # float8[]
    (0, "nested_arr", 1007, -1),  # integer[][]
    (0, "json_doc", 114, -1),     # json
    (0, "jsonb_doc", 3802, -1),   # jsonb
    (0, "geo_point", 600, -1),    # point
    (0, "geo_path", 602, -1),     # path
    (0, "geo_polygon", 604, -1),  # polygon
    (0, "geo_circle", 718, -1),   # circle
    (0, "big_numeric", 1700, -1),  # numeric
    (0, "uid", 2950, -1),         # uuid
    (0, "net_inet", 869, -1),     # inet
    (0, "t_range", 3912, -1),     # daterange
    (0, "t_interval", 1186, -1),  # interval
    (0, "ts_tz", 1184, -1),       # timestamptz
    (0, "raw_bytea", 17, -1),     # bytea (text format: \x hex)
    (0, "t_vector", 3614, -1),    # tsvector
    (0, "composite", 16901, -1),  # composite row type
]

# The 3 rows the complex-type fixture inserts, keyed by id: PG text
# representations exactly as the server emits them, including the
# quoting/escaping corners the reference's 13 family tests pin.
COMPLEX_ROWS = {
    "1": {
        "int_arr": "{1,2,3}",
        "text_arr": "{hello,world,pg}",
        "bool_arr": "{t,f,t}",
        "float_arr": "{1.1,2.2,3.3}",
        "nested_arr": "{{1,2},{3,4}}",
        "json_doc": '{"a": 1, "b": [1, 2, 3], "c": {"d": "x"}}',
        "jsonb_doc": '{"a": 1, "b": null}',
        "geo_point": "(1.5,2.5)",
        "geo_path": "((0,0),(1,1),(2,0))",
        "geo_polygon": "((0,0),(1,1),(2,0))",
        "geo_circle": "<(1,2),3>",
        "big_numeric": "123456789012345678901234567890.123456789",
        "uid": "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11",
        "net_inet": "192.168.1.0/24",
        "t_range": "[2024-01-01,2024-12-31)",
        "t_interval": "1 year 2 mons 3 days 04:05:06",
        "ts_tz": "2024-01-01 12:34:56.789012+00",
        "raw_bytea": "\\xdeadbeef00ff",
        "t_vector": "'cat':3 'fat':2",
        "composite": '(1,foo,"(2,bar)")',
    },
    "2": {  # quoting/null/empty corners
        "int_arr": "{}",
        "text_arr": '{"has space","has,comma","has\\"quote","{brace}",NULL}',
        "bool_arr": "{NULL}",
        "float_arr": "{NaN,Infinity,-Infinity}",
        "nested_arr": "{1,NULL,3}",
        "json_doc": "null",
        "jsonb_doc": '{"emoji": "\U0001F418", "nl": "line1\\nline2"}',
        "geo_point": "(-0.5,1e-30)",
        "geo_path": "[(0,0),(1,1)]",
        "geo_polygon": "((0,0),(0,1),(1,1),(1,0))",
        "geo_circle": "<(0,0),0.25>",
        "big_numeric": "-0.000000010000000",
        "uid": "00000000-0000-0000-0000-000000000000",
        "net_inet": "2001:db8::8a2e:370:7334/64",
        "t_range": "empty",
        "t_interval": "-00:00:01.000001",
        "ts_tz": "1999-12-31 23:59:59+05:30",
        "raw_bytea": "\\x",
        "t_vector": "",
        "composite": "(,,)",
    },
    "3": {  # all complex columns SQL NULL
        n: None for _, n, _, _ in COMPLEX_COLUMNS[1:]
    },
}
# row 3 after the update txn: NULL -> values, values -> NULL flips
COMPLEX_ROW3_UPDATED = {
    "int_arr": "{9}",
    "json_doc": '{"updated": true}',
    "big_numeric": "NaN",
}


def _complex_tuple(id_text: str, vals: dict) -> tuple:
    tup = [("t", id_text.encode())]
    for _, name, _, _ in COMPLEX_COLUMNS[1:]:
        v = vals.get(name)
        tup.append(("n", None) if v is None else ("t", v.encode("utf-8")))
    return tuple(tup)


def gen_complex_types(seed: int = 42):
    """Complex-type passthrough stream (reference complex_types.rs:137-1154):
    arrays / json / geometry / numeric / uuid / network / range / interval /
    timestamp / bytea / tsvector / composite arriving as verbatim pgoutput
    text, across insert, update (incl. NULL flips) and delete."""
    base = pa.table({
        "id": pa.array([], pa.string()),
        **{name: pa.array([], pa.string())
           for _, name, _, _ in COMPLEX_COLUMNS[1:]},
    })
    b = WalBuilder(seed)
    b.relation(COMPLEX_OID, "complex", COMPLEX_COLUMNS)
    b.begin()
    for rid in ("1", "2", "3"):
        b.emit(e.encode_insert(
            COMPLEX_OID, _complex_tuple(rid, COMPLEX_ROWS[rid])))
    b.commit()
    b.begin()  # update row 3: NULL->value and value->NULL transitions
    b.emit(e.encode_update(
        COMPLEX_OID, _complex_tuple("3", COMPLEX_ROW3_UPDATED), None))
    b.commit()
    b.begin()  # delete row 2 (key-only old tuple)
    b.emit(e.encode_delete(
        COMPLEX_OID,
        tuple([("t", b"2")] + [("n", None)] * (len(COMPLEX_COLUMNS) - 1)),
    ))
    b.commit()
    return base, b


def gen_keepalives(n_base: int = 60, n_txns: int = 8, ops_per_txn: int = 5,
                   seed: int = 42):
    """Data stream with heartbeat keepalive frames interleaved the way a
    live file tail would see them — between transactions, INSIDE a
    transaction, and a trailing run past the last commit (the trailing
    wal_end outruns every commit LSN). Final state must equal the same
    stream without keepalives; fence/max_seq advance normally."""
    base = gen_repos_base(n_base, seed)
    b = WalBuilder(seed)
    pl = _OpPlanner(base, seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    b.keepalive()                           # before any txn
    for t in range(n_txns):
        b.begin()
        for k in range(ops_per_txn):
            b.emit(e.encode_insert(REPOS_OID, row_tuple(pl.make_insert())))
            if k == 2:
                b.keepalive(reply_requested=True)   # mid-transaction
        b.commit()
        b.keepalive()                       # between transactions
    b.keepalive(wal_end=b.lsn + 4096)       # flush position ahead of data
    return base, b


def gen_bench(n_base: int = 100_000, n_txns: int = 2_000,
              ops_per_txn: int = 100, seed: int = 42,
              update_frac: float = 0.55, delete_frac: float = 0.05):
    """Large Zipf-keyed mixed-DML stream for throughput + scaling runs.
    Vectorized op planning (no per-op Python dict churn on the hot path)."""
    base = gen_repos_base(n_base, seed)
    repos = base.column("repo").to_pylist()
    paths = base.column("path").to_pylist()
    contents = base.column("content").to_pylist()
    rng = np.random.default_rng(seed ^ 0xBE7C4)
    b = WalBuilder(seed)
    b.relation(REPOS_OID, "repos", REPOS_COLUMNS)
    n_ops = n_txns * ops_per_txn
    # Zipf-hot row choice: reuse the skew already baked into base repo dist.
    row_pick = rng.integers(0, n_base, n_ops)
    op_pick = rng.random(n_ops)
    versions = np.zeros(n_base, dtype=np.int32)
    op_i = 0
    new_i = 0
    for _ in range(n_txns):
        b.begin()
        for _ in range(ops_per_txn):
            r = int(row_pick[op_i])
            u = op_pick[op_i]
            op_i += 1
            if u < update_frac:
                versions[r] += 1
                v = versions[r]
                row = {
                    "repo": repos[r], "path": paths[r],
                    "commit": next_commit(seed, repos[r], paths[r], v),
                    "lang": "python",
                    "content": f"{repos[r]}:{paths[r]}:v{v}\n" + contents[r][:512],
                }
                b.emit(e.encode_update(
                    REPOS_OID, row_tuple(row),
                    row_tuple(row, only={"repo", "path"}), "K"))
            elif u < update_frac + delete_frac:
                b.emit(e.encode_delete(
                    REPOS_OID,
                    row_tuple({"repo": repos[r], "path": paths[r]},
                              only={"repo", "path"}), "K"))
            else:
                new_i += 1
                row = {
                    "repo": repos[r], "path": f"src/gen/f{new_i}.py",
                    "commit": next_commit(seed, repos[r], f"f{new_i}", 0),
                    "lang": "python",
                    "content": f"{repos[r]}:gen{new_i}\n" + contents[r][:256],
                }
                b.emit(e.encode_insert(REPOS_OID, row_tuple(row)))
        b.commit()
    return base, b


def write_frames(table: pa.Table, path: str, rows_per_file: int = 100_000):
    """Write the frame table as a directory of parquet files in seq order,
    plus a ``<path>_control`` sidecar holding just the control-tag frames.

    The sidecar is the frame pump's control channel: the pump already knows
    each frame's tag byte at ingest (zero parse cost), so splitting control
    frames out lets the engine's per-batch control scan read a few thousand
    tiny rows instead of re-scanning the whole WAL's payload column. The
    main directory still contains every frame (control included) — the
    decode kernel consumes the full interleaved stream unchanged."""
    import os
    import shutil

    from ..operators.decode import CONTROL_TAGS

    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    n = table.num_rows
    i = 0
    file_i = 0
    import time as _time

    t0 = int(_time.time())
    while i < n:
        chunk = table.slice(i, rows_per_file)
        fp = os.path.join(path, f"part-{file_i:05d}.parquet")
        # several row groups per file: Spark's scan splits files at byte
        # offsets but a split only carries the row groups whose midpoint
        # falls inside it, so one jumbo row group makes the whole file the
        # split granularity and the decode stage can't spread it over the
        # cores. ~5k-row groups give ~1 MB split granularity, which a real
        # frame pump would also use
        pq.write_table(chunk, fp, row_group_size=5_000)
        # STRICTLY increasing mtimes in WAL order: Structured Streaming's
        # file source orders files by modification time with ties broken
        # arbitrarily — files written within the same millisecond can be
        # delivered out of WAL order, and the engine's LSN fence would then
        # silently drop the late-arriving earlier segment (this was the
        # round-1 "nondeterministic streaming failure")
        os.utime(fp, (t0 + file_i, t0 + file_i))
        i += rows_per_file
        file_i += 1
    ctrl_path = path.rstrip("/") + "_control"
    if os.path.exists(ctrl_path):
        shutil.rmtree(ctrl_path)
    os.makedirs(ctrl_path)
    import pyarrow.compute as pc

    mask = pc.is_in(table.column("tag"),
                    value_set=pa.array(sorted(CONTROL_TAGS), type=pa.int32()))
    ctrl = table.filter(mask)
    pq.write_table(ctrl, os.path.join(ctrl_path, "part-00000.parquet"))


def write_base(table: pa.Table, path: str):
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path)
