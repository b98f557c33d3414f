"""Bucket-co-located MERGE kernel (Arrow/numpy, one shuffle total).

A declarative MERGE (compaction + full-outer join + bucketed write planned
by Catalyst) pays for struct-typed ``max``/``max_by`` buffers that force
SortAggregate (partial AND final, each with its own sort of the full change
set), a join that shuffles the TARGET side, and a third exchange for the
bucketed write: three shuffles and two sorts of data that is already
perfectly bucketable. That formulation survives only as the test oracle
(tests/merge_oracle.py).

This module lays the same semantics out the way a 100 TB deployment needs
them, and is the package's only MERGE (``LakeTable.merge`` and
``LakeTable.merge_bucketed`` both run it):

    images ── withColumn(_bucket = pmod(xxhash64(keys), n)) ── JVM, codegen
           ── repartition(P, salt(_bucket))                  ── the ONLY shuffle
           ── mapInArrow(merge kernel)                       ── per bucket:
                 final last-image compaction (vectorized numpy reduceat)
                 + the bucket's target files, read locally one parquet row
                   group at a time, each left-outer-joined to the changes
                   on the key columns + a row index only
                 + matched upserts gathered by take (TOAST carry)
                 + unmatched upserts appended; one row group per 128 MiB
           ── collect tiny per-bucket stats rows             ── driver commit

Shuffle volume is the change set only; the target moves zero bytes; buckets
untouched by the batch are never read (a key-changing update's old-key
delete hashes to, and so reads, the old key's bucket). Row-conservation is
checked PER BUCKET inside the kernel before any snapshot commit. Target
files are conformed to the current schema the way ``LakeTable.read`` does:
rename aliases coalesce, ``column_since`` masks apply per file version and
widened types up-cast. Semantics are pinned differentially against the
declarative oracle (tests/merge_oracle.py: ``compact_last_image`` +
full-outer join) in tests/test_merge_kernel.py.

Scale notes: a task holds one target row group plus the change rows of
the buckets hashed into it, whatever the bucket size (P = n_buckets at
cluster scale → one bucket per task). Payload columns never enter the
Acero join, so every column type Spark maps to Arrow (nested ones
included) takes this path. A pathologically hot key concentrates its
post-compaction single row like any other, and its pre-compaction row
flood is bounded by the batch size a single WAL frame range can carry.

Reference parity: the merge applies the same upsert/delete/unchanged-TOAST
contract as /root/reference/src/stream.rs apply loop (ack only after a
verified apply, stream.rs:1563-1582); TOAST carry mirrors
protocol.rs:310-328 ('u' columns keep the previous image's value).
"""

from __future__ import annotations

import functools
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .. import worker_task

__all__ = [
    "ROW_GROUP_BYTES", "STATS_DDL", "compact_images_arrow",
    "make_merge_kernel", "partition_salts", "spark_type_to_arrow",
]


def _murmur3_int32(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt (the hash behind
    ``df.repartition(n, int_col)``), bit-exact. Pinned against a real
    repartition + spark_partition_id in tests/test_merge_kernel.py."""
    M = 0xFFFFFFFF
    k1 = (v * 0xCC9E2D51) & M
    k1 = ((k1 << 15) | (k1 >> 17)) & M
    k1 = (k1 * 0x1B873593) & M
    h1 = (seed ^ k1) & M
    h1 = ((h1 << 13) | (h1 >> 19)) & M
    h1 = (h1 * 5 + 0xE6546B64) & M
    h1 ^= 4  # length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & M
    h1 ^= h1 >> 16
    if h1 >= 1 << 31:  # java int is signed
        h1 -= 1 << 32
    return h1


_SALT_CACHE: dict[int, list[int] | None] = {}

# Above this, give up on exact routing (the salt array literal itself, and
# the driver-side search, stop being free); waves amortize plain-hash
# collisions long before partition counts get here anyway.
SALT_MAX_PARTS = 1 << 16


def _murmur3_int32_np(vs: np.ndarray, seed: int = 42) -> np.ndarray:
    """Vectorized ``_murmur3_int32`` (same bit-exact Spark hash) for the
    salt search: coupon-collecting 4096+ residue classes one scalar hash
    at a time is seconds of driver Python; one numpy pass is ~ms."""
    u = np.uint32
    k1 = vs.astype(np.uint32) * u(0xCC9E2D51)
    k1 = (k1 << u(15)) | (k1 >> u(17))
    k1 = k1 * u(0x1B873593)
    h1 = u(seed) ^ k1
    h1 = (h1 << u(13)) | (h1 >> u(19))
    h1 = h1 * u(5) + u(0xE6546B64)
    h1 = h1 ^ u(4)  # length in bytes
    h1 ^= h1 >> u(16)
    h1 = h1 * u(0x85EBCA6B)
    h1 ^= h1 >> u(13)
    h1 = h1 * u(0xC2B2AE35)
    h1 ^= h1 >> u(16)
    return h1.astype(np.int32)  # java int is signed


def partition_salts(n_parts: int) -> list[int] | None:
    """Salts s_0..s_{P-1} with ``pmod(murmur3(s_p), P) == p`` for every p:
    repartitioning on the salt for ``pmod(_bucket, P)`` sends each residue
    class to its OWN shuffle partition. Hash partitioning straight on
    ``_bucket`` collides bucket ids into shared partitions (measured at 16
    buckets → 8 partitions: reduce tasks of 0.16 s to 2.37 s — a ~20% stage
    stretch from pure hash luck); the salted residue map is an exact
    bijection, so per-partition load is the bucket sizes themselves. The
    lookup ships as a constant-folded array literal indexed by the residue
    (LakeTable.merge_bucketed); None only past SALT_MAX_PARTS."""
    if n_parts in _SALT_CACHE:
        return _SALT_CACHE[n_parts]
    if n_parts > SALT_MAX_PARTS:
        _SALT_CACHE[n_parts] = None
        return None
    budget = 200 * n_parts + 1000
    reps = np.full(n_parts, -1, dtype=np.int64)
    found = 0
    for lo in range(0, budget, 1 << 16):
        chunk = np.arange(lo, min(lo + (1 << 16), budget), dtype=np.int64)
        # numpy int % positive follows the Python/Pmod sign convention
        p = _murmur3_int32_np(chunk) % n_parts
        uniq, idx = np.unique(p, return_index=True)
        fresh = reps[uniq] < 0
        reps[uniq[fresh]] = chunk[idx[fresh]]
        found = int((reps >= 0).sum())
        if found == n_parts:
            break
    out = [int(v) for v in reps] if found == n_parts else None
    _SALT_CACHE[n_parts] = out
    return out

STATS_DDL = (
    "bucket int, file string, rows_written long, n_target long, "
    "u long, d long, nk long, del_applied long, ins_new long, "
    "cl_file string"
)

_STATS_SCHEMA = pa.schema([
    ("bucket", pa.int32()), ("file", pa.string()),
    ("rows_written", pa.int64()), ("n_target", pa.int64()),
    ("u", pa.int64()), ("d", pa.int64()), ("nk", pa.int64()),
    ("del_applied", pa.int64()), ("ins_new", pa.int64()),
    ("cl_file", pa.string()),
])

# Spark's default ``parquet.block.size``: the kernel buffers a bucket's
# output and writes one row group per this many bytes of Arrow data, so a
# bucket below it is one row group, as Spark's own writer would leave it.
ROW_GROUP_BYTES = 128 << 20


@functools.lru_cache(maxsize=None)
def spark_type_to_arrow(ty: str) -> pa.DataType:
    """Spark simpleString type → pyarrow type, the mapping Spark's own
    Arrow transfer uses. Driver-side only: it parses through the JVM (a
    py4j round trip per type, hence the cache — merges repeat the same
    types every batch). Raises for a type without an Arrow mapping, which
    ``LakeTable.create`` refuses up front."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_type(_parse_datatype_string(ty))


# Arrow's global thread pool inside executor Python workers: the default
# pool is CPU-wide, so N concurrent tasks x N-thread pools oversubscribes
# quadratically at high parallelism (the local[32] driver condition). 2
# threads keep the Acero task queue draining without a scheduler stall.
KERNEL_ARROW_CPUS = 2


def _bound_arrow_pool() -> None:
    if pa.cpu_count() != KERNEL_ARROW_CPUS:
        pa.set_cpu_count(KERNEL_ARROW_CPUS)


def _np_bool(arr: pa.ChunkedArray | pa.Array) -> np.ndarray:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr.fill_null(False).to_numpy(zero_copy_only=False).astype(bool)


def compact_images_arrow(tbl: pa.Table, key_cols: list[str],
                         data_cols: list[str]) -> tuple[pa.Table, int]:
    """Last-image compaction of ``dml_images`` rows, exact semantics of the
    oracle's ``compact_last_image`` (tests/merge_oracle.py): per key, last
    ``_op`` by (commit_lsn, seq); per column, the value of the latest
    non-TOAST upsert image; columns never materialized in-batch become
    carry-forward flags (``__p_<c>`` true ≅ membership in a compacted change
    set's ``_toast`` array).

    Returns (compacted table, null-key quarantined count). Output columns:
    key cols, ``_bucket``, ``__op`` ('upsert'/'delete'), and per data column
    ``__c_<c>`` (value) + ``__p_<c>`` (carry-forward pending flag).
    """
    n0 = tbl.num_rows
    if n0 == 0:
        return tbl, 0
    # null-key quarantine: a null key can never match a target row
    valid = np.ones(n0, dtype=bool)
    for k in key_cols:
        valid &= ~_np_bool(pc.is_null(tbl.column(k)))
    nk = int(n0 - valid.sum())
    if nk:
        tbl = tbl.filter(pa.array(valid))
    n = tbl.num_rows
    if n == 0:
        return tbl.select(key_cols + ["_bucket"]), nk

    order = pc.sort_indices(
        tbl,
        sort_keys=[(k, "ascending") for k in key_cols]
        + [("commit_lsn", "ascending"), ("seq", "ascending")],
    )
    tbl = tbl.take(order).combine_chunks()

    # group boundaries over the key columns (no nulls remain)
    new_grp = np.zeros(n - 1, dtype=bool) if n > 1 else np.zeros(0, bool)
    for k in key_cols:
        col = tbl.column(k).combine_chunks()
        if n > 1:
            new_grp |= _np_bool(
                pc.not_equal(col.slice(1), col.slice(0, n - 1)))
    starts = np.flatnonzero(np.concatenate(([True], new_grp)))
    last_idx = np.concatenate((starts[1:] - 1, [n - 1]))

    is_del = _np_bool(pc.equal(tbl.column("_op"), "delete"))
    del_final = is_del[last_idx]
    is_up = ~is_del
    pos = np.arange(n, dtype=np.int64)

    out_cols: dict[str, pa.Array] = {}
    for k in key_cols:
        out_cols[k] = tbl.column(k).take(pa.array(last_idx))
    out_cols["_bucket"] = tbl.column("_bucket").take(pa.array(last_idx))
    out_cols["__op"] = pc.if_else(
        pa.array(del_final), pa.scalar("delete"), pa.scalar("upsert"))
    for c in data_cols:
        tmask = is_up & ~_np_bool(tbl.column("_t_" + c))
        cand = np.where(tmask, pos, np.int64(-1))
        winner = np.maximum.reduceat(cand, starts) if n else cand
        take_idx = pa.array(
            np.where(winner >= 0, winner, 0),
            mask=(winner < 0), type=pa.int64())
        out_cols["__c_" + c] = tbl.column(c).take(take_idx)
        out_cols["__p_" + c] = pa.array(~del_final & (winner < 0))
    return pa.table(out_cols), nk


def _changelog_batch(ch_b: pa.Table, key_cols: list[str],
                     data_cols: list[str], target_schema: pa.Schema,
                     version: int, lsn: int) -> pa.Table:
    """One bucket's compacted changes → change-data-feed records in the
    changelog contract of ``LakeTable.read_changes``: key +
    data columns in snapshot types, ``_op``, ``_toast`` (carry-forward
    column names, from the kernel's ``__p_<c>`` pending flags),
    ``_commit_version``, ``_commit_lsn``."""
    n = ch_b.num_rows
    cols: dict[str, pa.Array | pa.ChunkedArray] = {}
    for k in key_cols:
        arr = ch_b.column(k)
        kt = target_schema.field(k).type
        cols[k] = pc.cast(arr, kt) if arr.type != kt else arr
    flags = np.zeros((n, len(data_cols)), dtype=bool)
    for j, c in enumerate(data_cols):
        arr = ch_b.column("__c_" + c)
        ct = target_schema.field(c).type
        cols[c] = pc.cast(arr, ct) if arr.type != ct else arr
        flags[:, j] = _np_bool(ch_b.column("__p_" + c))
    cols["_op"] = ch_b.column("__op").cast(pa.string())
    offsets = pa.array(
        np.concatenate(([0], np.cumsum(flags.sum(axis=1)))).astype(np.int32))
    if flags.any():
        vals = pa.array(
            np.tile(np.array(data_cols, dtype=object), n)[flags.ravel()],
            type=pa.string())
    else:
        vals = pa.array([], type=pa.string())
    cols["_toast"] = pa.ListArray.from_arrays(offsets, vals)
    cols["_commit_version"] = pa.array(np.full(n, version, dtype=np.int64))
    cols["_commit_lsn"] = pa.array(np.full(n, lsn, dtype=np.int64))
    return pa.table(cols)


def _conform(t: pa.Table, schema: pa.Schema,
             aliases: dict[str, list[str]] | None,
             masked) -> pa.Table:
    """One piece of a target file in the current snapshot schema: columns
    the file predates read as null, widened types up-cast (the lake's
    metadata-only ADD COLUMN / type promotion contract), like
    ``LakeTable._read_files``: a file lacking a column's current name
    serves its ``aliases`` (pre-rename names) coalesced; ``masked`` names
    re-added columns whose values there belong to a dropped/renamed
    predecessor, served as null (``column_since``)."""
    # a name live again in the schema is that column's own
    live = set(schema.names) - set(masked)
    cols = []
    for field in schema:
        if field.name in masked:
            col = pa.nulls(t.num_rows, field.type)
        elif field.name in t.column_names:
            col = t.column(field.name)
            if col.type != field.type:
                col = pc.cast(col, field.type)
        elif aliases and field.name in aliases:
            alts = [pc.cast(t.column(a), field.type)
                    for a in aliases[field.name]
                    if a not in live and a in t.column_names]
            col = (pc.coalesce(*alts) if alts
                   else pa.nulls(t.num_rows, field.type))
        else:
            col = pa.nulls(t.num_rows, field.type)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=schema)


def _target_row_groups(files: list[str], schema: pa.Schema,
                       aliases: dict[str, list[str]] | None = None,
                       masks: dict[str, list[str]] | None = None):
    """A bucket's target rows, one parquet row group at a time, each
    conformed to the current schema (``_conform``; ``masks[file]`` are
    that file's ``column_since`` masks)."""
    for f in files:
        masked = masks.get(f, ()) if masks else ()
        with pq.ParquetFile(f) as pf:
            for i in range(pf.num_row_groups):
                # use_threads=False: this runs inside an executor Python
                # worker — N concurrent tasks each spinning Arrow's default
                # CPU-wide pool oversubscribes the box at high parallelism
                yield _conform(pf.read_row_group(i, use_threads=False),
                               schema, aliases, masked)


def _merge_one_bucket(changes: pa.Table, files: list[str],
                      schema: pa.Schema, key_cols: list[str],
                      data_cols: list[str], out_path: str, codec: str,
                      aliases: dict[str, list[str]] | None = None,
                      masks: dict[str, list[str]] | None = None) -> dict:
    """Merge one bucket's compacted changes into its target ``files``,
    streamed one row group at a time; writes the surviving rows (if any)
    to ``out_path``, one row group per ``ROW_GROUP_BYTES``.

    Only the key columns plus an int64 row index on each side enter the
    Acero join (target row group left-outer-joined to the changes), so no
    payload column, whatever its type, reaches Acero. Unmatched target
    rows pass through; matched upserts gather each column with ``take``
    from the change row or, for a TOAST ``__p_<c>`` carry, the target row
    (``take`` serves every Arrow type; ``if_else`` has no map kernel).
    Upserts that matched no target row are appended after the last row
    group. A task holds one row group plus its change rows, whatever the
    bucket size."""
    n_ch = changes.num_rows

    def _as(col, ty):
        return pc.cast(col, ty) if col.type != ty else col

    # conform the change side to the snapshot types once: Spark's Arrow
    # transfer can differ in tz annotation / width, and mismatched key
    # types fail or mis-join inside Acero
    ch = {k: _as(changes.column(k), schema.field(k).type) for k in key_cols}
    ch.update({c: _as(changes.column("__c_" + c), schema.field(c).type)
               for c in data_cols})
    pending = {c: _np_bool(changes.column("__p_" + c)) for c in data_cols}
    is_up = _np_bool(pc.equal(changes.column("__op"), "upsert"))
    right = pa.table({**{k: ch[k] for k in key_cols},
                      "__ci": np.arange(n_ch, dtype=np.int64)})
    matched = np.zeros(n_ch, dtype=bool)
    n_target = del_applied = n_out = 0
    buf: list[pa.Table] = []
    buf_bytes = 0
    writer = None

    def _flush():
        nonlocal writer, buf, buf_bytes, n_out
        out = pa.concat_tables(buf)
        buf, buf_bytes = [], 0
        if not out.num_rows:
            return
        if writer is None:
            writer = pq.ParquetWriter(out_path, schema, compression=codec)
        writer.write_table(out, row_group_size=out.num_rows)
        n_out += out.num_rows

    def _emit(t: pa.Table):
        nonlocal buf_bytes
        buf.append(t)
        buf_bytes += t.nbytes
        if buf_bytes >= ROW_GROUP_BYTES:
            _flush()

    try:
        for rg in _target_row_groups(files, schema, aliases, masks):
            n = rg.num_rows
            n_target += n
            left = pa.table({**{k: rg.column(k) for k in key_cols},
                             "__ti": np.arange(n, dtype=np.int64)})
            j = left.join(right, keys=key_cols, join_type="left outer")
            ci = np.full(n, -1, dtype=np.int64)
            ci[j.column("__ti").to_numpy()] = (
                j.column("__ci").fill_null(-1).to_numpy())
            hit = ci >= 0
            if not hit.any():
                _emit(rg)
                continue
            matched[ci[hit]] = True
            up = hit & is_up[np.where(hit, ci, 0)]
            del_applied += int((hit & ~up).sum())
            _emit(rg.filter(pa.array(~hit)))
            t_pos = np.flatnonzero(up)
            if not len(t_pos):
                continue
            # matched upserts: per column, the change value or (TOAST
            # carry) the target's — one take over [target | change] rows
            c_pos = ci[t_pos]
            ar = np.arange(len(t_pos))
            cols = []
            for name in schema.names:
                if name in key_cols:
                    cols.append(ch[name].take(c_pos))
                    continue
                both = pa.chunked_array(
                    rg.column(name).take(t_pos).chunks
                    + ch[name].take(c_pos).chunks)
                cols.append(both.take(
                    np.where(pending[name][c_pos], ar, len(ar) + ar)))
            _emit(pa.Table.from_arrays(cols, schema=schema))
        ins = is_up & ~matched
        ins_new = int(ins.sum())
        if ins_new:
            _emit(pa.Table.from_arrays([ch[n] for n in schema.names],
                                       schema=schema).filter(pa.array(ins)))
        if buf:
            _flush()
        # exact per-bucket row conservation, checked before the file is
        # closed: violating it means silent row loss, so fail the task
        # (and with it the whole merge) before anything is committed
        if n_out != n_target - del_applied + ins_new:
            raise RuntimeError(
                f"bucket merge row-conservation violated at {out_path}: "
                f"{n_target} target - {del_applied} deletes + {ins_new} "
                f"inserts != {n_out} written")
    except BaseException:
        if writer is not None:
            writer.close()
            os.remove(out_path)
        raise
    if writer is not None:
        writer.close()
    n_up = int(is_up.sum())
    return {
        "rows_written": n_out, "n_target": n_target,
        "u": n_up, "d": n_ch - n_up,
        "del_applied": del_applied, "ins_new": ins_new,
        "file": out_path if n_out else None,
    }


def make_merge_kernel(bucket_files: dict[str, list[str]],
                      schema: list[tuple[str, str]], key_cols: list[str],
                      out_dir: str, codec: str,
                      changelog: tuple[str, int, int] | None = None,
                      aliases: dict[str, list[str]] | None = None,
                      masks: dict[str, list[str]] | None = None):
    """Build the mapInArrow fn: per partition, compact the image rows, then
    merge + write each distinct bucket present. Emits one stats row per
    bucket plus one partition row (bucket = -1) carrying the null-key
    quarantine count. A bucket missing from ``bucket_files`` has an empty
    target; ``aliases`` / ``masks`` conform its files (``_conform``).

    ``changelog``: optional ``(cl_dir, commit_version, commit_lsn)`` — each
    bucket also writes its compacted change records there (change-data-feed;
    zero extra jobs or shuffles, the compacted batch is already in hand) and
    reports the file in the stats row ``cl_file``, so only winning-attempt
    files are committed (task-retry-safe, like the data files)."""
    data_cols = [n for n, _ in schema if n not in key_cols]
    target_schema = pa.schema(
        [(n, spark_type_to_arrow(ty)) for n, ty in schema])

    def fn(batches):
        _bound_arrow_pool()
        chunks = [pa.Table.from_batches([b]) for b in batches]
        if not chunks:
            return
        tbl = pa.concat_tables(chunks).combine_chunks()
        changes, nk = compact_images_arrow(tbl, key_cols, data_cols)
        rows = []
        if changes.num_rows:
            buckets = np.unique(
                changes.column("_bucket").combine_chunks()
                .to_numpy(zero_copy_only=False))
            bcol = changes.column("_bucket").combine_chunks().to_numpy(
                zero_copy_only=False)
            for b in buckets:
                b = int(b)
                ch_b = changes.filter(pa.array(bcol == b))
                cl_path = None
                if changelog is not None:
                    cl_dir, cl_ver, cl_lsn = changelog
                    cl_path = os.path.join(
                        cl_dir, f"b{b}-{uuid.uuid4().hex[:8]}.parquet")
                    pq.write_table(
                        _changelog_batch(ch_b, key_cols, data_cols,
                                         target_schema, cl_ver, cl_lsn),
                        cl_path, compression=codec)
                out_path = os.path.join(
                    out_dir, f"b{b}-{uuid.uuid4().hex[:8]}.parquet")
                st = _merge_one_bucket(
                    ch_b, bucket_files.get(str(b), []), target_schema,
                    key_cols, data_cols, out_path, codec, aliases, masks)
                rows.append({"bucket": b, **{k: st[k] for k in (
                    "file", "rows_written", "n_target", "u", "d",
                    "del_applied", "ins_new")}, "nk": 0,
                    "cl_file": cl_path})
        if nk:
            rows.append({"bucket": -1, "file": None, "rows_written": 0,
                         "n_target": 0, "u": 0, "d": 0, "nk": nk,
                         "del_applied": 0, "ins_new": 0, "cl_file": None})
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=_STATS_SCHEMA)

    return worker_task(fn)
