"""Bucket-co-located MERGE kernel (Arrow/numpy, one shuffle total).

The general ``LakeTable.merge`` expresses compaction + full-outer join +
bucketed write declaratively and lets Catalyst plan it: struct-typed
``max``/``max_by`` buffers force SortAggregate (partial AND final, each with
its own sort of the full change set), the join shuffles the TARGET side, and
the bucketed write adds a third exchange. Correct, but three shuffles and two
sorts of data that is already perfectly bucketable.

This module re-expresses the same semantics the way a 100 TB deployment
needs them laid out:

    images ── withColumn(_bucket = pmod(xxhash64(keys), n)) ── JVM, codegen
           ── repartition(P, _bucket)                        ── the ONLY shuffle
           ── mapInArrow(merge kernel)                       ── per bucket:
                 final last-image compaction (vectorized numpy reduceat)
                 + pyarrow full-outer join with the bucket's target files
                   (read locally — the target never enters a shuffle)
                 + TOAST carry-forward + parquet write
           ── collect tiny per-bucket stats rows             ── driver commit

Shuffle volume is the change set only; the target moves zero bytes; buckets
untouched by the batch are never read (a key-changing update's old-key
delete hashes to, and so reads, the old key's bucket). Row-conservation is
checked PER BUCKET inside the kernel before any snapshot commit. Target
files are conformed to the current schema the way ``LakeTable.read`` does:
rename aliases coalesce, ``column_since`` masks apply per file version and
widened types up-cast. Semantics are pinned differentially against
``compact_last_image`` + ``LakeTable.merge`` in
tests/test_merge_kernel.py.

Scale notes: per-task memory is bounded by the change volume of the buckets
hashed into that task (P = n_buckets at cluster scale → one bucket per
task); a pathologically hot key concentrates its post-compaction single row
like any other, and its pre-compaction row flood is bounded by the batch
size a single WAL frame range can carry. Skew beyond that is the
``compact_salted`` path's job.

Reference parity: the merge applies the same upsert/delete/unchanged-TOAST
contract as /root/reference/src/stream.rs apply loop (ack only after a
verified apply, stream.rs:1563-1582); TOAST carry mirrors
protocol.rs:310-328 ('u' columns keep the previous image's value).
"""

from __future__ import annotations

import os
import re
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

__all__ = [
    "STATS_DDL", "bucketed_merge_eligible", "compact_images_arrow",
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
    lookup ships as a CASE expression at small P and a constant-folded
    array literal above (LakeTable.merge_bucketed); None only past
    SALT_MAX_PARTS."""
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

_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")

_SIMPLE_TYPES = {
    "string": pa.string(),
    "bigint": pa.int64(),
    "int": pa.int32(),
    "smallint": pa.int16(),
    "tinyint": pa.int8(),
    "double": pa.float64(),
    "float": pa.float32(),
    "boolean": pa.bool_(),
    "binary": pa.binary(),
    "date": pa.date32(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "timestamp_ntz": pa.timestamp("us"),
}


def spark_type_to_arrow(ty: str):
    """Spark simpleString type → pyarrow type, or None if unmapped."""
    ty = ty.strip().lower()
    if ty in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[ty]
    m = _DECIMAL_RE.match(ty)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return None


def bucketed_merge_eligible(snap: dict) -> bool:
    """The kernel reads and writes target files as Arrow: every column
    type must map to an Arrow type."""
    return all(spark_type_to_arrow(ty) is not None
               for _, ty in snap["schema"])


def _bound_arrow_pool() -> None:
    """Cap Arrow's global thread pool inside executor Python workers: the
    default pool is CPU-wide, so N concurrent tasks x N-thread pools
    oversubscribes quadratically at high parallelism (the local[32] driver
    condition). 2 threads is enough to keep the Acero task queue draining
    without a dedicated scheduler stall."""
    want = int(os.environ.get("WALSTREAM_KERNEL_ARROW_CPUS", "2"))
    if pa.cpu_count() != want:
        pa.set_cpu_count(want)


def _np_bool(arr: pa.ChunkedArray | pa.Array) -> np.ndarray:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr.fill_null(False).to_numpy(zero_copy_only=False).astype(bool)


def compact_images_arrow(tbl: pa.Table, key_cols: list[str],
                         data_cols: list[str]) -> tuple[pa.Table, int]:
    """Last-image compaction of ``dml_images`` rows, exact semantics of
    ``compact_last_image`` (operators/compact.py): per key, last ``_op`` by
    (commit_lsn, seq); per column, the value of the latest non-TOAST upsert
    image; columns never materialized in-batch become carry-forward flags
    (``__p_<c>`` true ≅ membership in the general path's ``_toast`` array).

    Returns (compacted table, null-key quarantined count). Output columns:
    key cols, ``_bucket``, ``__op`` ('upsert'/'delete'), and per data column
    ``__c_<c>`` (value) + ``__p_<c>`` (carry-forward pending flag).
    """
    n0 = tbl.num_rows
    if n0 == 0:
        return tbl, 0
    # null-key quarantine (matches the general merge's pre-join filter)
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
    """One bucket's compacted changes → change-data-feed records matching
    the general merge's changelog contract (LakeTable.read_changes): key +
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


def _conform_target(files: list[str], schema: pa.Schema,
                    aliases: dict[str, list[str]] | None = None,
                    masks: dict[str, list[str]] | None = None) -> pa.Table:
    """Read a bucket's parquet files into the current snapshot schema:
    columns a file predates read as null, widened types up-cast (the lake's
    metadata-only ADD COLUMN / type promotion contract), like
    ``LakeTable._read_files``: a file lacking a column's current name
    serves its ``aliases`` (pre-rename names) coalesced; ``masks[file]``
    names re-added columns whose values there belong to a dropped/renamed
    predecessor, served as null (``column_since``)."""
    if not files:
        return schema.empty_table()
    parts = []
    for f in files:
        # use_threads=False: this runs inside an executor Python worker —
        # N concurrent tasks each spinning Arrow's default CPU-wide pool
        # oversubscribes the box at high parallelism (local[32] = 32 workers
        # x 32-thread pools), and the reads are per-bucket-sized anyway
        t = pq.read_table(f, use_threads=False)
        masked = masks.get(f, ()) if masks else ()
        cols = []
        for field in schema:
            if field.name in masked:
                col = pa.nulls(t.num_rows, field.type)
            elif field.name in t.column_names:
                col = t.column(field.name)
                if col.type != field.type:
                    col = pc.cast(col, field.type)
            elif aliases and field.name in aliases:
                # a name live again in the schema is that column's own
                live = set(schema.names) - set(masked)
                alts = [pc.cast(t.column(a), field.type)
                        for a in aliases[field.name]
                        if a not in live and a in t.column_names]
                col = (pc.coalesce(*alts) if alts
                       else pa.nulls(t.num_rows, field.type))
            else:
                col = pa.nulls(t.num_rows, field.type)
            cols.append(col)
        parts.append(pa.table(dict(zip(schema.names, cols))))
    return pa.concat_tables(parts) if len(parts) > 1 else parts[0]


def _merge_one_bucket(changes: pa.Table, target: pa.Table,
                      key_cols: list[str], data_cols: list[str],
                      out_path: str, codec: str) -> dict:
    """Full-outer merge of one bucket's compacted changes with its target
    rows; writes the surviving rows (if any) to ``out_path``."""
    n_target = target.num_rows
    # explicit bool type: pa.array([True]*0) infers NULL type and Acero
    # rejects null non-key fields — a fileless bucket (sparse bootstrap, or
    # emptied by deletes then re-inserted) would crash the whole batch
    marked = target.append_column(
        "__t", pa.array(np.ones(n_target, dtype=bool), type=pa.bool_()))
    # conform change-side KEY columns to the snapshot-declared type before
    # the join (mirrors the __c_ data-column conform below): Spark's Arrow
    # transfer can differ in tz annotation / width, and mismatched key
    # types fail or mis-join inside Acero
    for k in key_cols:
        kt = target.schema.field(k).type
        if changes.column(k).type != kt:
            changes = changes.set_column(
                changes.schema.get_field_index(k), k,
                pc.cast(changes.column(k), kt))
    # threaded Acero scheduler (pool bounded per worker by
    # _bound_arrow_pool): the serial scheduler (use_threads=False) has a
    # deadlock history in Acero and was the prime suspect in a stuck
    # 7-of-8-tasks replay stage under driver conditions; the bounded
    # threaded pool avoids both that and CPU oversubscription
    use_threads = os.environ.get("WALSTREAM_KERNEL_JOIN_THREADS", "1") == "1"
    joined = marked.join(changes, keys=key_cols, join_type="full outer",
                         use_threads=use_threads).combine_chunks()
    m = joined.num_rows
    t_present = _np_bool(pc.is_valid(joined.column("__t")))
    op = joined.column("__op")
    untouched = _np_bool(pc.is_null(op))
    is_up = _np_bool(pc.equal(op, "upsert"))
    is_dl = _np_bool(pc.equal(op, "delete"))

    keep = untouched | is_up
    out_cols = {k: joined.column(k) for k in key_cols}
    for c in data_cols:
        carry = untouched | _np_bool(joined.column("__p_" + c))
        tcol = joined.column(c)
        ccol = joined.column("__c_" + c)
        if ccol.type != tcol.type:
            # Spark→Arrow transfer may differ in tz annotation / width from
            # the snapshot-declared type; the change side conforms
            ccol = pc.cast(ccol, tcol.type)
        out_cols[c] = pc.if_else(pa.array(carry), tcol, ccol)
    out = pa.table(out_cols).filter(pa.array(keep))

    del_applied = int((is_dl & t_present).sum())
    ins_new = int((is_up & ~t_present).sum())
    n_out = out.num_rows
    # exact per-bucket row conservation — the general path can only bound
    # this globally; violating it means silent row loss, so fail the task
    # (and with it the whole merge) before anything is committed
    if n_out != n_target - del_applied + ins_new:
        raise RuntimeError(
            f"bucket merge row-conservation violated at {out_path}: "
            f"{n_target} target - {del_applied} deletes + {ins_new} inserts "
            f"!= {n_out} written")
    if n_out:
        pq.write_table(out, out_path, compression=codec)
    return {
        "rows_written": n_out, "n_target": n_target,
        "u": int(is_up.sum()), "d": int(is_dl.sum()),
        "del_applied": del_applied, "ins_new": ins_new,
        "file": out_path if n_out else None,
        "joined_rows": m,
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
    target; ``aliases`` / ``masks`` conform its files (``_conform_target``).

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
                target = _conform_target(
                    bucket_files.get(str(b), []), target_schema,
                    aliases, masks)
                out_path = os.path.join(
                    out_dir, f"b{b}-{uuid.uuid4().hex[:8]}.parquet")
                st = _merge_one_bucket(ch_b, target, key_cols, data_cols,
                                       out_path, codec)
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

    return fn
