"""Replay engine: WAL frames → decoded events → txn gating → compaction →
exactly-once LakeTable MERGE (SURVEY.md §7 stages 0-6, end-to-end).

One micro-batch pipeline (same contract whether driven by bounded replay
or Structured Streaming's foreachBatch — see ``streaming.py``):

1. **Control scan** — read only control-tag frames of the batch (parquet
   predicate pushdown on the tiny ``tag`` column, or the frame pump's
   control sidecar), replay them sequentially on the driver →
   DecodeContext (relation catalog timeline, stream spans, txn
   dispositions, TRUNCATE frames). Control frames are a small fraction of
   the stream (2 per transaction), so this is broadcast-sized.
2. **Batch facts on the driver** — the commit high-water mark, the
   bounded-replay crossing commit and committed truncate positions come
   from the context (plus the pending store's truncate rows), no job.
3. **Schema evolution** — relation-diff events → LakeTable.add_columns
   etc. before the merge (Iceberg ADD COLUMN analog,
   /root/reference/src/protocol.rs:1430-1483).
4. **Events** — the vectorized mapInArrow decode kernel (narrow) plus the
   pending store's rows re-stamped with this batch's dispositions:
   committed transactions apply, open / prepared ones stay pending,
   aborted ones drop. This is the reference's transaction-buffered
   consumer (examples/safe-transaction-consumer).
5. **Tables** — a catalog naming one existing table merges it straight
   from the decode; otherwise the events are cached once and one
   aggregate (``collect_set(table_name)``) finds the tables with
   committed DML.
6. **MERGE** — per table, the bucket-co-located merge kernel
   (``LakeTable.merge_bucketed``: compaction + join + write in one job),
   LSN-fenced. A replayed or duplicate batch is skipped by the fence,
   giving exactly-once end to end under at-least-once batch delivery.
7. **Side outputs** — the decode tasks of the job that decodes the
   batch (the merge, the tables aggregate, or a drain job when neither
   ran) also write the batch's rejected rows into its dead-letter dir
   ``quarantine/b{batch_idx}-s{lo}-{hi}`` and, if a transaction is still
   open or prepared, the newly-pending rows into the batch's fresh delta
   dir ``pending/delta_b{batch_idx}``. The driver reads the batch's
   counts from those files with pyarrow (``quarantined`` from the
   dead-letter footers, the new pending xids from the delta's ``xid``
   column) and folds the delta into the pending-store meta, which is part
   of the engine state. A single-table batch stays one Spark job.

Both front ends drive batches through the same two steps here:
``frame_spans`` + ``admit_spans`` plan the contiguous run of frame files
after the consumed seq (files past a seq gap are held, not applied), and
``run_batches`` applies that run batch by batch.

Resume: after its table commits, a batch makes ONE engine-side durable
commit, the atomic write of the engine state (consumed seq ``max_seq``,
batch index, catalog, open-txn carries, pending-store meta). A restart
resumes at ``max_seq + 1`` whatever the batch size and recomputes any
batch that did not commit from the state it began with; the LSN fence
makes its table merges idempotent. A bounded-replay stop (``stop_at_lsn``)
commits only what the fence protects: its merges (with the schema
changes announced up to the stop), ``applied_lsn``, its metrics row and
dead letters. Everything else stays as the batch began, so the resume
recomputes the stopped batch from the same inputs.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import uuid

import numpy as np

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, functions as F

from .lake.table import LakeTable, _atomic_write, _kernel_aqe_off
from .operators.compact import _qs, dml_images
from .options import ReplicationOptions
from .retry import PermanentError
from .operators.decode import (
    CONTROL_TAGS,
    EVENT_SPARK_DDL,
    ST_ABORTED,
    ST_COMMITTED,
    ST_OPEN,
    _STATUS_NAMES,
    SideOutputs,
    build_context,
    decode_frames_df,
)

# pg type oid → spark type for schema evolution
_PG_TYPE_TO_SPARK = {16: "boolean", 20: "bigint", 21: "smallint", 23: "int",
                     25: "string", 700: "float", 701: "double", 1043: "string",
                     1114: "timestamp", 1184: "timestamp"}

# The frame-file contract (fixtures/wal_gen.FRAME_SCHEMA). Replay reads
# pass it explicitly — parquet schema inference otherwise spends a
# footer-sampling Spark job per replay_frames call (streaming already
# reads schema-fixed; the contracts must stay identical).
FRAME_SPARK_DDL = (
    "seq long, wal_start long, wal_end long, server_time long, tag int, "
    "data binary"
)

def _local_path(p: str) -> str:
    return p[7:] if p.startswith("file://") else p


def _part_files(d: str) -> list[str]:
    """The ``*.parquet`` files of side-output dir ``d`` (none if absent)."""
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet"))


def _log_once(t: LakeTable, event: dict) -> None:
    """Log lineage ``event`` on ``t`` unless its lineage already holds it."""
    if event not in t.snapshot()["lineage"]:
        t.log_event(event)


# the split settings ``tune_input_splits`` writes (``run_batches`` restores)
_SPLIT_CONF = ("spark.sql.files.maxPartitionBytes",
               "spark.sql.files.openCostInBytes")


def tune_input_splits(spark: SparkSession, paths) -> None:
    """Size parquet input splits so the decode scan runs ONE wave, at most
    one task per core: each Python task pays a fixed stage entry before
    any data moves, and a second wave pays it again. A fresh worker's
    first task reads every zip directory on its path, ~0.2-0.3 s (4 vCPUs,
    Spark 4.1, Python 3.11); ``worker_task`` spares its later tasks that
    re-read. Writes the session conf, which ``run_batches`` restores.
    No-op for non-local paths (cluster deployments size this via submit
    conf)."""
    import glob as _glob

    sizes = []
    try:
        for p in map(_local_path, paths):
            if os.path.isdir(p):
                for f in _glob.glob(os.path.join(p, "*.parquet")):
                    sizes.append(os.path.getsize(f))
            elif os.path.isfile(p):
                sizes.append(os.path.getsize(p))
    except OSError:
        return
    total = sum(sizes)
    if not total:
        return
    cores = spark.sparkContext.defaultParallelism

    # Pick maxPartitionBytes by SIMULATING Spark's split packing (sort
    # desc, close a partition when adding the next split would exceed the
    # cap) and growing the cap until it makes at most `cores` splits: file
    # granularity makes this discrete, total/cores alone regularly packs
    # into cores + 1. At cap >= total + len(sizes) * oc everything is one
    # split, so the loop ends.
    oc = 256 << 10
    desc = sorted(sizes, reverse=True)

    def _bins(cap: int) -> int:
        nbins, cur = 0, None
        for s in desc:
            if cur is None or cur + s > cap:
                nbins += 1
                cur = 0
            cur += s + oc
        return nbins

    cap = max(total // cores, desc[0])
    while _bins(cap) > cores:
        cap = int(cap * 1.15) + 1
    cap = max(4 << 20, min(256 << 20, cap))
    for k, v in zip(_SPLIT_CONF, (cap, oc)):
        spark.conf.set(k, str(v))


# Engine state is re-read/rewritten every batch: an unbounded per-batch
# metrics list would make the state file itself a serial cost at 10^6
# batches. Keep the last N rows; older ones roll into aggregate counters.
METRICS_CAP = 200

# Past this many frame files the serial driver-side footer walk of
# ``seq_spans_from_footers`` (~1 ms a file) yields to the parallel Spark scan.
FOOTER_SPAN_MAX_FILES = 4096


def seq_spans_from_footers(paths) -> list[dict] | None:
    """Per-file ``{path, lo, hi, n}`` for the frame files' ``seq`` column,
    read from parquet FOOTER statistics on the driver — no Spark job.

    Replaces the per-file groupBy of ``ReplayEngine.frame_spans``: a
    fixed ~0.2-0.4 s Spark job per call purely on scheduling + a scan
    whose answer already sits in the footers — a core-count-independent
    serial tail paid by every micro-batch. int64 min/max footer statistics
    are exact (no truncation, unlike strings); ``n`` is the footer row
    count, so the in-file gap check keeps working. Files without usable
    statistics (foreign producers, stats disabled) return None and
    ``frame_spans`` falls back to the groupBy — as does a batch larger than
    FOOTER_SPAN_MAX_FILES: footer reads are ~1 ms each but SERIAL on the
    driver, so past a few thousand files the parallel Spark scan is the
    better plan.
    """
    import pyarrow.parquet as pq

    if len(paths) > FOOTER_SPAN_MAX_FILES:
        return None
    spans: list[dict] = []
    for p in paths:
        try:
            md = pq.ParquetFile(_local_path(p)).metadata
        except Exception:
            return None
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        try:
            ci = names.index("seq")
        except ValueError:
            return None
        lo = hi = None
        for rg in range(md.num_row_groups):
            cst = md.row_group(rg).column(ci).statistics
            if cst is None or not cst.has_min_max:
                return None
            # `n` below is the footer ROW count while the Spark fallback
            # counts NON-NULL seq values — with null seqs present the two
            # paths would disagree on the in-file gap corruption check.
            # Null seqs are a foreign-producer shape: defer to the fallback.
            if not cst.has_null_count or cst.null_count > 0:
                return None
            lo = cst.min if lo is None else min(lo, cst.min)
            hi = cst.max if hi is None else max(hi, cst.max)
        if lo is None:
            continue  # zero row groups: empty file contributes nothing
        spans.append({"path": p, "lo": int(lo), "hi": int(hi),
                      "n": int(md.num_rows)})
    return spans


def _live_rows(pend: dict) -> dict[str, int]:
    """Per-xid row counts of the live (untombstoned) xids of pending-store
    meta ``pend``."""
    dead = set(pend["dead_xids"])
    out: dict[str, int] = {}
    for d in pend["order"]:
        for x, n in pend["deltas"][d].items():
            if int(x) not in dead:
                out[x] = out.get(x, 0) + n
    return out


def _append_metrics(st: dict, rec: dict) -> None:
    ml = st.setdefault("metrics", [])
    # an in-place batch retry (retry_call around process_batch) re-enters
    # with the same in-memory state: replace, don't duplicate, this
    # batch's row — duplicates would double-count in the rollup
    ml[:] = [m for m in ml if m.get("batch_idx") != rec["batch_idx"]]
    ml.append({k: rec[k] for k in ("batch_idx", "applied_lsn", "pending",
                                   "quarantined", "quarantine_dir")
               if k in rec})
    tot = st.setdefault("metrics_rollup", {"batches": 0, "quarantined": 0})
    while len(ml) > METRICS_CAP:
        old = ml.pop(0)
        tot["batches"] += 1
        tot["quarantined"] += int(old.get("quarantined") or 0)


# batch plans are built from SQL strings, not Column objects: every Column
# construction is a py4j round trip, a per-batch driver-serial cost
_DML_SQL = "event_type IN ('insert', 'update', 'delete') AND error IS NULL"


# Engine-state / warehouse layout version. Bump whenever the persisted
# layout changes incompatibly (events schema columns, pending-store delta
# format, metrics rollup shape, resume cursor). v4 = resume from the
# consumed seq ``max_seq`` in every front end (v3 bounded replays resumed
# by batch position, which v4 cannot translate). v5 = the pending meta
# keeps per-xid row counts per delta (v4 kept xid lists). v6 = the pending
# meta lives in the engine state as ``pending`` (v5 kept it in
# ``pending/meta.json``). Unstamped states are v3 or older.
ENGINE_STATE_VERSION = 6


class StateVersionError(RuntimeError):
    """A warehouse written by an incompatible engine version was opened.

    The reference performs the same preflight against server/slot versions
    before streaming (/root/reference/integration-tests/version_preflight.rs);
    here the failure mode is a stale warehouse dir — e.g. a pending store
    from an older events-schema era, which would otherwise surface as an
    unreadable-parquet crash mid-replay (or worse, quietly wrong columns)."""


class ReplayEngine:
    def __init__(self, spark: SparkSession, warehouse: str,
                 protocol_version: int = 2,
                 options: ReplicationOptions | None = None,
                 retry_config=None):
        self.spark = spark
        self.warehouse = warehouse
        # transient-vs-permanent batch retry budget (retry.py); None keeps
        # the defaults mirroring the reference's RetryConfig
        self.retry_config = retry_config
        # the START_REPLICATION option set selects decoder/engine behavior
        # here (see options.py); protocol_version kwarg kept as shorthand
        self.options = (
            options or ReplicationOptions(protocol_version=protocol_version)
        ).validate()
        self.protocol_version = self.options.protocol_version
        # bigger Arrow batches amortize python-worker IPC in the decode kernel
        if spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                          None) in (None, "10000"):
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                           "20000")
        # smaller AQE target partitions keep the AQE-on bucketed writes of
        # LakeTable.create / rebucket at ~per-core parallelism (the default
        # 64 MB advisory coalesces their bucket shuffle to a few partitions,
        # serializing the write on small executors; bootstrap counts toward
        # setup time). The merge kernel runs with AQE off and an explicit
        # repartition, so this does not reach it.
        if spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", None
        ) in (None, "64MB", "67108864", "67108864b"):
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m"
            )
        self.tables_dir = os.path.join(warehouse, "tables")
        self.state_path = os.path.join(warehouse, "engine_state.json")
        self.pending_dir = os.path.join(warehouse, "pending")
        os.makedirs(self.tables_dir, exist_ok=True)

    # ------------------------------------------------------------------ state

    def _load_state(self) -> dict:
        if os.path.exists(self.state_path):
            with open(self.state_path) as f:
                st = json.load(f)
            found = st.get("state_version")
            if found is None or int(found) != ENGINE_STATE_VERSION:
                raise StateVersionError(
                    f"warehouse {self.warehouse!r} was written by engine "
                    f"state version {0 if found is None else int(found)}, "
                    f"this engine speaks "
                    f"{ENGINE_STATE_VERSION}. Refusing to replay onto an "
                    f"incompatible layout (pending/catalog formats differ). "
                    f"Re-bootstrap into a fresh warehouse, or replay with "
                    f"the matching engine version."
                )
            return st
        return {"batch_idx": 0, "catalog": {}, "open_xid": None,
                "applied_lsn": 0, "metrics": [],
                "pending": {"order": [], "deltas": {}, "dead_xids": []},
                "state_version": ENGINE_STATE_VERSION}

    def _save_state(self, st: dict) -> None:
        st.setdefault("state_version", ENGINE_STATE_VERSION)
        _atomic_write(self.state_path, json.dumps(st, indent=1))

    def table(self, name: str) -> LakeTable:
        return LakeTable(os.path.join(self.tables_dir, name))

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.tables_dir)
            if os.path.isdir(os.path.join(self.tables_dir, d))
        )

    def metrics_df(self) -> "DataFrame":
        """Per-partition lineage + throughput metrics as a DataFrame (the
        reference's heartbeat/throughput reporting analog): one row per
        (table, applied batch) from the lake snapshots' lineage log, plus
        engine-level batch rows (pending, quarantined)."""
        rows = []
        for t in self.tables():
            for rec in LakeTable(
                os.path.join(self.tables_dir, t)
            ).snapshot()["lineage"]:
                if rec.get("event"):
                    rows.append((t, None, rec.get("lsn"), None, None, None,
                                 None, None, str(rec["event"])))
                    continue
                rows.append((
                    t, str(rec.get("batch_id")), rec.get("applied_lsn"),
                    rec.get("upserts"), rec.get("deletes"),
                    len(rec.get("buckets_rewritten", []) or []),
                    rec.get("wall_ms"), bool(rec.get("skipped")), "merge",
                ))
        st = self._load_state()
        tot = st.get("metrics_rollup")
        if tot and tot.get("batches"):
            rows.append((
                None, None, None, None, None, None, None, None,
                f"metrics_rollup batches={tot['batches']} "
                f"quarantined={tot['quarantined']}",
            ))
        for m in st.get("metrics", []):
            rows.append((
                None, f"b{m['batch_idx']}", m.get("applied_lsn"),
                None, None, None, None, None,
                f"batch pending={m.get('pending')} quarantined={m.get('quarantined')}",
            ))
        # frame files held behind a WAL-order gap (admit_spans): a
        # non-empty set that never drains means a seq range was lost in
        # transport — surface it as a health row
        if st.get("held_frames"):
            spans = ", ".join(
                f"[{h['lo']},{h['hi']}]" for h in st["held_frames"]
            )
            rows.append((
                None, None, st.get("applied_lsn"), None, None, None, None,
                None,
                f"held_frames={len(st['held_frames'])} spans {spans} "
                f"(waiting for seq {int(st.get('max_seq', -1)) + 1})",
            ))
        # streaming drain rate + applied-vs-seen lag from the last trigger
        # (the reference's events/sec + LSN-feedback observability)
        ing = st.get("ingest")
        if ing:
            rows.append((
                None, f"e{ing['epoch']}", st.get("applied_lsn"), None, None,
                None, None, None,
                f"ingest frames={ing['frames']} chunks={ing['chunks']} "
                f"frames_per_sec={ing['frames_per_sec']} "
                f"lag_frames={ing['lag_frames']} lag_spans={ing['lag_spans']}",
            ))
        return self.spark.createDataFrame(
            rows,
            "table string, batch_id string, applied_lsn long, upserts long, "
            "deletes long, buckets_rewritten int, wall_ms long, "
            "skipped boolean, kind string",
        )

    def bootstrap_table(self, name: str, base_df: DataFrame,
                        key_columns: list[str], n_buckets: int = 16) -> LakeTable:
        return LakeTable.create(
            self.spark, os.path.join(self.tables_dir, name), base_df,
            key_columns, n_buckets, properties=self._table_properties(),
        )

    @staticmethod
    def _table_properties() -> dict:
        """Creation-time table properties. WALSTREAM_CHANGELOG=1 enables the
        change-data-feed on every table this engine creates: each MERGE also
        persists its compacted change records (LakeTable.read_changes is the
        consumer surface — the lake-side analog of the reference's typed
        event delivery to downstream consumers)."""
        props = {}
        if os.environ.get("WALSTREAM_CHANGELOG", "0") == "1":
            props["changelog"] = True
        return props

    # ---------------------------------------------------------------- pending
    #
    # Append-delta pending store (round 4). The round-3 store rewrote the
    # FULL pending set to parquet every batch — with many long-open
    # transactions the rewrite grows with pending volume, a per-batch
    # driver-serial tail at exactly the scale the north rule measures
    # (reference analog: the consumer's per-xid buffer grows incrementally,
    # examples/safe-transaction-consumer/src/main.rs:50-60). Now each batch
    # appends ONE delta holding only its newly-pending rows; resolved xids
    # are tombstoned in the store meta and masked at read, deltas whose
    # xids are all resolved are dropped, and the store is compacted (one
    # filtered rewrite) only when the delta count exceeds
    # PENDING_COMPACT_DELTAS — so per-batch spill cost tracks NEW pending
    # volume, not total open-transaction volume. The meta (``order`` of
    # delta dirs, per-delta per-xid row ``deltas``, ``dead_xids``) is the
    # engine state's ``pending`` entry and commits with it.

    PENDING_COMPACT_DELTAS = 8

    def _load_pending(self, pend: dict) -> DataFrame | None:
        """The live rows of the pending store described by meta ``pend``."""
        if not pend["order"]:
            return None
        paths = [os.path.join(self.pending_dir, d) for d in pend["order"]]
        df = self.spark.read.schema(EVENT_SPARK_DDL).parquet(*paths)
        if pend["dead_xids"]:
            # rows of already-resolved xids still physically present in
            # partially-live deltas — applied (or discarded) in an earlier
            # batch; masked here until their delta is dropped or compacted
            df = df.filter(~F.col("xid").isin(pend["dead_xids"]))
        return df

    def _pending_append(self, pend: dict, resolved_xids: set[int],
                        batch_idx: int, name: str | None) -> dict:
        """The pending-store meta after batch ``batch_idx``: ``pend`` with
        ``resolved_xids`` tombstoned and, if the batch's decode tasks wrote
        newly-pending rows into the fresh dir ``name``
        (``SideOutputs.pending``), that delta appended with its per-xid row
        counts, read from its ``xid`` column with pyarrow. Runs no Spark
        job except the compaction past PENDING_COMPACT_DELTAS.

        Crash-safety: this writes only dirs named after ``batch_idx``,
        which no committed state references (a batch that commits advances
        the index), and deletes nothing. The new meta commits with the
        engine state; ``_pending_sweep`` then deletes the dirs it dropped."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        new_rows: dict[str, int] = {}
        files = _part_files(os.path.join(self.pending_dir, name)) if name \
            else []
        if files:
            vc = pc.value_counts(pq.read_table(files, columns=["xid"])
                                 .column("xid"))
            new_rows = {str(x): int(n) for x, n in zip(
                vc.field("values").to_pylist(),
                vc.field("counts").to_pylist()) if x is not None}
        # tombstone resolved xids; drop deltas with no live xid left
        dead = set(pend["dead_xids"]) | {int(x) for x in resolved_xids}
        deltas = {d: pend["deltas"][d] for d in pend["order"]
                  if not {int(x) for x in pend["deltas"][d]} <= dead}
        if new_rows:
            deltas[name] = new_rows
        live = {int(x) for rows in deltas.values() for x in rows}
        # keep only tombstones that still mask physical rows
        out = {"order": list(deltas), "deltas": deltas,
               "dead_xids": sorted(dead & live)}
        if len(deltas) > self.PENDING_COMPACT_DELTAS:
            # amortized compaction: one filtered rewrite replaces all deltas
            cname = f"compact_b{batch_idx}"
            self._load_pending(out).write.mode("overwrite").parquet(
                os.path.join(self.pending_dir, cname))
            out = {"order": [cname], "deltas": {cname: _live_rows(out)},
                   "dead_xids": []}
        return out

    def _pending_sweep(self, pend: dict) -> None:
        """Delete every pending dir the committed meta ``pend`` does not
        reference: deltas it dropped or compacted away, and whatever an
        attempt that never committed left behind. The store dir goes once
        nothing is pending. Runs after the state save and never raises."""
        if not pend["order"]:
            shutil.rmtree(self.pending_dir, ignore_errors=True)
            return
        try:
            entries = os.listdir(self.pending_dir)
        except OSError:
            return
        for entry in entries:
            if entry not in pend["order"]:
                shutil.rmtree(os.path.join(self.pending_dir, entry),
                              ignore_errors=True)

    # --------------------------------------------------------------- planning

    def frame_spans(self, frames: DataFrame, paths) -> list[dict]:
        """Per-file ``{path, lo, hi, n}`` seq spans of the frame files:
        parquet footers of ``paths`` on the driver (no Spark job), else
        one ``groupBy(input_file_name())`` over ``frames`` — the fallback
        for foreign files without statistics or an unknown file list. A
        gap INSIDE one file is corruption, not reordering: no later
        delivery can heal it, so it fails loudly."""
        spans = seq_spans_from_footers(paths) if paths else None
        if spans is None:
            spans = [
                {"path": r["path"], "lo": int(r["lo"]), "hi": int(r["hi"]),
                 "n": int(r["n"])}
                for r in frames.groupBy(F.input_file_name().alias("path"))
                .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"),
                     F.count("seq").alias("n")).collect()
            ]
        for s in spans:
            if s["n"] != s["hi"] - s["lo"] + 1:
                raise RuntimeError(
                    f"WAL frame gap inside file {s['path']}: seq span "
                    f"[{s['lo']}, {s['hi']}] but only {s['n']} frames "
                    "present — frame file is corrupt.")
        return spans

    @staticmethod
    def admit_spans(st: dict, spans: list[dict]) -> list[dict]:
        """Hold-and-release admission: the spans that extend the consumed
        seq ``st["max_seq"]`` contiguously, in seq order. Spans entirely at
        or behind it are at-least-once redeliveries and drop out; spans
        past a seq gap are recorded in ``st["held_frames"]`` (the health
        row of ``metrics_df``) until a later call fills the gap. Frames
        carry dense 0-based seqs, so a fresh state expects seq 0."""
        consumed = st.get("max_seq")
        expected = int(consumed) + 1 if consumed is not None else 0
        process, held = [], []
        for s in sorted(spans, key=lambda s: s["lo"]):
            if s["hi"] < expected:
                continue
            if s["lo"] <= expected:
                process.append(s)
                expected = s["hi"] + 1
            else:
                held.append(s)
        if [h["path"] for h in held] != [
                h["path"] for h in st.get("held_frames", [])]:
            st["reorder_events"] = int(st.get("reorder_events", 0)) + 1
        st["held_frames"] = held
        return process

    # ------------------------------------------------------------ batch loop

    def run_batches(self, st: dict, batches, control_dir: str,
                    stop_at_lsn: int | None = None) -> list[dict]:
        """Apply ``(frames, lo, hi)`` batches in seq order — the one batch
        loop of bounded replay and streaming ingest. ``st["max_seq"]`` is
        its only cursor: a batch at or behind it is skipped, one straddling
        it is clamped to start just past it, so a resume continues at the
        consumed seq whatever the batch size. If the frame pump wrote the
        sidecar ``control_dir`` (see fixtures/wal_gen.write_frames), each
        batch reads its control rows there with the seq range pushed into
        the parquet read, so a growing sidecar costs only the rows in range.
        Stops after a batch that ``stop_at_lsn`` stopped."""
        import pyarrow.parquet as pq

        from .retry import retry_call

        sidecar = os.path.isdir(control_dir)
        records = []
        # the batch generator sizes the decode splits in the session conf
        # (tune_input_splits); the caller gets its own values back
        saved = {k: self.spark.conf.get(k, None) for k in _SPLIT_CONF}
        try:
            for frames, lo, hi in batches:
                consumed = st.get("max_seq")
                if consumed is not None:
                    if hi <= consumed:
                        continue
                    lo = max(lo, int(consumed) + 1)
                batch = frames.filter(f"seq BETWEEN {int(lo)} AND {int(hi)}")
                control_rows = None
                if sidecar:
                    control_rows = pq.read_table(
                        control_dir, columns=["seq", "wal_start", "data"],
                        filters=[("seq", ">=", lo), ("seq", "<=", hi)],
                    ).sort_by("seq").to_pylist()
                # transient failures (FS hiccups, executor loss surfacing as a
                # job failure) retry the WHOLE batch under a backoff budget —
                # safe because the LSN fence makes partial re-application a
                # no-op; permanent ones (ProtocolError floods, schema
                # hard-miss) raise immediately with their diagnostics
                # (the reference's src/retry.rs:36-62 + src/error.rs:221-245)
                idx = int(st["batch_idx"])
                before = copy.deepcopy(st)
                retries: list[dict] = []

                def attempt():
                    # a failed attempt may already have advanced the in-memory
                    # state (catalog, open-txn carry, cursor: all set just
                    # before the state save); retrying on top of it would
                    # replay the batch against its own end state
                    st.clear()
                    st.update(copy.deepcopy(before))
                    return self.process_batch(
                        batch, idx, st, seq_range=(lo, hi),
                        stop_at_lsn=stop_at_lsn, control_rows=control_rows,
                    )

                rec = retry_call(
                    attempt,
                    self.retry_config,
                    on_retry=lambda n, delay, exc: retries.append(
                        {"attempt": n, "delay_s": round(delay, 3),
                         "error": f"{type(exc).__name__}: {exc}"[:200]}
                    ),
                )
                if retries:
                    rec["retries"] = retries
                records.append(rec)
                if rec["stopped"]:
                    break
        finally:
            for k, v in saved.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)
        return records

    # ----------------------------------------------------------------- replay

    def replay_frames(self, frames_path: str, batch_frames: int = 500_000,
                      stop_at_lsn: int | None = None) -> dict:
        """Bounded replay of a frame directory in micro-batches of
        ``batch_frames`` frames (seq order), resuming at the consumed seq.
        Returns summary metrics.

        Applies the contiguous run of frames after the consumed seq; at a
        seq gap (a missing frame file) it stops and returns the frame
        files past the gap as ``held_frames``, which also stay in engine
        state. If the frame pump wrote a ``<frames>_control`` sidecar, the
        per-batch control scan reads it instead of re-scanning the full
        WAL payload column."""
        import time as _time

        setup_ms = {}
        _t = _time.monotonic()
        all_frames = self.spark.read.schema(FRAME_SPARK_DDL).parquet(
            frames_path)
        setup_ms["read_plan"] = int((_time.monotonic() - _t) * 1000)
        _t = _time.monotonic()
        # seq spans from parquet footers (driver-side, no Spark job);
        # the Spark groupBy only as the fallback for foreign files without
        # statistics. Two layout hazards around the flat *.parquet listing:
        # - a top-level frame file WITHOUT a .parquet suffix is still read
        #   by spark.read.parquet (the listing is not suffix-filtered) —
        #   a footer walk over *.parquet alone would miss its span and
        #   see a gap ⇒ abandon the fast path, let the Spark groupBy
        #   (same file set Spark reads) plan the replay;
        # - a MIXED flat+nested layout is incoherent in Spark itself
        #   (plain subdirs are ignored; partition-style subdirs shadow the
        #   flat files) — ANY span source silently replays a subset, so
        #   refuse loudly instead (pinned by tests/test_footer_spans.py::
        #   test_replay_refuses_mixed_flat_nested_layout).
        local_files: list | None = []
        if os.path.isdir(frames_path):
            subdirs = []
            for f in sorted(os.listdir(frames_path)):
                if f.startswith((".", "_")):
                    continue  # spark ignores hidden/meta entries too
                p = os.path.join(frames_path, f)
                if os.path.isdir(p):
                    subdirs.append(f)
                elif not f.endswith(".parquet"):
                    local_files = None  # foreign suffix: Spark groupBy
                elif local_files is not None:
                    local_files.append(p)
            if subdirs and (local_files is None or local_files):
                raise ValueError(
                    f"mixed flat+nested frame layout under {frames_path} "
                    f"(subdirectories {subdirs[:3]} alongside top-level "
                    "frame files): Spark reads an ill-defined subset of "
                    "such a tree, so the replay would silently skip "
                    "frames. Keep frame files flat in one directory."
                )
        st = self._load_state()
        spans = self.frame_spans(all_frames, local_files)
        process = self.admit_spans(st, spans)
        setup_ms["spans"] = int((_time.monotonic() - _t) * 1000)
        records = []
        if process:
            # cut on the directory's own grid, so a resume with the same
            # batch size repeats the batches an uninterrupted run would
            # have applied; run_batches skips and clamps at the cursor
            end = max(s["hi"] for s in process)

            def batches():
                # split sizing is session conf: set it only once a batch
                # runs, inside run_batches, which restores it
                tune_input_splits(self.spark, [frames_path])
                for a in range(min(s["lo"] for s in spans), end + 1,
                               batch_frames):
                    yield all_frames, a, min(a + batch_frames - 1, end)

            records = self.run_batches(
                st, batches(), frames_path.rstrip("/") + "_control",
                stop_at_lsn=stop_at_lsn)
        if not records:  # nothing applied: persist the held set here
            self._save_state(st)
        return {"batches": len(records), "applied_lsn": st["applied_lsn"],
                "records": records, "setup_ms": setup_ms,
                "held_frames": st["held_frames"]}

    EXPIRE_EVERY = 64
    EXPIRE_KEEP = 64

    def _maybe_expire(self, batch_idx: int) -> None:
        """Periodic snapshot expiry: without it every merge's superseded
        bucket files stay on disk forever and a long-running stream grows
        the warehouse without bound. Runs every EXPIRE_EVERY batches,
        keeping EXPIRE_KEEP versions per table (EXPIRE_EVERY = 0 disables
        it, for deployments wanting unbounded time travel). Driver-
        local file ops; cost is proportional to the retained window, which
        expiry itself keeps bounded."""
        if self.EXPIRE_EVERY <= 0 or (batch_idx + 1) % self.EXPIRE_EVERY:
            return
        for name in self.tables():
            t = self.table(name)
            stats = t.expire_snapshots(self.EXPIRE_KEEP)
            if stats["snapshots_deleted"] or stats["files_deleted"]:
                t.log_event({"event": "expire_snapshots", **{
                    k: stats[k] for k in (
                        "expired_before_version", "snapshots_deleted",
                        "files_deleted", "bytes_deleted")}})

    # ------------------------------------------------------------- one batch

    def process_batch(self, frames: DataFrame, batch_idx: int, st: dict, *,
                      seq_range: tuple[int, int],
                      stop_at_lsn: int | None = None,
                      control_rows: list[dict] | None = None) -> dict:
        import time as _time

        import pyarrow.parquet as pq

        phase_t = {}
        _t0 = _time.monotonic()

        # WAL order guard: a transport that reorders frame files would have
        # the late-arriving earlier segment silently fenced off as a
        # duplicate (exactly what mtime-tied file listings produced). New
        # data must extend the consumed range contiguously; a batch
        # entirely at-or-behind the high-water mark is an at-least-once
        # redelivery and proceeds (the LSN fence makes it a no-op).
        lo, hi = seq_range
        last = st.get("max_seq")
        if last is not None and hi > last and lo != last + 1:
            raise RuntimeError(
                f"WAL frames delivered out of order: batch covers seq "
                f"[{lo}, {hi}] but frames through {last} were already "
                f"consumed and the batch does not start at {last + 1}. "
                f"The frame transport must preserve WAL order "
                f"(file-based pumps: non-decreasing mtimes in seq order)."
            )

        def _mark(name):
            nonlocal _t0
            now = _time.monotonic()
            phase_t[name] = round((now - _t0) * 1000)
            _t0 = now

        # 1. control scan — pre-extracted sidecar rows if the frame pump
        # wrote a control channel (driver-local, zero Spark jobs), else a
        # tag-pushdown filter on the batch frames
        # Driver-memory guard: control-frame volume scales with TRANSACTION
        # count, not data volume — a pathological batch of millions of tiny
        # transactions would push millions of boundary rows through the
        # driver. The limit(cap+1) bounds the collect itself (TakeOrdered,
        # never materializing past the cap on the driver); exceeding it is
        # a loud, actionable error, because the right fix is upstream batch
        # sizing (max_frames_per_batch / max_bytes_per_batch), not silent
        # truncation that would corrupt transaction assembly.
        control_cap = int(os.environ.get(
            "WALSTREAM_CONTROL_MAX_ROWS", str(2_000_000)))
        if control_rows is not None:
            control = control_rows
        else:
            control = [
                r.asDict()
                for r in frames.filter(F.col("tag").isin(list(CONTROL_TAGS)))
                .select("seq", "wal_start", "data").sort("seq")
                .limit(control_cap + 1).collect()
            ]
        if len(control) > control_cap:
            raise RuntimeError(
                f"batch carries more than WALSTREAM_CONTROL_MAX_ROWS="
                f"{control_cap} control frames (begin/commit/relation...); "
                "the driver-side transaction assembly would not hold them. "
                "Lower max_frames_per_batch / max_bytes_per_batch on the "
                "ingest, or raise the cap for a driver with more memory.")
        carry_catalog = {
            int(oid): [tuple(v) for v in versions]
            for oid, versions in st.get("catalog", {}).items()
        }
        ctx = build_context(
            control,
            protocol_version=self.protocol_version,
            carry_catalog=carry_catalog,
            carry_open_xid=st.get("open_xid"),
            carry_open_stream_xid=st.get("open_stream_xid"),
            carry_aborted_subxids=st.get("aborted_subxids"),
            carry_origin_xids=st.get("origin_xids"),
        )
        _mark("control_scan")

        # 2. batch facts from the control channel, on the driver. Every
        # committed event carries its transaction's end_lsn, so the commit
        # high-water mark and the bounded-replay crossing commit are the
        # committed dispositions' end_lsns. (Origin filtering drops a
        # foreign transaction's changes, not its commit, so it still
        # advances the fence.)
        fence_floor = int(st.get("applied_lsn", 0))
        commit_ends = [int(el) for el, s in zip(ctx.xid_end_lsn,
                                                ctx.xid_status)
                       if s == ST_COMMITTED]
        hi_commit = max(commit_ends, default=None)
        # bounded replay: apply only transactions whose commit end_lsn is at
        # or before the crossing commit (commit-boundary rule)
        effective_stop = None
        if stop_at_lsn is not None:
            effective_stop = min(
                (el for el in commit_ends if el >= stop_at_lsn), default=None)
        batch_hi = effective_stop if effective_stop is not None else hi_commit
        resolved = {int(x) for x, s in zip(ctx.xid_sorted, ctx.xid_status)
                    if s in (ST_COMMITTED, ST_ABORTED)}
        stopped = effective_stop is not None
        pend = st["pending"]
        carried = {int(x) for x in _live_rows(pend)}
        truncates = self._committed_truncates(ctx, pend, carried,
                                              effective_stop, fence_floor)
        # xids whose rows stay pending past this batch: open or prepared
        # transactions of this batch (plain, streamed, truncate-only) plus
        # carried ones this batch does not resolve
        unresolved = ({int(x) for x in ctx.begin_xids}
                      | {int(x) for x in ctx.span_xids}
                      | {x for _, x, _ in ctx.truncates}
                      | carried) - resolved - {-1}
        # the side outputs of the job that decodes the batch: the dead
        # letters, and the pending delta of a batch cut inside a
        # transaction (step 7; a stopped batch keeps the store as it began,
        # so it writes none). Both dirs are named before the job and
        # cleared of what an earlier attempt left there. A batch index is
        # reused only by a batch that supersedes its earlier attempts (a
        # retry, a crash before the state save, a bounded-replay stop
        # resumed with another batch size), so every dead-letter dir of
        # this index goes; and no committed state references this index's
        # delta dir.
        qroot = os.path.join(self.warehouse, "quarantine")
        dead_dir = os.path.join(qroot, f"b{batch_idx}-s{int(lo)}-{int(hi)}")
        stale = []
        if os.path.isdir(qroot):
            stale = [os.path.join(qroot, d) for d in os.listdir(qroot)
                     if d.startswith(f"b{batch_idx}-")]
        delta = spill_dir = None
        if unresolved and not stopped:
            delta = f"delta_b{batch_idx}"
            spill_dir = os.path.join(self.pending_dir, delta)
            stale.append(spill_dir)
        for d in stale:
            if os.path.isdir(d):
                shutil.rmtree(d)
        # origin 'none' keeps foreign transactions out of the store, as
        # filter_origin keeps them out of the events below
        foreign = (tuple(sorted(ctx.origin_xids))
                   if self.options.origin == "none" else ())
        side = SideOutputs(dead_dir, spill_dir, foreign)

        # 3. schema evolution before merge. A stopped batch leaves the
        # changes announced after its stop commit to its resume: no
        # transaction it applies can use them.
        for change in ctx.schema_changes:
            if not stopped or change["lsn"] <= effective_stop:
                self._apply_schema_change(change)

        # 4. the batch's events: the decode kernel's rows plus the pending
        # store's rows re-stamped with this batch's dispositions.
        events = decoded = decode_frames_df(frames, ctx, side=side)
        pending = self._load_pending(pend)
        if pending is not None:
            pending = pending.selectExpr(
                *self._restamp_sql(ctx, carried, events.columns))
            # spilled rows of a since-stream-aborted SUBtransaction must not
            # apply when their top-level txn commits
            aborted_subs = [int(x) for x in ctx.aborted_subxids]
            if aborted_subs:
                pending = pending.filter(
                    F.col("sub_xid").isNull()
                    | ~F.col("sub_xid").isin(aborted_subs)
                )
            events = events.unionByName(pending)

        # origin 'none' (the replay analog of the reference's
        # START_REPLICATION options, src/stream.rs:1377-1446)
        if self.options.origin == "none" and ctx.has_origin:
            from .operators.raw import filter_origin

            # the context's xid set includes carried marks, so a foreign
            # transaction split across micro-batches stays poisoned
            events = filter_origin(events, "none",
                                   foreign_xids=sorted(ctx.origin_xids))

        # 5. which tables. A catalog naming one existing table merges it
        # straight from the decode. Otherwise the events are cached and ONE
        # aggregate finds the tables with committed DML.
        committed_sql = f"{_DML_SQL} AND txn_status = 'committed'"
        if effective_stop is not None:
            committed_sql += f" AND end_lsn <= {effective_stop}"
        relnames = {v.relname for vs in ctx.catalog.values() for v in vs}
        single = next(iter(relnames)) if len(relnames) == 1 else None
        if single is not None and not self.table(single).exists:
            single = None
        if single is None:
            # the cache's FIRST action is the aggregate itself: one job
            # materializes the events and writes the side outputs; the
            # merges read the cache
            events = events.persist()
        # any mid-batch failure (exactly what the retry taxonomy re-enters
        # on) must release the events cache, or each retry attempt would
        # persist a fresh copy and accumulate executor cache pressure
        try:
            if single is None:
                # AQE would split the aggregate at its exchange into two jobs
                with _kernel_aqe_off(self.spark):
                    tables = sorted(events.agg(F.expr(
                        f"collect_set(CASE WHEN {committed_sql} "
                        "THEN table_name END)")).first()[0])
            else:
                tables = ([single] if batch_hi is not None
                          and batch_hi > fence_floor else [])
            _mark("batch_stats")
            committed = events.filter(committed_sql)
            merge_list = sorted(set(tables) | set(truncates))
            _mark("plan_tables")

            # 6. per-table fenced merges. Every table merged this batch is
            # fenced at the batch's global committed high-water mark — the
            # engine applies batches in sequence against one global fence
            # floor, so per-table fences only need to be monotonic with it,
            # and the global hi makes duplicate-batch skips exact for all
            # tables.
            def _one(tname):
                return self._merge_table(
                    tname, committed, truncates.get(tname), batch_idx,
                    fence_floor, ctx, batch_hi, seq_range=(lo, hi),
                )

            if len(merge_list) > 1:
                # per-table merges are independent (distinct table dirs,
                # distinct snapshot logs) — run them as concurrent driver
                # threads so their Spark jobs interleave instead of
                # serializing one table's write behind another's. Each
                # call carries its own copy of the caller's Spark local
                # properties (job group, description): pool threads do not
                # inherit them, and one shared copy would let concurrent
                # SQL executions overwrite each other's execution id.
                from concurrent.futures import ThreadPoolExecutor

                from pyspark import inheritable_thread_target

                with ThreadPoolExecutor(min(len(merge_list), 8)) as pool:
                    futs = [pool.submit(
                        inheritable_thread_target(self.spark)(_one), t)
                        for t in merge_list]
                    recs = [f.result() for f in futs]
            else:
                recs = [_one(t) for t in merge_list]
            merged = [r for r in recs if r]
            batch_applied = max([fence_floor] + [r["applied_lsn"]
                                                 for r in merged])
            # max applied lsn this batch (even for tables with no DML)
            if batch_hi is not None:
                batch_applied = max(batch_applied, int(batch_hi))
            if single is not None and all(r["skipped"] for r in merged):
                # no job decoded the batch (nothing committed, or the
                # table fence skipped the merge): drain the decode once
                # for its side outputs
                with _kernel_aqe_off(self.spark):
                    decoded.write.format("noop").mode("overwrite").save()
            _mark("merges")
        finally:
            if single is None:
                events.unpersist()

        # 7. side outputs: count the dead letters from their footers and
        # fold the pending delta into the store meta (resolved xids
        # tombstone). A stopped batch keeps the store as it began.
        quarantined = sum(pq.ParquetFile(f).metadata.num_rows
                          for f in _part_files(dead_dir))
        if not stopped:
            pend = self._pending_append(pend, resolved, batch_idx, delta)
        n_pending = sum(_live_rows(pend).values())
        _mark("pending_spill")

        # 8. expiry, then the engine state: the batch's one durable commit
        # and the last step here that can raise, so a retry or restart
        # after any failure recomputes the batch from the state on disk. A
        # bounded-replay stop commits only what the LSN fence protects
        # (applied_lsn, its metrics row); its cursors (consumed seq, batch
        # index), catalog, carries and pending store stay as the batch
        # began, so a resume recomputes it from the same inputs — the
        # reference's restart-from-confirmed-LSN contract.
        rec = {
            "batch_idx": batch_idx,
            "applied_lsn": batch_applied,
            "tables": merged,
            "pending": n_pending,
            "quarantined": quarantined,
            "schema_changes": len(ctx.schema_changes),
            "stopped": stopped,
            "phase_ms": phase_t,
        }
        if quarantined:
            rec["quarantine_dir"] = dead_dir
        if not stopped:
            st["batch_idx"] = batch_idx + 1
            st["catalog"] = {
                str(oid): [list(v) for v in versions]
                for oid, versions in ctx.catalog.items()
            }
            st["open_xid"] = ctx.open_xid_carry
            st["open_stream_xid"] = ctx.open_stream_carry
            # sub-abort markers must outlive the batch while their
            # top-level txns are still pending; once nothing is pending
            # they are spent
            st["aborted_subxids"] = (
                [int(x) for x in ctx.aborted_subxids] if n_pending else []
            )
            # origin marks of still-unresolved foreign txns survive
            st["origin_xids"] = sorted(int(x) for x in ctx.origin_carry)
            st["pending"] = pend
            st["max_seq"] = int(hi) if last is None else max(int(last),
                                                              int(hi))
        st["applied_lsn"] = batch_applied
        _append_metrics(st, rec)
        self._maybe_expire(batch_idx)
        self._save_state(st)
        self._pending_sweep(st["pending"])
        _mark("state_save")
        return rec

    # ---------------------------------------------------------------- helpers

    @staticmethod
    def _restamp_sql(ctx, xids, columns) -> list[str]:
        """Select list re-stamping carried pending rows with this batch's
        dispositions (xids it does not resolve stay open). Literal maps
        over the carried xids, not a join with a side relation, so the
        re-stamp adds no broadcast job to the batch."""
        xids = sorted(xids)
        status, cl, el, ts = ctx.disposition(np.array(xids, np.int64))
        done = status == ST_COMMITTED

        def lookup(keep, vals, ty):
            pairs = [f"{x}L, {v}" for x, k, v in zip(xids, keep, vals) if k]
            if not pairs:
                return f"CAST(NULL AS {ty})"
            return f"element_at(map({', '.join(pairs)}), xid)"

        def lsns(vals):
            return lookup(done, [f"CAST({v} AS BIGINT)" for v in vals],
                          "BIGINT")

        sub = {
            "txn_status": "coalesce({}, 'open')".format(lookup(
                status != ST_OPEN, [f"'{n}'" for n in _STATUS_NAMES[status]],
                "STRING")),
            "commit_lsn": lsns(cl),
            "end_lsn": lsns(el),
            "commit_ts_us": lsns(ts),
        }
        return [f"{sub[c]} AS {c}" if c in sub else f"`{c}`"
                for c in columns]

    # widening PG type promotions the lake applies as metadata-only schema
    # updates (parquet up-casts old files at read time); anything else is
    # surfaced loudly as schema_evolution_unsupported
    _PG_PROMOTIONS = {(21, 23), (21, 20), (23, 20), (700, 701)}

    def _apply_schema_change(self, change: dict) -> None:
        """Structural relation diff → lake schema evolution
        (/root/reference/src/protocol.rs:1430-1443 diffs all of: names,
        types, replica identity). Supported: ADD, positional RENAME
        (read-alias, no rewrite), DROP, widening type promotion. A table
        rename, non-widening type change, or key/replica-identity change
        is recorded as a loud ``schema_evolution_unsupported`` lineage
        event instead of silently mis-mapping columns. Idempotent: a batch
        recomputed after a stop or a crash detects its changes again."""
        new = change["new"]
        old = change["old"]
        lsn = change.get("lsn")
        tname = new[2]
        if old[2] != new[2]:
            t = self.table(old[2])
            if t.exists:
                _log_once(t, {
                    "event": "schema_evolution_unsupported",
                    "kind": "table_rename", "from": old[2], "to": new[2],
                    "lsn": lsn,
                })
            return
        t = self.table(tname)
        if not t.exists:
            return
        old_names, new_names = list(old[4]), list(new[4])
        old_types, new_types = list(old[6]), list(new[6])

        renames = []
        if len(old_names) == len(new_names):
            for i, (a, b) in enumerate(zip(old_names, new_names)):
                if (a != b and old_types[i] == new_types[i]
                        and a not in new_names and b not in old_names):
                    renames.append((a, b))
        ren_old = {a for a, _ in renames}
        ren_new = {b for _, b in renames}

        for a, b in renames:
            t.rename_column(a, b, lsn=lsn)
        added = [
            (n, _PG_TYPE_TO_SPARK.get(toid, "string"))
            for n, toid in zip(new_names, new_types)
            if n not in old_names and n not in ren_new
        ]
        if added:
            t.add_columns(added, lsn=lsn)
        dropped = [n for n in old_names
                   if n not in new_names and n not in ren_old]
        if dropped:
            keys = set(t.snapshot()["key_columns"])
            undroppable = [n for n in dropped if n in keys]
            if undroppable:
                _log_once(t, {
                    "event": "schema_evolution_unsupported",
                    "kind": "drop_key_column", "columns": undroppable,
                    "lsn": lsn,
                })
            t.drop_columns([n for n in dropped if n not in keys], lsn=lsn)

        ot_map = dict(zip(old_names, old_types))
        for n, nt in zip(new_names, new_types):
            ot = ot_map.get(n)
            if ot is None or ot == nt:
                continue
            if (ot, nt) in self._PG_PROMOTIONS:
                t.promote_column(
                    n, _PG_TYPE_TO_SPARK.get(nt, "string"), lsn=lsn
                )
            else:
                _log_once(t, {
                    "event": "schema_evolution_unsupported",
                    "kind": "type_change", "column": n,
                    "from_oid": int(ot), "to_oid": int(nt), "lsn": lsn,
                })

        old_keys = [n for n, fl in zip(old_names, old[5]) if fl & 1]
        new_keys = [n for n, fl in zip(new_names, new[5]) if fl & 1]
        new_keys_mapped = [
            next((b for a, b in renames if a == k), k) for k in old_keys
        ]
        if sorted(new_keys) != sorted(new_keys_mapped):
            _log_once(t, {
                "event": "schema_evolution_unsupported",
                "kind": "key_change", "from": old_keys, "to": new_keys,
                "lsn": lsn,
            })

    def _committed_truncates(self, ctx, pend: dict, carried: set[int],
                             effective_stop, fence_floor: int) -> dict:
        """{table: (commit_lsn, seq, end_lsn)} of each table's last truncate
        committed past the fence, on the driver: this batch's TRUNCATE
        frames from the control channel, plus the truncate rows of the
        ``carried`` (live pending) transactions this batch commits, read
        from the pending store with pyarrow."""
        import pyarrow.parquet as pq

        found = list(ctx.truncates)
        now = carried & {int(x) for x, s in zip(ctx.xid_sorted,
                                                ctx.xid_status)
                         if s == ST_COMMITTED}
        for d in pend["order"]:
            if not now.intersection(map(int, pend["deltas"][d])):
                continue
            for f in _part_files(os.path.join(self.pending_dir, d)):
                for r in pq.read_table(
                    f, columns=["seq", "xid", "truncate_tables"],
                    filters=[("event_type", "=", "truncate")],
                ).to_pylist():
                    if r["xid"] in now:
                        found.append((r["seq"], r["xid"],
                                      r["truncate_tables"] or ()))
        # origin 'none' drops a foreign transaction's truncates with its DML
        foreign = ctx.origin_xids if self.options.origin == "none" else ()
        out: dict[str, tuple] = {}
        if not found:
            return out
        status, cl, el, _ = ctx.disposition(
            np.array([x for _, x, _ in found], np.int64))
        for (seq, xid, names), s_, c_, e_ in zip(found, status, cl, el):
            if (xid < 0 or s_ != ST_COMMITTED or xid in foreign
                    or e_ <= fence_floor
                    or (effective_stop is not None and e_ > effective_stop)):
                continue
            pos = (int(c_), int(seq), int(e_))
            for t in names:
                cur = out.get(t)
                if cur is None or pos[:2] > cur[:2]:
                    out[t] = pos
        return out

    def _merge_table(self, tname: str, committed: DataFrame,
                     truncate_pos, batch_idx: int, fence_floor: int, ctx,
                     lsn_hi=None, *, seq_range: tuple[int, int]):
        """One table's share of a batch, applied by the
        bucket-co-located merge kernel (``LakeTable.merge_bucketed``): it
        reads only the buckets its change rows hash to, the old-key bucket
        of a key-changing update included. A value its typed column
        cannot hold (ANSI ``CAST_INVALID_INPUT`` in ``dml_images``)
        re-raises as a ``PermanentError`` naming the table and batch."""
        t = self.table(tname)
        cond = f"table_name = {_qs(tname)} AND end_lsn > {int(fence_floor)}"
        if truncate_pos is not None:
            # discard images at or before the truncate position
            tc, tseq, _ = truncate_pos
            cond += (f" AND (commit_lsn > {tc} OR (commit_lsn = {tc} "
                     f"AND seq > {tseq}))")
        ev = committed.filter(cond)
        if not t.exists:
            # table appeared mid-stream: create empty from the relation
            # catalog's announced schema (name + type oids + key flags)
            rel = None
            for versions in ctx.catalog.values():
                for v in versions:
                    if v.relname == tname:
                        rel = v
            if rel is None:
                return None
            ddl = ", ".join(
                f"`{n}` {_PG_TYPE_TO_SPARK.get(toid, 'string')}"
                for n, toid in zip(rel.names, rel.type_oids)
            )
            keys = [n for n, fl in zip(rel.names, rel.key_flags) if fl & 1] \
                or list(rel.names)
            t = LakeTable.create(
                self.spark, os.path.join(self.tables_dir, tname),
                self.spark.createDataFrame([], ddl), keys,
                properties=self._table_properties(),
            )
        snap = t.snapshot()
        key_cols = snap["key_columns"]
        key_types = {n: ty for n, ty in snap["schema"] if n in key_cols}
        data_cols = [(n, ty) for n, ty in snap["schema"] if n not in key_cols]
        if truncate_pos is not None:
            lsn_hi = max(int(lsn_hi or 0), int(truncate_pos[2]))
        if lsn_hi is None:
            return None
        images = dml_images(ev, key_cols, data_cols,
                            aliases=snap.get("aliases"), key_types=key_types)
        try:
            rec = t.merge_bucketed(
                self.spark, images, applied_lsn=int(lsn_hi),
                batch_id=f"b{batch_idx}-{uuid.uuid4().hex[:6]}",
                truncate_first=truncate_pos is not None,
            )
        except PySparkException as exc:
            if exc.getCondition() != "CAST_INVALID_INPUT":
                raise
            casts = ", ".join(f"{n} {ty}" for n, ty in snap["schema"]
                              if ty != "string")
            raise PermanentError(
                f"table {tname!r}, batch {batch_idx} (seq {list(seq_range)}, "
                f"up to LSN {int(lsn_hi)} over applied LSN "
                f"{t.applied_lsn()}): {str(exc).split('. ')[0]}; typed "
                f"columns: {casts}") from exc
        rec["table"] = tname
        return rec
