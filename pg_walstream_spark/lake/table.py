"""LakeTable: a minimal transactional lake-table format (Iceberg-analog).

No Iceberg/Delta jars ship in this sandbox, so the exactly-once sink
semantics the reference's LSN feedback contract requires
(/root/reference/src/lsn.rs:105-173 — monotonic applied-LSN, ack after
apply) are implemented directly:

- **Data layout**: parquet files hash-bucketed by key
  (``pmod(xxhash64(key), n_buckets)``). A MERGE rewrites only the buckets a
  batch touches (copy-on-write at bucket granularity) — at 10^10-event scale
  a micro-batch touches a bounded subset of buckets, so commit cost scales
  with change volume, not table size.
- **Atomic commits**: JSON snapshot files ``meta/v{N}.json`` + an atomic
  rename of ``meta/CURRENT``. Single-writer (the streaming driver), exactly
  the reference's one-consumer-per-slot model.
- **LSN fence**: every snapshot carries ``applied_lsn``. ``merge()`` is
  idempotent: a replayed batch whose max commit LSN is ≤ the fence is
  skipped — the direct analog of the reference's monotonic
  ``update_applied_lsn`` CAS (applied ⇒ flushed).
- **Schema evolution**: snapshot-level column adds; old files read through
  the current schema yield nulls (parquet read-with-schema reconciliation),
  mirroring Iceberg ADD COLUMN driven by Relation-message diffs.
- **Lineage/metrics**: each snapshot records batch id, rows upserted/
  deleted, buckets rewritten and wall time (per-partition lineage).

MERGE strategy: ``merge_bucketed`` (lake/merge_kernel.py) shuffles only the
change rows and merges each touched bucket with its target files in one
Arrow task, streaming the target one row group at a time. It is the only
MERGE: ``merge``, the replica-apply step of change-data-feed consumers,
projects a compacted change set onto the kernel's input shape.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.compact import _qi, _qs


# zstd for lake data: write volume dominates the merge tail — measured 12%
# faster merges at 8 cores (RAM-backed dir) vs snappy/uncompressed, ~4%
# slower at 1 core where CPU binds; at cluster scale storage IO is the
# constraint and the smaller files also cut every subsequent target scan
LAKE_CODEC = "zstd"


def _atomic_write(path: str, payload: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)


# Snapshots are re-read and rewritten on EVERY merge, so an unbounded
# lineage log would make commit cost grow with table age (at 10^6 batches
# the snapshot itself becomes a per-batch serial cost). Keep the last N
# records verbatim and roll older ones into one aggregate summary row.
LINEAGE_CAP = 256


def _append_lineage(lineage: list[dict], record: dict,
                    cap: int | None = None) -> list[dict]:
    """Append ``record``, rolling overflow into a ``lineage_rollup`` head
    row that accumulates counters (merges, upserts, deletes, wall time)."""
    cap = LINEAGE_CAP if cap is None else cap
    if lineage and lineage[0].get("event") == "lineage_rollup":
        rollup, rest = dict(lineage[0]), list(lineage[1:])
    else:
        rollup, rest = {"event": "lineage_rollup", "n_rolled": 0,
                        "merges": 0, "upserts": 0, "deletes": 0,
                        "wall_ms": 0, "skipped": 0, "other_events": 0}, \
                       list(lineage)
    rest.append(record)
    while len(rest) > cap:
        old = rest.pop(0)
        rollup["n_rolled"] += 1
        if old.get("event"):
            rollup["other_events"] += 1
        else:
            rollup["merges"] += 1
            rollup["upserts"] += int(old.get("upserts") or 0)
            rollup["deletes"] += int(old.get("deletes") or 0)
            rollup["wall_ms"] += int(old.get("wall_ms") or 0)
            rollup["skipped"] += 1 if old.get("skipped") else 0
    return ([rollup] if rollup["n_rolled"] else []) + rest


_AQE_KEY = "spark.sql.adaptive.enabled"
_AQE_LOCK = threading.Lock()
# id(session) -> [holders, session]: sessions whose AQE the kernel turned off
_AQE_OFF: dict[int, list] = {}


@contextlib.contextmanager
def _kernel_aqe_off(sess):
    """AQE off on ``sess`` for a kernel job. Concurrent kernel merges (the
    engine's per-table threads) share one session conf, where per-call
    save/restore can interleave into stranding AQE off or running a kernel
    with it on: the first holder turns it off, the last one restores it."""
    sid = id(sess)
    with _AQE_LOCK:
        hold = _AQE_OFF.get(sid)
        if hold is not None:
            hold[0] += 1
        elif sess.conf.get(_AQE_KEY, "true") == "true":
            sess.conf.set(_AQE_KEY, "false")
            hold = _AQE_OFF[sid] = [1, sess]
    try:
        yield
    finally:
        if hold is not None:
            with _AQE_LOCK:
                hold[0] -= 1
                if not hold[0]:
                    del _AQE_OFF[sid]
                    sess.conf.set(_AQE_KEY, "true")


class LakeTable:
    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "meta")
        self.data_dir = os.path.join(root, "data")
        self.changelog_dir = os.path.join(root, "changelog")

    # ------------------------------------------------------------------ meta

    @property
    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, "CURRENT"))

    def _current_version(self) -> int:
        with open(os.path.join(self.meta_dir, "CURRENT")) as f:
            return int(f.read().strip())

    def snapshot(self) -> dict:
        v = self._current_version()
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
            return json.load(f)

    def snapshot_at(self, version: int) -> dict:
        """Snapshot metadata of a specific version (time travel). Raises
        FileNotFoundError for versions past the expiry horizon."""
        p = os.path.join(self.meta_dir, f"v{int(version)}.json")
        with open(p) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        # versions below the expiry horizon are gone: walk whatever
        # v*.json files exist, in version order
        vs = sorted(
            int(f[1:-5]) for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
            and f[1:-5].isdigit()
        ) if os.path.isdir(self.meta_dir) else []
        out = []
        for v in vs:
            with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
                out.append(json.load(f))
        return out

    def applied_lsn(self) -> int:
        return int(self.snapshot()["properties"].get("applied_lsn", 0))

    # Snapshot metadata records data-file paths RELATIVE to the table root
    # (like Iceberg manifests record location-relative paths): a warehouse
    # that is moved, re-mounted, or reached through a different spelling
    # (symlink, ./ prefix) keeps reading and — critically — keeps expiring
    # safely. Absolute paths in pre-round-6 snapshots still resolve via the
    # _abs passthrough.

    def _rel(self, p: str) -> str:
        root = os.path.abspath(self.root)
        ap = os.path.abspath(p)
        if ap == root or ap.startswith(root + os.sep):
            return os.path.relpath(ap, root)
        return p

    def _abs(self, p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(self.root, p)

    def _commit(self, snap: dict) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        v = snap["version"]
        _atomic_write(
            os.path.join(self.meta_dir, f"v{v}.json"), json.dumps(snap, indent=1)
        )
        _atomic_write(os.path.join(self.meta_dir, "CURRENT"), str(v))

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        df: DataFrame,
        key_columns: list[str],
        n_buckets: int = 16,
        properties: dict | None = None,
    ) -> "LakeTable":
        """Bootstrap a table from ``df``. Every column needs an Arrow type
        (the merge kernel reads and writes Arrow) and no key column may be
        nested (the kernel hash-joins on the keys); a ValueError names the
        offending column."""
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import ArrayType, MapType, StructType

        for f in df.schema.fields:
            if f.name in key_columns and isinstance(
                    f.dataType, (ArrayType, MapType, StructType)):
                raise ValueError(
                    f"key column {f.name!r} has nested type "
                    f"{f.dataType.simpleString()}; keys must be scalar")
            try:
                to_arrow_type(f.dataType)
            except TypeError as e:
                raise ValueError(
                    f"column {f.name!r} has type "
                    f"{f.dataType.simpleString()} with no Arrow mapping") from e
        t = LakeTable(root)
        os.makedirs(t.data_dir, exist_ok=True)
        schema = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        files = t._write_buckets(
            df.withColumn("_bucket", t._bucket_expr(key_columns, n_buckets)),
            snapshot_version=1,
        )
        snap = {
            "version": 1,
            "schema": schema,
            "key_columns": key_columns,
            "n_buckets": n_buckets,
            "files": files,
            "properties": {"applied_lsn": 0, **(properties or {})},
            "lineage": [],
        }
        t._commit(snap)
        return t

    def add_columns(self, cols: list[tuple[str, str]], lsn: int | None = None) -> None:
        """Metadata-only schema evolution (Iceberg ADD COLUMN analog).

        A name that re-enters the schema after a DROP — or that collides
        with a pre-rename alias still serving another column's data — gets
        a ``column_since`` fence (the new snapshot version): files written
        before it still hold the OLD column's physical values under this
        name, and ``read`` must serve null for the new column from them
        instead of resurrecting stale data (Iceberg solves this with field
        ids; the version fence is the snapshot-log equivalent)."""
        snap = self.snapshot()
        existing = {n for n, _ in snap["schema"]}
        added = [(n, ty) for n, ty in cols if n not in existing]
        if not added:
            return
        snap["version"] += 1
        # changelog_files belong to the commit that wrote them; a
        # metadata-only commit must not re-attribute them to its version
        snap.pop("changelog_files", None)
        alias_olds = {
            a for olds in snap.get("aliases", {}).values() for a in olds
        }
        haunted = set(snap.get("dropped_names", [])) | alias_olds
        since = dict(snap.get("column_since", {}))
        for n, _ in added:
            if n in haunted:
                since[n] = snap["version"]
        if since:
            snap["column_since"] = since
        snap["schema"] = snap["schema"] + added
        snap["lineage"] = _append_lineage(
            snap["lineage"],
            {"event": "add_columns", "columns": added, "lsn": lsn},
        )
        self._commit(snap)

    def rename_column(self, old: str, new: str, lsn: int | None = None) -> None:
        """Metadata-only RENAME (Iceberg analog): the snapshot records the
        old name as a read alias, and ``read`` coalesces alias columns into
        the current name — files written before the rename keep serving
        their data without a rewrite."""
        snap = self.snapshot()
        names = [n for n, _ in snap["schema"]]
        if old not in names or new in names:
            return
        aliases = {k: list(v) for k, v in snap.get("aliases", {}).items()}
        chain = aliases.pop(old, [])
        aliases[new] = [old] + chain
        snap["version"] += 1
        # changelog_files belong to the commit that wrote them; a
        # metadata-only commit must not re-attribute them to its version
        snap.pop("changelog_files", None)
        snap["schema"] = [
            [new if n == old else n, ty] for n, ty in snap["schema"]
        ]
        snap["key_columns"] = [
            new if k == old else k for k in snap["key_columns"]
        ]
        snap["aliases"] = aliases
        snap["lineage"] = _append_lineage(
            snap["lineage"],
            {"event": "rename_column", "from": old, "to": new, "lsn": lsn},
        )
        self._commit(snap)

    def drop_columns(self, cols: list[str], lsn: int | None = None) -> None:
        """Metadata-only DROP: removed from the snapshot schema; the column
        simply stops being read from existing files. Key columns cannot be
        dropped."""
        snap = self.snapshot()
        keys = set(snap["key_columns"])
        dropped = [c for c in cols
                   if c not in keys and any(n == c for n, _ in snap["schema"])]
        if not dropped:
            return
        snap["version"] += 1
        # changelog_files belong to the commit that wrote them; a
        # metadata-only commit must not re-attribute them to its version
        snap.pop("changelog_files", None)
        snap["schema"] = [e for e in snap["schema"] if e[0] not in dropped]
        pre_aliases = snap.get("aliases", {})
        snap["aliases"] = {k: v for k, v in pre_aliases.items()
                           if k not in dropped}
        # remember every physical name the dropped columns leave behind in
        # existing files (the column itself + its pre-rename aliases): a
        # later add_columns under any of these names must NOT resurrect
        # their old values (see add_columns / column_since)
        ghost = set(snap.get("dropped_names", []))
        for c in dropped:
            ghost.add(c)
            ghost.update(pre_aliases.get(c, []))
        snap["dropped_names"] = sorted(ghost)
        snap["lineage"] = _append_lineage(
            snap["lineage"],
            {"event": "drop_columns", "columns": dropped, "lsn": lsn},
        )
        self._commit(snap)

    def promote_column(self, name: str, new_type: str,
                       lsn: int | None = None) -> None:
        """Widening type promotion (int→bigint, float→double, …): metadata
        only — the parquet reader up-casts old files at scan time. A no-op
        when the column is absent or already has ``new_type``."""
        snap = self.snapshot()
        if not any(e[0] == name and e[1] != new_type for e in snap["schema"]):
            return
        snap["version"] += 1
        # changelog_files belong to the commit that wrote them; a
        # metadata-only commit must not re-attribute them to its version
        snap.pop("changelog_files", None)
        snap["schema"] = [
            [n, new_type if n == name else ty] for n, ty in snap["schema"]
        ]
        snap["lineage"] = _append_lineage(
            snap["lineage"],
            {"event": "promote_column", "column": name, "type": new_type,
             "lsn": lsn},
        )
        self._commit(snap)

    def log_event(self, event: dict) -> None:
        """Append an informational lineage event (e.g. an unsupported
        schema-evolution notice) as its own snapshot commit."""
        snap = self.snapshot()
        snap["version"] += 1
        # changelog_files belong to the commit that wrote them; a
        # metadata-only commit must not re-attribute them to its version
        snap.pop("changelog_files", None)
        snap["lineage"] = _append_lineage(snap["lineage"], event)
        self._commit(snap)

    # ------------------------------------------------------------------ read

    def _spark_schema_ddl(self, snap: dict) -> str:
        return ", ".join(f"`{n}` {ty}" for n, ty in snap["schema"])

    @staticmethod
    def _file_version(path: str) -> int:
        """Snapshot version a data file was written at (encoded in its
        ``data/s{N}-{uuid}/`` directory)."""
        import re

        m = re.search(r"/s(\d+)-[0-9a-f]+/", path)
        return int(m.group(1)) if m else 1

    def _read_files(self, spark: SparkSession, snap: dict, files: list[str],
                    masked: frozenset) -> DataFrame:
        """Read one group of data files through the current schema.

        ``masked``: re-added column names whose values in THESE files belong
        to a previously dropped/renamed column — served as null (see
        add_columns / column_since). Rename aliases: each pre-rename
        physical name is also requested (typed like its current column) so
        old files keep serving data, then coalesced into the current name."""
        aliases = snap.get("aliases", {})
        typemap = {n: ty for n, ty in snap["schema"]}
        requested = [(n, ty) for n, ty in snap["schema"] if n not in masked]
        req_names = {n for n, _ in requested}
        extra = [
            (a, typemap[new])
            for new, olds in aliases.items() if new in typemap
            for a in olds if a not in req_names
        ]
        full_ddl = ", ".join(
            f"`{n}` {ty}" for n, ty in [*requested, *extra]
        )
        # explicit schema → files missing late-added columns read as null
        df = spark.read.schema(full_ddl).parquet(*files)
        sel_cols = []
        plain = True
        for n, ty in snap["schema"]:
            if n in masked:
                sel_cols.append(F.lit(None).cast(ty).alias(n))
                plain = False
                continue
            olds = [a for a in aliases.get(n, []) if a not in req_names]
            if olds:
                sel_cols.append(
                    F.coalesce(F.col(n), *[F.col(a) for a in olds]).alias(n)
                )
                plain = False
            else:
                sel_cols.append(F.col(n))
        if plain and not extra:
            return df
        return df.select(*sel_cols)

    def read(self, spark: SparkSession, buckets: list[int] | None = None,
             version: int | None = None) -> DataFrame:
        """Read the table — optionally a bucket subset, optionally AS OF a
        past snapshot ``version`` (time travel over the versioned
        metadata; bounded by the expiry horizon, Iceberg
        ``VERSION AS OF`` analog)."""
        snap = self.snapshot() if version is None else self.snapshot_at(version)
        files = []
        sel = snap["files"] if buckets is None else {
            str(b): snap["files"].get(str(b), []) for b in buckets
        }
        for fl in sel.values():
            files.extend(self._abs(f) for f in fl)
        ddl = self._spark_schema_ddl(snap)
        if not files:
            return spark.createDataFrame([], ddl)
        since = snap.get("column_since", {})
        if not since:
            return self._read_files(spark, snap, files, frozenset())
        # group files by which re-added columns must be masked for them:
        # a file written before a column's re-add fence still carries the
        # dropped/renamed predecessor's physical values under that name
        groups: dict[frozenset, list[str]] = {}
        for f in files:
            v = self._file_version(f)
            mask = frozenset(c for c, v0 in since.items() if v < int(v0))
            groups.setdefault(mask, []).append(f)
        dfs = [
            self._read_files(spark, snap, fl, mask)
            for mask, fl in sorted(groups.items(), key=lambda kv: sorted(kv[0]))
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def read_changes(self, spark: SparkSession, since_version: int = 0,
                     until_version: int | None = None) -> DataFrame:
        """Change-data-feed read: every change record committed by versions
        in ``(since_version, until_version]`` (Delta CDF / Iceberg
        changelog-scan analog). Requires the table property ``changelog``.

        Each row is a replica-apply record: key + data columns AS OF its
        commit's schema, ``_op`` ('upsert'|'delete'), ``_toast`` (column
        names whose value the consumer carries forward from its previous
        image — the pgoutput unchanged-TOAST contract,
        /root/reference/src/protocol.rs:310-328), ``_commit_version`` and
        ``_commit_lsn``. One version holds at most one record per key, so
        applying the feed one version at a time, in version order, onto a
        copy of the table at ``since_version`` via ``merge`` reproduces the
        table at ``until_version`` exactly (pinned in
        tests/test_changelog.py).
        Commits straddling a schema change union by name with missing
        columns null; replicas must mirror DDL commits (rename/add/drop —
        recorded in the lineage) at the matching version boundary, exactly
        as a logical-replication subscriber would (recipe pinned by
        tests/test_changelog.py::test_feed_replay_across_rename). Truncates
        emit no row records — consumers must watch the lineage
        ``truncated`` flag. Retention equals snapshot retention: versions
        past the expiry horizon raise."""
        cur = self._current_version()
        hi = cur if until_version is None else int(until_version)
        lo = int(since_version)
        if not self.snapshot()["properties"].get("changelog"):
            raise ValueError(
                f"changelog not enabled on table {self.root}; create it "
                "with properties={'changelog': True} (engine: "
                "WALSTREAM_CHANGELOG=1)")
        if hi > cur:
            raise ValueError(
                f"until_version {hi} is beyond CURRENT ({cur})")
        extra_ddl = (", `_op` string, `_toast` array<string>, "
                     "`_commit_version` bigint, `_commit_lsn` bigint")
        groups: list[list] = []  # [ddl, [files]]
        for v in range(lo + 1, hi + 1):
            try:
                snap = self.snapshot_at(v)
            except FileNotFoundError:
                raise ValueError(
                    f"version {v} is past the expiry horizon of table "
                    f"{self.root}; lower keep_last retention or read from "
                    "a later since_version") from None
            fl = snap.get("changelog_files")
            if not fl:
                continue  # DDL / rebucket commits carry no row changes
            ddl = self._spark_schema_ddl(snap) + extra_ddl
            files = [self._abs(f) for f in fl]
            if groups and groups[-1][0] == ddl:
                groups[-1][1].extend(files)
            else:
                groups.append([ddl, files])
        if not groups:
            return spark.createDataFrame(
                [], self._spark_schema_ddl(self.snapshot()) + extra_ddl)
        dfs = [spark.read.schema(ddl).parquet(*fl) for ddl, fl in groups]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def diff_versions(self, spark: SparkSession, from_version: int,
                      to_version: int | None = None) -> DataFrame:
        """Feed-shaped diff between two snapshots, computed from the DATA
        (no ``changelog`` property needed): rows present only at
        ``from_version`` emit ``_op='delete'`` (their last image), rows new
        or changed at ``to_version`` emit ``_op='upsert'`` (the new image);
        ``_toast`` is always empty (images are complete). The diff holds
        at most one row per key, so applying it onto a copy of the table
        at ``from_version`` via ``merge`` reproduces ``to_version`` exactly
        (pinned in tests).

        This is the BACKFILL tool: one full-outer join shuffling both
        snapshots — cost scales with table size, unlike ``read_changes``
        which scales with change volume. Use the changelog when it exists;
        use this to bootstrap a consumer onto a table that predates it."""
        snap_b = (self.snapshot() if to_version is None
                  else self.snapshot_at(to_version))
        keys = snap_b["key_columns"]
        cols_b = [n for n, _ in snap_b["schema"]]
        types_b = dict(snap_b["schema"])
        a_df = self.read(spark, version=from_version)
        for c in cols_b:
            if c not in a_df.columns:
                a_df = a_df.withColumn(c, F.lit(None).cast(types_b[c]))
        a = a_df.select(*cols_b).alias("a")
        b = self.read(spark, version=snap_b["version"]).select(
            *cols_b).alias("b")
        cond = F.expr(" AND ".join(
            f"a.{_qi(k)} = b.{_qi(k)}" for k in keys))
        j = a.withColumn("_in_a", F.lit(True)).join(
            b.withColumn("_in_b", F.lit(True)), cond, "full_outer")
        a_img = F.struct(*[F.col(f"a.{c}") for c in cols_b])
        b_img = F.struct(*[F.col(f"b.{c}") for c in cols_b])
        in_a, in_b = F.col("_in_a").isNotNull(), F.col("_in_b").isNotNull()
        out = j.filter(
            (in_a & ~in_b) | (in_b & (~in_a | ~a_img.eqNullSafe(b_img)))
        ).select(
            *[F.when(in_b, F.col(f"b.{c}")).otherwise(
                F.col(f"a.{c}")).alias(c) for c in cols_b],
            F.when(in_b, F.lit("upsert")).otherwise(
                F.lit("delete")).alias("_op"),
            F.array().cast("array<string>").alias("_toast"),
        )
        return out

    # ----------------------------------------------------------------- write

    def _bucket_expr(self, key_columns: list[str], n_buckets: int):
        return F.pmod(F.xxhash64(*[F.col(k) for k in key_columns]),
                      F.lit(n_buckets)).cast("int")

    def _write_buckets(self, df_with_bucket: DataFrame, snapshot_version: int) -> dict:
        """Write partitioned by _bucket; returns {bucket: [files]}.

        The pre-write ``repartition("_bucket")`` gives each task exactly one
        bucket (one parquet writer, one output file per bucket) — measured
        faster at ≥4 cores than direct dynamic-partition writes, where every
        task juggles up to n_buckets open writers (round-4 interleaved A/B:
        repartition wins ~8-12% at 4-8 cores, loses ~5% at 1). Its task
        width equals n_buckets, which is NOT a cluster-scale cap because
        n_buckets scales with the table (a 100-TB table carries thousands
        of buckets)."""
        out_dir = os.path.join(self.data_dir, f"s{snapshot_version}-{uuid.uuid4().hex[:8]}")
        (
            df_with_bucket.repartition("_bucket").write.partitionBy("_bucket")
            .option("compression", LAKE_CODEC)
            .mode("overwrite")
            .parquet(out_dir)
        )
        files: dict[str, list[str]] = {}
        for entry in os.listdir(out_dir):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            d = os.path.join(out_dir, entry)
            files[b] = sorted(
                self._rel(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet")
            )
        return files

    # ----------------------------------------------------------------- merge

    def merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        applied_lsn: int,
        batch_id: int | str = 0,
        truncate_first: bool = False,
    ) -> dict:
        """Exactly-once MERGE of a compacted change set: the replica-apply
        step for a ``read_changes`` version or a ``diff_versions`` diff.

        ``changes`` schema: key columns + data columns (current snapshot
        schema) + ``_op`` ('upsert'|'delete') + ``_toast`` (array<string> of
        column names whose value is carried forward from the target — the
        unchanged-TOAST contract), at most one row per key. Extra columns
        are ignored.

        The change set is projected onto the ``dml_images`` shape (constant
        ord columns, a ``_t_<c>`` flag per ``_toast`` member, columns cast
        to the snapshot types — a key typed otherwise would hash to another
        bucket) and applied by ``merge_bucketed``, so only the buckets it
        touches are rewritten.

        Returns the lineage record (skipped=True if fenced off).
        """
        snap = self.snapshot()
        keys = snap["key_columns"]
        sel = [f"CAST({int(applied_lsn)} AS BIGINT) AS commit_lsn",
               "CAST(0 AS BIGINT) AS seq", "_op"]
        for n, ty in snap["schema"]:
            sel.append(f"CAST({_qi(n)} AS {ty}) AS {_qi(n)}")
            if n not in keys:
                sel.append(
                    f"array_contains(coalesce(_toast, array()), {_qs(n)}) "
                    f"AS {_qi('_t_' + n)}")
        return self.merge_bucketed(spark, changes.selectExpr(*sel),
                                   applied_lsn, batch_id, truncate_first)

    def merge_bucketed(
        self,
        spark: SparkSession,
        images: DataFrame,
        applied_lsn: int,
        batch_id: int | str = 0,
        truncate_first: bool = False,
    ) -> dict:
        """Exactly-once MERGE via the bucket-co-located Arrow kernel
        (lake/merge_kernel.py). Takes the PRE-compaction ``dml_images``
        rows (key cols + value cols + per-column ``_t_<c>`` toast flags +
        ord cols ``commit_lsn``/``seq``); ``merge`` feeds it a compacted
        change set in the same shape.

        One shuffle (change rows, by bucket); the target is read locally
        inside the kernel and never shuffled; compaction, join, TOAST
        carry and the parquet write all happen in one vectorized pass per
        bucket. Buckets without changes are untouched. Target files are
        read through the current schema (rename aliases, ``column_since``
        masks, widened types), like ``read``. ``truncate_first``: every
        bucket's target counts as empty and buckets without changes drop
        out of the table.

        Every batch runs the kernel: a task streams its bucket's target one
        parquet row group at a time and joins on the key columns only, so
        neither bucket size nor column type needs another path.
        """
        from .. import ensure_shipped
        from .merge_kernel import (
            STATS_DDL, make_merge_kernel, partition_salts,
        )

        t0 = time.monotonic()
        phase = {}

        def _mark(name):
            nonlocal t0
            now = time.monotonic()
            phase[name] = int((now - t0) * 1000)
            t0 = now

        snap = self.snapshot()
        fence = int(snap["properties"].get("applied_lsn", 0))
        if applied_lsn <= fence:
            return {"batch_id": batch_id, "skipped": True, "fence": fence,
                    "applied_lsn": applied_lsn}
        key_cols = snap["key_columns"]
        n_buckets = snap["n_buckets"]
        schema = [(n, ty) for n, ty in snap["schema"]]
        target_files = {} if truncate_first else snap["files"]

        ensure_shipped(spark)

        # one wave, at most one task per core: each Python task pays a
        # stage entry before any data moves (a fresh worker's first task
        # re-reads its zip directories; see ``tune_input_splits``).
        # A divisor of n_buckets lets the salted routing below spread the
        # buckets exactly evenly; below 2/3 of the target (a prime count
        # walks down to 1 task) keep the target and route by plain hash
        n0 = max(1, min(n_buckets, spark.sparkContext.defaultParallelism))
        n_parts = n0
        while n_buckets % n_parts:
            n_parts -= 1
        if n_parts * 3 < n0 * 2:
            n_parts = n0

        out_dir = os.path.join(
            self.data_dir, f"s{snap['version'] + 1}-{uuid.uuid4().hex[:8]}")
        os.makedirs(out_dir, exist_ok=True)
        # change-data-feed: the kernel task writes its bucket's compacted
        # change records alongside the merge (same pass, zero extra jobs);
        # only files named in winning stats rows are committed
        cl_spec = None
        if snap["properties"].get("changelog"):
            cl_dir = os.path.join(
                self.changelog_dir,
                f"s{snap['version'] + 1}-{uuid.uuid4().hex[:8]}")
            os.makedirs(cl_dir, exist_ok=True)
            cl_spec = (cl_dir, snap["version"] + 1, int(applied_lsn))
        bucket_files = {str(b): [self._abs(f) for f in fl]
                        for b, fl in target_files.items()}
        # per-file column_since masks, by the version each file was
        # written at (the same grouping ``read`` applies)
        since = snap.get("column_since", {})
        masks = {}
        if since:
            for f in (f for fl in bucket_files.values() for f in fl):
                v = self._file_version(f)
                m = [c for c, v0 in since.items() if v < int(v0)]
                if m:
                    masks[f] = m
        fn = make_merge_kernel(
            bucket_files, schema, key_cols, out_dir, LAKE_CODEC,
            changelog=cl_spec, aliases=snap.get("aliases") or None,
            masks=masks or None)
        withb = images.withColumn(
            "_bucket", self._bucket_expr(key_cols, n_buckets))
        salts = partition_salts(n_parts)
        if salts is not None and n_buckets % n_parts == 0:
            # exact bucket→partition routing: residue class p of _bucket
            # repartitions on a salt whose murmur3 lands in partition p,
            # so every partition carries exactly n_buckets/n_parts buckets
            # (plain hash-of-_bucket collides classes: measured 0.16-2.37 s
            # reduce tasks at 16→8, a ~20% stage stretch). The bijection
            # ships as a constant-folded array literal indexed by the
            # residue: O(1) per row, one Literal in the plan at any P
            arr = ",".join(str(s) for s in salts)
            rep = withb.repartition(n_parts, F.expr(
                f"element_at(array({arr}), "
                f"CAST(pmod(_bucket, {n_parts}) AS INT) + 1)"))
        else:
            rep = withb.repartition(n_parts, "_bucket")
        _mark("plan_build_ms")
        # AQE adds nothing to this job — the partitioning is an explicit
        # repartition(n) AQE will not coalesce — but its runtime re-plan
        # splits the query into two jobs with a driver round trip between
        # them (~0.1 s/batch measured interleaved at local[8]). Disable it
        # for the kernel job only.
        with _kernel_aqe_off(images.sparkSession):
            stats = rep.mapInArrow(fn, STATS_DDL).collect()
        _mark("join_write_ms")

        by_bucket = {int(r["bucket"]): r for r in stats
                     if int(r["bucket"]) >= 0}
        nk = sum(int(r["nk"]) for r in stats)
        n_up = sum(int(r["u"]) for r in by_bucket.values())
        n_del = sum(int(r["d"]) for r in by_bucket.values())
        n_out = sum(int(r["rows_written"]) for r in by_bucket.values())
        n_target = sum(int(r["n_target"]) for r in by_bucket.values())
        del_applied = sum(int(r["del_applied"]) for r in by_bucket.values())
        ins_new = sum(int(r["ins_new"]) for r in by_bucket.values())
        # the kernel asserts conservation per bucket before writing; this
        # is the driver-side restatement guarding stats-row loss/dup
        if n_out != n_target - del_applied + ins_new:
            raise RuntimeError(
                f"MERGE stats inconsistent (batch {batch_id}, table "
                f"{self.root}): {n_target} target - {del_applied} deletes "
                f"+ {ins_new} inserts != {n_out} written")

        files = dict(target_files)
        for b, r in by_bucket.items():
            if r["file"]:
                files[str(b)] = [self._rel(r["file"])]
            else:
                files.pop(str(b), None)
        cl_files = None
        if cl_spec is not None:
            cl_files = sorted(
                self._rel(r["cl_file"]) for r in by_bucket.values()
                if r["cl_file"]
            )

        record = {
            "batch_id": batch_id,
            "applied_lsn": applied_lsn,
            "upserts": n_up,
            "deletes": n_del,
            "null_key_quarantined": nk,
            "target_rows": n_target,
            "rows_written": n_out,
            "buckets_rewritten": sorted(by_bucket),
            "truncated": truncate_first,
            "merge_kernel": True,
            "wall_ms": sum(phase.values()),
            "phase_ms": phase,
            "skipped": False,
        }
        _mark("stats_ms")
        snap2 = {
            "version": snap["version"] + 1,
            "schema": snap["schema"],
            "key_columns": key_cols,
            "n_buckets": n_buckets,
            "aliases": snap.get("aliases", {}),
            "dropped_names": snap.get("dropped_names", []),
            "column_since": snap.get("column_since", {}),
            "files": files,
            "properties": {
                **snap["properties"],
                "applied_lsn": int(applied_lsn),
            },
            "lineage": _append_lineage(snap["lineage"], record),
        }
        if cl_files is not None:
            snap2["changelog_files"] = cl_files
        self._commit(snap2)
        # visible in the returned record (engine metrics), not in the
        # lineage row — that was serialized inside _commit
        _mark("commit_ms")
        return record

    # ----------------------------------------------------------- maintenance

    def rebucket(self, spark: SparkSession, n_buckets: int,
                 reason: str | None = None) -> dict:
        """Online bucket-count change: rewrite the live rows at a new
        bucket count and commit it as one snapshot.

        Why this exists at scale: ``n_buckets`` is the unit of merge
        parallelism and of copy-on-write (a merge rewrites every bucket its
        changes touch, whole). An operator growing a table raises it here
        without downtime: one bucketed write job, an atomic snapshot
        commit; a crash before the commit leaves only an orphan
        ``s{N}-…`` dir (its N exceeds CURRENT so it is never confused for
        live data) that ``expire_snapshots`` sweeps once the version
        counter passes it.

        The rewrite reads through the CURRENT schema — rename aliases
        coalesced, ``column_since`` masks applied — so the new files carry
        exactly the live columns, and the commit clears the
        aliases/column_since/dropped_names history they encoded, so later
        reads (and kernel merges) stop coalescing aliases and masking.
        ``applied_lsn`` and all other properties carry over unchanged, so
        replay fencing is unaffected.

        Row conservation is enforced before commit: the rows in the new
        files must equal the old snapshot's rows, both counted from parquet
        footers (driver-local metadata reads — an anchor independent of the
        read path under test). A mismatch abandons the new files and
        raises; CURRENT is untouched.

        Same-count calls are skipped unless there is schema history to
        compact away (rewriting N identical buckets is pure cost).
        Single-writer like every other commit path: do not run
        concurrently with a replay into the same table.
        """
        import pyarrow.parquet as pq

        n_buckets = int(n_buckets)
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        snap = self.snapshot()
        old_n = int(snap["n_buckets"])
        has_history = bool(snap.get("aliases") or snap.get("column_since")
                           or snap.get("dropped_names"))
        if n_buckets == old_n and not has_history:
            return {"event": "rebucket", "skipped": True,
                    "n_buckets": old_n}
        t0 = time.monotonic()

        def footer_rows(files: dict) -> int:
            return sum(pq.ParquetFile(self._abs(f)).metadata.num_rows
                       for fl in files.values() for f in fl)

        n_before = footer_rows(snap["files"])
        new_version = snap["version"] + 1
        files = self._write_buckets(
            self.read(spark).withColumn(
                "_bucket", self._bucket_expr(snap["key_columns"], n_buckets)
            ),
            snapshot_version=new_version,
        )
        n_written = footer_rows(files)
        if n_written != n_before:
            import glob as _glob
            import shutil

            for d in _glob.glob(
                os.path.join(self.data_dir, f"s{new_version}-*")
            ):
                shutil.rmtree(d, ignore_errors=True)
            raise RuntimeError(
                f"rebucket row-conservation violation: {n_before} rows in "
                f"snapshot v{snap['version']} (footer stats) vs {n_written} "
                "written; new files discarded, CURRENT unchanged"
            )
        record = {"event": "rebucket", "from": old_n, "to": n_buckets,
                  "rows": n_written, "reason": reason,
                  "history_cleared": has_history,
                  "wall_ms": int((time.monotonic() - t0) * 1000)}
        snap["version"] = new_version
        snap["n_buckets"] = n_buckets
        snap["files"] = files
        # changelog_files describe the PREVIOUS version's commit; a rebucket
        # moves no logical rows, so carrying them forward would double-count
        # that commit's changes in read_changes
        for k in ("aliases", "column_since", "dropped_names",
                  "changelog_files"):
            snap.pop(k, None)
        snap["lineage"] = _append_lineage(snap["lineage"], record)
        self._commit(snap)
        return record

    def expire_snapshots(self, keep_last: int = 64) -> dict:
        """Delete snapshot metadata and data files older than the last
        ``keep_last`` versions. Without expiry every MERGE leaves the
        previous version's bucket files on disk forever — a warehouse
        replaying 10^6 micro-batches would hold 10^6 full table copies,
        so bounded retention is what lets the engine run indefinitely
        (same role as Iceberg's expire_snapshots / Delta VACUUM).

        Safety properties:
        - files referenced by ANY kept snapshot are never deleted (the
          live set is computed from the kept metadata, not from age);
        - data directories of versions NEWER than CURRENT (an in-flight
          merge's pre-commit write) are never touched;
        - a crash mid-expiry only leaves orphans that the next expiry
          removes — kept snapshots stay fully readable throughout
          (data files are deleted before their referencing metadata, so
          no surviving metadata ever points at a deleted file).
        """
        import glob as _glob
        import re as _re

        # Live-set membership is decided on the path suffix from the
        # snapshot-versioned ``s{N}-{hex}/`` data directory onward — NEVER
        # on raw string equality. Snapshots may record absolute paths (old
        # metadata), relative paths (current), or a different spelling of
        # the same root (symlink, ./ prefix, moved warehouse); exact-match
        # would classify every live file as dead and delete data referenced
        # by KEPT snapshots. The s-dir suffix is spelling-invariant and
        # unique within one table's data dir.
        #
        # The s-dir must be matched as a WHOLE path component and from the
        # RIGHT: a warehouse root that itself contains an s-dir-shaped
        # component (``/mnt/s3-ab/wh``) would otherwise make walked
        # ABSOLUTE paths key on the root component while snapshot-recorded
        # RELATIVE paths key on the real s-dir — every live file misses the
        # live set and expiry deletes data referenced by KEPT snapshots.
        # Pinned by tests/test_expiry.py::
        # test_expire_via_different_root_spelling and
        # test_expire_with_sdir_shaped_warehouse_root.
        comp_re = _re.compile(r"^s\d+-[0-9a-f]+$")

        def _live_key(p: str) -> str:
            parts = p.replace("\\", "/").split("/")
            for i in range(len(parts) - 2, -1, -1):
                if comp_re.match(parts[i]):
                    return "/".join(parts[i:])
            return p

        current = self._current_version()
        cutoff = current - max(1, int(keep_last)) + 1
        live: set[str] = set()
        kept = 0
        for v in range(max(1, cutoff), current + 1):
            p = os.path.join(self.meta_dir, f"v{v}.json")
            if not os.path.exists(p):
                continue
            kept += 1
            with open(p) as f:
                snap = json.load(f)
            for fl in snap.get("files", {}).values():
                live.update(_live_key(x) for x in fl)
        files_deleted = bytes_deleted = 0
        ver_re = _re.compile(r"^s(\d+)-")
        for d in sorted(_glob.glob(os.path.join(self.data_dir, "s*-*"))):
            m = ver_re.match(os.path.basename(d))
            if not m or int(m.group(1)) > current:
                continue  # in-flight (pre-commit) writes are not ours
            empty = True
            for root, _dirs, names in os.walk(d, topdown=False):
                for n in names:
                    p = os.path.join(root, n)
                    if _live_key(p) in live:
                        empty = False
                        continue
                    try:
                        bytes_deleted += os.path.getsize(p)
                        os.remove(p)
                        files_deleted += 1
                    except OSError:
                        empty = False
                try:
                    os.rmdir(root)  # only succeeds when actually empty
                except OSError:
                    empty = False
            if empty and os.path.isdir(d):
                import shutil

                shutil.rmtree(d, ignore_errors=True)
        # changelog dirs are per-commit (changelog/s{N}-{hex}/) and are
        # referenced ONLY by version N's metadata, so retention is purely
        # version-based: dirs below the cutoff go, kept and in-flight
        # (> CURRENT) dirs are untouched. CDF retention == snapshot
        # retention, like Delta's CDF under VACUUM.
        cl_files_deleted = 0
        for d in sorted(_glob.glob(os.path.join(self.changelog_dir, "s*-*"))):
            m = ver_re.match(os.path.basename(d))
            if not m or not (int(m.group(1)) < cutoff):
                continue
            for root, _dirs, names in os.walk(d, topdown=False):
                for n in names:
                    try:
                        bytes_deleted += os.path.getsize(
                            os.path.join(root, n))
                        os.remove(os.path.join(root, n))
                        cl_files_deleted += 1
                    except OSError:
                        pass
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        snaps_deleted = 0
        for p in _glob.glob(os.path.join(self.meta_dir, "v*.json")):
            name = os.path.basename(p)[1:-5]
            if name.isdigit() and int(name) < cutoff:
                try:
                    os.remove(p)
                    snaps_deleted += 1
                except OSError:
                    pass
        return {
            "expired_before_version": cutoff,
            "snapshots_kept": kept,
            "snapshots_deleted": snaps_deleted,
            "files_deleted": files_deleted,
            "changelog_files_deleted": cl_files_deleted,
            "bytes_deleted": bytes_deleted,
        }
