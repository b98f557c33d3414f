"""spark-submit entry point.

Cluster usage (the north-star launch contract):

    zip -r pg_walstream_spark.zip pg_walstream_spark
    spark-submit --py-files pg_walstream_spark.zip \\
        -m pg_walstream_spark.cli bootstrap --warehouse s3://wh \\
        --table repos --base s3://base.parquet --keys repo,path --buckets 4096
    spark-submit --py-files pg_walstream_spark.zip \\
        -m pg_walstream_spark.cli replay --warehouse s3://wh \\
        --frames s3://wal/frames [--batch-frames 5000000] [--stop-at-lsn L]
    ... cli stream  — live tail via Structured Streaming
    ... cli metrics — lineage/throughput report

In local mode the same commands run as ``python -m pg_walstream_spark.cli``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# idle timeout for executor Python workers; a legitimately longer-silent
# worker needs it raised
PY_IDLE_TIMEOUT_S = 300


def _session(app: str, master: str | None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    # break JVM↔python-worker socket stalls (see EVIDENCE_r7.md): a
    # killed idle worker fails the task, Spark retries it, and the LSN
    # fence keeps the replayed batch idempotent
    b = b.config(
        "spark.python.worker.idleTimeoutSeconds", str(PY_IDLE_TIMEOUT_S),
    ).config("spark.python.worker.killOnIdleTimeout", "true")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pg-walstream-spark")
    ap.add_argument("--master", default=None,
                    help="Spark master (omit under spark-submit)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("bootstrap", help="create a lake table from a base snapshot")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--base", required=True, help="parquet path of the snapshot")
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument("--buckets", type=int, default=64)

    p = sub.add_parser("replay", help="bounded replay of a WAL frame directory")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--frames", required=True)
    p.add_argument("--batch-frames", type=int, default=1_000_000)
    p.add_argument("--stop-at-lsn", type=int, default=None)
    p.add_argument("--protocol-version", type=int, default=2)
    p.add_argument("--origin", choices=["none", "any"], default="any",
                   help="drop foreign-origin transactions ('none') or "
                        "apply them ('any')")
    p.add_argument("--no-messages", action="store_true",
                   help="drop MESSAGE events (messages 'off')")

    p = sub.add_parser("stream", help="live tail via Structured Streaming")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--frames", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-files-per-trigger", type=int, default=8)
    p.add_argument("--available-now", action="store_true",
                   help="drain what exists, then stop")
    p.add_argument("--max-frames-per-batch", type=int, default=None,
                   help="rate limit: split a trigger into chunks of at "
                        "most this many WAL frames per apply job")
    p.add_argument("--max-bytes-per-batch", type=int, default=None,
                   help="rate limit: chunk a trigger by on-disk frame "
                        "file bytes per apply job")

    p = sub.add_parser("metrics", help="print lineage/throughput metrics")
    p.add_argument("--warehouse", required=True)

    p = sub.add_parser(
        "record", help="record a live replication slot to recorded-stream "
                       "files (deploy pipeline: record | bridge | stream); "
                       "needs psycopg2")
    p.add_argument("--dsn", required=True)
    p.add_argument("--slot", default="walstream")
    p.add_argument("--out", required=True, help="recording directory")
    p.add_argument("--publications", default="pub")
    p.add_argument("--protocol-version", type=int, default=2)
    p.add_argument("--streaming", choices=["off", "on", "parallel"],
                   default="off")
    p.add_argument("--two-phase", action="store_true")
    p.add_argument("--no-messages", action="store_true")
    p.add_argument("--origin", choices=["none", "any"], default="any")
    p.add_argument("--max-bytes-per-file", type=int, default=256 << 20)

    p = sub.add_parser(
        "expire", help="delete snapshots/data older than the last N versions")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--keep-last", type=int, default=64)
    p.add_argument("--table", default=None,
                   help="one table (default: all)")

    p = sub.add_parser(
        "rebucket", help="rewrite a table at a new bucket count (more merge "
                         "parallelism, smaller copy-on-write units for a "
                         "grown table); also compacts away rename/column "
                         "history")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--buckets", type=int, required=True)

    p = sub.add_parser(
        "history", help="list a table's retained snapshots (version, lsn, "
                        "merge counters, DDL events, feed presence)")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--table", required=True)

    p = sub.add_parser(
        "changes", help="export the change-data-feed of a table "
                        "(read_changes over (since, until]) to parquet, "
                        "or print a summary; requires the table to have "
                        "been created with WALSTREAM_CHANGELOG=1")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--since", type=int, default=0,
                   help="exclusive start version (default 0 = horizon)")
    p.add_argument("--until", type=int, default=None,
                   help="inclusive end version (default CURRENT)")
    p.add_argument("--out", default=None,
                   help="parquet output dir; omit to print a per-commit "
                        "summary instead")

    args = ap.parse_args(argv)

    if args.cmd == "record":
        # driver-local: no Spark session; psycopg2 imported lazily inside
        from .options import ReplicationOptions
        from .tools.recorder import record

        opts = ReplicationOptions(
            protocol_version=args.protocol_version,
            publication_names=tuple(args.publications.split(",")),
            streaming=args.streaming, messages=not args.no_messages,
            two_phase=args.two_phase, origin=args.origin,
        )
        stats = record(args.out, dsn=args.dsn, slot=args.slot, options=opts,
                       max_bytes_per_file=args.max_bytes_per_file)
        print(json.dumps(stats))
        return 0

    if args.cmd == "expire":
        # driver-local file ops only — no Spark session needed
        from .lake.table import LakeTable

        tables_dir = os.path.join(args.warehouse, "tables")
        names = ([args.table] if args.table
                 else sorted(os.listdir(tables_dir))
                 if os.path.isdir(tables_dir) else [])
        out = {}
        for n in names:
            t = LakeTable(os.path.join(tables_dir, n))
            if t.exists:
                out[n] = t.expire_snapshots(args.keep_last)
        print(json.dumps(out))
        return 0

    if args.cmd == "rebucket":
        spark = _session("walstream-rebucket", args.master)
        from .lake.table import LakeTable

        t = LakeTable(os.path.join(args.warehouse, "tables", args.table))
        if not t.exists:
            print(json.dumps({"error": f"no such table: {args.table}"}))
            return 1
        print(json.dumps(t.rebucket(spark, args.buckets, reason="cli")))
        return 0

    if args.cmd == "history":
        # driver-local metadata reads only — no Spark session
        from .lake.table import LakeTable

        t = LakeTable(os.path.join(args.warehouse, "tables", args.table))
        if not t.exists:
            print(json.dumps({"error": f"no such table: {args.table}"}))
            return 1
        for snap in t.history():
            last = snap["lineage"][-1] if snap.get("lineage") else {}
            print(json.dumps({
                "version": snap["version"],
                "applied_lsn": snap["properties"].get("applied_lsn"),
                "n_buckets": snap["n_buckets"],
                "event": last.get("event"),
                "upserts": last.get("upserts"),
                "deletes": last.get("deletes"),
                "changelog": bool(snap.get("changelog_files")),
            }))
        return 0

    if args.cmd == "changes":
        spark = _session("walstream-changes", args.master)
        from pyspark.sql import functions as F

        from .lake.table import LakeTable

        t = LakeTable(os.path.join(args.warehouse, "tables", args.table))
        if not t.exists:
            print(json.dumps({"error": f"no such table: {args.table}"}))
            return 1
        df = t.read_changes(spark, since_version=args.since,
                            until_version=args.until)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"table": args.table, "out": args.out,
                              "rows": spark.read.parquet(args.out).count()}))
        else:
            for r in (df.groupBy("_commit_version", "_commit_lsn")
                      .agg(F.count(F.lit(1)).alias("rows"),
                           F.sum(F.expr(
                               "CASE WHEN _op = 'delete' THEN 1 ELSE 0 END"
                           )).alias("deletes"))
                      .orderBy("_commit_version").collect()):
                print(json.dumps(r.asDict()))
        return 0

    if args.cmd == "bootstrap":
        spark = _session("walstream-bootstrap", args.master)
        from .engine import ReplayEngine

        eng = ReplayEngine(spark, args.warehouse)
        t = eng.bootstrap_table(
            args.table, spark.read.parquet(args.base),
            args.keys.split(","), n_buckets=args.buckets,
        )
        print(json.dumps({"table": args.table,
                          "version": t.snapshot()["version"],
                          "buckets": args.buckets}))
        return 0

    if args.cmd == "replay":
        spark = _session("walstream-replay", args.master)
        from .engine import ReplayEngine

        from .options import ReplicationOptions

        eng = ReplayEngine(spark, args.warehouse, options=ReplicationOptions(
            protocol_version=args.protocol_version,
            origin=args.origin, messages=not args.no_messages,
        ))
        out = eng.replay_frames(args.frames, batch_frames=args.batch_frames,
                                stop_at_lsn=args.stop_at_lsn)
        res = {"batches": out["batches"], "applied_lsn": out["applied_lsn"]}
        if out["held_frames"]:
            # a seq gap stopped the replay: name the files past it
            res["held_frames"] = [{k: h[k] for k in ("path", "lo", "hi")}
                                  for h in out["held_frames"]]
        print(json.dumps(res))
        return 1 if out["held_frames"] else 0

    if args.cmd == "stream":
        spark = _session("walstream-stream", args.master)
        from .streaming import start_stream

        q = start_stream(
            spark, args.frames, args.warehouse, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=args.available_now,
            max_frames_per_batch=args.max_frames_per_batch,
            max_bytes_per_batch=args.max_bytes_per_batch,
        )
        q.awaitTermination()
        return 0

    if args.cmd == "metrics":
        spark = _session("walstream-metrics", args.master)
        from .engine import ReplayEngine

        eng = ReplayEngine(spark, args.warehouse)
        for r in eng.metrics_df().collect():
            print(json.dumps(r.asDict()))
        return 0

    return 2  # pragma: no cover


if __name__ == "__main__":
    sys.exit(main())
