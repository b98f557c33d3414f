"""Per-layer trace for ``run.py --trace 1``.

The trace wraps the package's entry points from the benchmark's own code
and reads what they already report:

- ``engine``: per-batch wall time (a wrapper around
  ``ReplayEngine.process_batch``) and the ``phase_ms`` / ``setup_ms`` the
  engine puts into its batch records;
- ``operators.decode``: ``build_context`` time and a separate decode-only
  ``decode_frames_df(...).count()`` pass over the workload's frames;
- ``lake``: the merge lineage from ``LakeTable.history()``;
- Spark: stage and job metrics from the status store, grouped by the
  ``layer:<name>`` job description the benchmark sets (streaming batches
  carry Spark's own ``batch = N`` description and count as ``stream``);
- ``streaming``: a wrapper around ``streaming.ingest_frames_batch``, the
  function ``start_stream``'s sink calls once per trigger.

Every per-layer metric is printed for every workload; a layer the
workload does not run reads 0.
"""

from __future__ import annotations

import json
import statistics
import time

PHASES = ("control_scan", "fast_plan", "fast_merge", "decode_ckpt",
          "batch_stats", "plan_tables", "merges", "pending_spill",
          "state_save")
SPARK_LAYERS = ("replay", "stream", "decode")
SPARK_FIELDS = (("run_ms", "ms"), ("cpu_ms", "ms"), ("gc_ms", "ms"),
                ("tasks", "count"), ("shuffle_read_bytes", "B"),
                ("shuffle_write_bytes", "B"))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    u = {
        "engine.batches": "count", "engine.fast_path_frac": "ratio",
        "engine.batch_ms_p50": "ms", "engine.wall_ms": "ms",
        "engine.setup_ms": "ms", "engine.accounted_frac": "ratio",
        "decode.build_context_ms": "ms", "decode.kernel_ms": "ms",
        "decode.frames_in": "count", "decode.events_out": "count",
        "lake.merge_ms": "ms", "lake.merge_bucketed_ms": "ms",
        "lake.merges": "count", "lake.rows_written": "count",
        "lake.rows_changed": "count", "lake.rewrite_amp": "ratio",
        "lake.snapshot_commits": "count",
        "spark.jobs_per_batch": "count",
        "streaming.triggers": "count", "streaming.trigger_ms_p50": "ms",
        "streaming.idle_gap_ms_p50": "ms",
        "streaming.files_per_trigger": "count",
        "streaming.held_frames_max": "count",
        "loadgen.offered_per_s": "1/s", "loadgen.late_ms_max": "ms",
        "backlog.frames_end": "count",
        "probe.arith_s_before": "s", "probe.arith_s_after": "s",
        "probe.bw_s_before": "s", "probe.bw_s_after": "s",
        "probe.steal_frac": "ratio",
        "traced.setup_s": "s", "traced.events_per_s": "1/s",
        "traced.freshness_ms_p50": "ms", "traced.peak_pss_mb": "MB",
    }
    for p in PHASES:
        u[f"engine.phase.{p}_ms"] = "ms"
    for layer in SPARK_LAYERS:
        for f, unit in SPARK_FIELDS:
            u[f"spark.{layer}.{f}"] = unit
    return u


def _state(engine) -> dict:
    """The engine's persisted state (held frames, consumed seq)."""
    try:
        with open(engine.state_path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _desc_layer(desc: str | None) -> str:
    if not desc:
        return "other"
    if desc.startswith("layer:"):
        return desc[6:]
    if "batch = " in desc:
        return "stream"
    return "other"


class Tracer:
    """Collects one traced run's per-layer metrics."""

    def __init__(self):
        self.values: dict[str, float] = {}
        self.batches: list[tuple[float, dict]] = []
        self.triggers: list[dict] = []
        self._restore = []
        self._recording = False
        self._ids0 = (-1, -1)
        self._ids1 = None

    # -------------------------------------------------------- wrappers

    def attach(self, spark) -> None:
        from pg_walstream_spark import streaming
        from pg_walstream_spark.engine import ReplayEngine

        self.spark = spark
        tracer = self
        orig_pb = ReplayEngine.process_batch
        orig_ing = streaming.ingest_frames_batch

        def process_batch(engine, *a, **k):
            t0 = time.monotonic()
            rec = orig_pb(engine, *a, **k)
            if tracer._recording:
                tracer.batches.append((time.monotonic() - t0, rec))
            return rec

        def ingest_frames_batch(engine, df, epoch_id, **k):
            t0 = time.monotonic()
            seq0 = _state(engine).get("max_seq")
            res = orig_ing(engine, df, epoch_id, **k)
            t1 = time.monotonic()
            st = _state(engine)
            if tracer._recording:
                tracer.triggers.append({
                    "t0": t0, "t1": t1, "seq0": seq0,
                    "seq1": st.get("max_seq"),
                    "held": len(st.get("held_frames", []))})
            return res

        ReplayEngine.process_batch = process_batch
        streaming.ingest_frames_batch = ingest_frames_batch
        self._restore = [(ReplayEngine, "process_batch", orig_pb),
                         (streaming, "ingest_frames_batch", orig_ing)]

    def detach(self) -> None:
        for obj, name, orig in self._restore:
            setattr(obj, name, orig)
        self._restore = []

    # ------------------------------------------------------ status store

    def _stages_and_jobs(self) -> tuple[list, list]:
        """Every stage and job the status store still holds (JVM objects)."""
        sc = self.spark.sparkContext
        ss, jvm = sc._jsc.sc().statusStore(), sc._jvm
        st = ss.stageList(jvm.java.util.ArrayList(), False, False,
                          sc._gateway.new_array(jvm.double, 0),
                          jvm.java.util.ArrayList())
        jl = ss.jobsList(jvm.java.util.ArrayList())
        return ([st.apply(i) for i in range(st.size())],
                [jl.apply(i) for i in range(jl.size())])

    def _max_ids(self) -> tuple[int, int]:
        stages, jobs = self._stages_and_jobs()
        return (max((s.stageId() for s in stages), default=-1),
                max((j.jobId() for j in jobs), default=-1))

    def window_start(self) -> None:
        self._ids0 = self._max_ids()
        self._recording = True

    def window_end(self) -> None:
        self._recording = False
        self._ids1 = self._max_ids()

    def _spark_layers(self, n_batches: int) -> None:
        s0, j0 = self._ids0
        s1, j1 = self._ids1
        agg = {layer: dict.fromkeys((f for f, _ in SPARK_FIELDS), 0.0)
               for layer in SPARK_LAYERS}
        stages, all_jobs = self._stages_and_jobs()
        for s in stages:
            sid = s.stageId()
            d = s.description()
            layer = _desc_layer(d.get() if d.isDefined() else None)
            # decode-only passes run after the window
            in_window = s0 < sid <= s1
            if layer not in agg or (layer != "decode" and not in_window):
                continue
            if s.status().toString() != "COMPLETE":
                continue
            a = agg[layer]
            a["run_ms"] += s.executorRunTime()
            a["cpu_ms"] += s.executorCpuTime() / 1e6
            a["gc_ms"] += s.jvmGcTime()
            a["tasks"] += s.numTasks()
            a["shuffle_read_bytes"] += s.shuffleReadBytes()
            a["shuffle_write_bytes"] += s.shuffleWriteBytes()
        for layer, a in agg.items():
            for f, v in a.items():
                self.values[f"spark.{layer}.{f}"] = v
        jobs = 0
        for j in all_jobs:
            d = j.description()
            if j0 < j.jobId() <= j1 and _desc_layer(
                    d.get() if d.isDefined() else None) in ("replay",
                                                            "stream"):
                jobs += 1
        self.values["spark.jobs_per_batch"] = jobs / max(n_batches, 1)

    # ------------------------------------------------------------ layers

    def _engine(self, wall_ms: float, setup_ms: float) -> None:
        n = len(self.batches)
        v = self.values
        v["engine.batches"] = n
        v["engine.fast_path_frac"] = (
            sum(1 for _, rec in self.batches if rec.get("fast_path")) / n
            if n else 0.0)
        v["engine.batch_ms_p50"] = _median([w * 1000 for w, _ in
                                            self.batches])
        phase_total = 0.0
        for p in PHASES:
            ms = sum(float(rec.get("phase_ms", {}).get(p, 0))
                     for _, rec in self.batches)
            v[f"engine.phase.{p}_ms"] = ms
            phase_total += ms
        v["engine.wall_ms"] = wall_ms
        v["engine.setup_ms"] = setup_ms
        v["engine.accounted_frac"] = ((phase_total + setup_ms) / wall_ms
                                      if wall_ms else 0.0)

    def _lake(self, tables, lsn_floor: int = -1) -> None:
        merges = kernel_ms = decl_ms = written = changed = commits = 0
        for t in tables:
            hist = t.history()
            commits += hist[-1]["version"] - hist[0]["version"]
            for rec in hist[-1]["lineage"]:
                if rec.get("event") or rec.get("skipped"):
                    continue
                if int(rec.get("applied_lsn") or 0) <= lsn_floor:
                    continue
                merges += 1
                if rec.get("merge_kernel"):
                    kernel_ms += rec.get("wall_ms") or 0
                else:
                    decl_ms += rec.get("wall_ms") or 0
                written += int(rec.get("rows_written") or 0)
                changed += int(rec.get("upserts") or 0) + int(
                    rec.get("deletes") or 0)
        v = self.values
        v["lake.merges"] = merges
        v["lake.merge_bucketed_ms"] = kernel_ms
        v["lake.merge_ms"] = decl_ms
        v["lake.rows_written"] = written
        v["lake.rows_changed"] = changed
        v["lake.rewrite_amp"] = written / changed if changed else 0.0
        v["lake.snapshot_commits"] = commits

    def _decode_pass(self, frames: str) -> None:
        """A decode-only pass over the workload's frames: one warm pass,
        then one timed."""
        import pyarrow.parquet as pq

        from pg_walstream_spark.operators.decode import (
            build_context, decode_frames_df,
        )

        ctrl_dir = frames.rstrip("/") + "_control"
        rows = pq.read_table(ctrl_dir, columns=["seq", "wal_start", "data"]
                             ).sort_by("seq").to_pylist()
        t0 = time.monotonic()
        ctx = build_context(rows)
        self.values["decode.build_context_ms"] = (
            time.monotonic() - t0) * 1000.0
        spark = self.spark
        spark.sparkContext.setJobDescription("layer:decode_warm")
        fdf = spark.read.parquet(frames)
        decode_frames_df(fdf, ctx).count()
        spark.sparkContext.setJobDescription("layer:decode")
        t0 = time.monotonic()
        n_out = decode_frames_df(fdf, ctx).count()
        self.values["decode.kernel_ms"] = (time.monotonic() - t0) * 1000.0
        spark.sparkContext.setJobDescription(None)
        self.values["decode.frames_in"] = fdf.count()
        self.values["decode.events_out"] = n_out

    def catchup_layers(self, iters, fx) -> None:
        self._engine(
            wall_ms=sum(it["wall_s"] for it in iters) * 1000.0,
            setup_ms=sum(float(sum(it["res"].get("setup_ms", {}).values()))
                         for it in iters))
        self._lake([it["engine"].table("repos") for it in iters])
        self._decode_pass(fx["frames"])
        self._spark_layers(len(self.batches))

    def live_layers(self, r, fx, window, due, late_ms, frames,
                    lsn_warm) -> None:
        self._engine(wall_ms=sum(w for w, _ in self.batches) * 1000.0,
                     setup_ms=0.0)
        self._lake([r.engine_table], lsn_floor=lsn_warm)
        trig = self.triggers
        v = self.values
        v["streaming.triggers"] = len(trig)
        v["streaming.trigger_ms_p50"] = _median(
            [(t["t1"] - t["t0"]) * 1000 for t in trig])
        v["streaming.idle_gap_ms_p50"] = _median(
            [(b["t0"] - a["t1"]) * 1000 for a, b in zip(trig, trig[1:])])
        # files whose last frame a trigger consumed
        last_seqs = [f["hi"] - 1 for f in fx["files"]]

        def seq(x):
            return -1 if x is None else x

        v["streaming.files_per_trigger"] = _median([
            sum(1 for s in last_seqs if seq(t["seq0"]) < s <= seq(t["seq1"]))
            for t in trig])
        v["streaming.held_frames_max"] = max(
            (t["held"] for t in trig), default=0)
        p = r.p
        win_events = len(window) * p["txns_per_file"] * p["ops_per_txn"]
        # the window's events over the span their publishes actually took
        span = (due[window[-1]] + late_ms[window[-1]] / 1000.0) - (
            due[window[0]] + late_ms[window[0]] / 1000.0) + p["interval_s"]
        v["loadgen.offered_per_s"] = win_events / span
        v["loadgen.late_ms_max"] = max(late_ms, default=0.0)
        v["backlog.frames_end"] = r.detail["backlog_frames_end"]
        self._decode_pass(frames)
        self._spark_layers(len(self.batches))

    # ------------------------------------------------------------ output

    def metrics(self, r, probes: dict) -> dict:
        v = dict.fromkeys(metric_units(), 0.0)
        v.update(self.values)
        for k, x in probes.items():
            v[f"probe.{k}"] = x
        for k, x in r.e2e.items():
            v[f"traced.{k}"] = x
        units = metric_units()
        return {k: {"value": float(v[k]), "unit": units[k]} for k in units}
