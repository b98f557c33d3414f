#!/usr/bin/env python3
"""Golden-checked CDC benchmark for pg_walstream_spark.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_catchup --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists, its parameters,
and why ``live_tail`` is not in BENCHMARK.json):

- ``bulk_catchup`` and ``split_txn``: closed loop, one caller. A seeded
  ``gen_bench`` WAL is replayed into a fresh copy of the bootstrapped
  table, over and over, for ``--seconds`` of replay time.
  ``bulk_catchup`` replays it as one batch, so every batch takes the fused
  fast path (decode kernel -> merge kernel); ``split_txn`` replays it in
  ``batch_frames`` chunks that end inside a transaction, so every batch
  takes the general path and the pending store.
- ``live_tail``: open loop at a fixed offered rate. ``loadgen.py`` (a
  separate process) publishes whole-transaction frame files on a fixed
  schedule; ``streaming.start_stream`` tails them. Freshness is measured
  from each transaction's due time to the first poll at which the table's
  ``applied_lsn`` covers its commit.

Every run checks the lake table against the golden applier's final state
(per-row content sha256). ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones. The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the
line before it carries run details (session settings, interference
probes, validity checks).

``--toy`` and ``--inject`` serve ``selftest.py``: tiny inputs, and a
deliberately corrupted lake row or dropped frame file that the output
gate must report.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CORES = 4
# The benchmark owns its session: bench.make_session is sized for a far
# larger box (48g driver, speculation). One process, local[4].
SESSION_CONF = {
    "spark.master": f"local[{CORES}]",
    "spark.driver.memory": "2g",
    "spark.sql.shuffle.partitions": str(CORES * 4),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.io.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # the per-layer trace reads stages and jobs back from the status store
    "spark.ui.retainedStages": "10000",
    "spark.ui.retainedJobs": "10000",
    "spark.python.worker.idleTimeoutSeconds": "300",
    "spark.python.worker.killOnIdleTimeout": "true",
}

# Workload parameters. The full sizes are set by the per-run time budget:
# a run (fixture, JVM start, cold warm-up, measurement, golden check) must
# finish in about a minute on 4 vCPUs.
PARAMS = {
    "bulk_catchup": {
        "full": {"n_base": 40_000, "n_txns": 600, "ops_per_txn": 100,
                 "files": 16, "buckets": 16, "min_iters": 4},
        "toy": {"n_base": 2_000, "n_txns": 40, "ops_per_txn": 20,
                "files": 4, "buckets": 4, "min_iters": 2},
    },
    # bigger transactions, replayed in batch_frames chunks that each end
    # inside a transaction: every batch takes the general path and spills
    # the open transaction to the pending store
    "split_txn": {
        "full": {"n_base": 20_000, "n_txns": 24, "ops_per_txn": 500,
                 "files": 8, "buckets": 16, "min_iters": 2,
                 "batch_frames": 6_100},
        "toy": {"n_base": 2_000, "n_txns": 8, "ops_per_txn": 50,
                "files": 4, "buckets": 4, "min_iters": 2,
                "batch_frames": 150},
    },
    "live_tail": {
        # 50 txns/s x 10 DML = 500 events/s offered, one file per 0.2 s
        "full": {"n_base": 1_000, "ops_per_txn": 10, "txns_per_file": 10,
                 "interval_s": 0.2, "buckets": 4, "prewarm_files": 20,
                 "prewarm_batches": 2, "warm_triggers": 2,
                 "warm_cap_s": 40.0, "settle_s": 0.5, "drain_cap_s": 60.0},
        "toy": {"n_base": 500, "ops_per_txn": 5, "txns_per_file": 4,
                "interval_s": 0.25, "buckets": 4, "prewarm_files": 4,
                "prewarm_batches": 2, "warm_triggers": 2,
                "warm_cap_s": 60.0, "settle_s": 0.5, "drain_cap_s": 60.0},
    },
}
WORKLOADS = tuple(PARAMS)
KEYS = ["repo", "path"]
TABLE = "repos"
# a live_tail run is flagged when its second-half median freshness exceeds
# the first half's by more than freshness_ms_p50's bound in BENCHMARK.json
GROWTH_BOUND = 0.25
E2E_UNITS = {"setup_s": "s", "events_per_s": "1/s",
             "freshness_ms_p50": "ms", "peak_pss_mb": "MB"}
POLL_S = 0.02


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- probes

def arith_probe() -> float:
    """Seconds for a fixed single-thread numpy workload (min of 3 reps):
    reads high when the hypervisor steals CPU from this box."""
    import numpy as np

    a = np.arange(2_000_000, dtype=np.float64) * 1e-6
    best = math.inf
    for _ in range(3):
        t0 = time.monotonic()
        s = 0.0
        for _ in range(8):
            s += float(np.sum(np.sin(a) * a + np.sqrt(a)))
        best = min(best, time.monotonic() - t0)
    return best


def bw_probe() -> float:
    """Seconds for a fixed single-thread streaming add over 3x128 MB (min
    of 3 reps): memory-bus time, which the arithmetic probe cannot see."""
    import numpy as np

    a = np.arange(16_000_000, dtype=np.float64)
    b = np.ones(16_000_000, dtype=np.float64)
    c = np.empty_like(a)
    np.add(a, b, out=c)  # fault every page in before timing
    best = math.inf
    for _ in range(3):
        t0 = time.monotonic()
        np.add(a, b, out=c)
        best = min(best, time.monotonic() - t0)
    return best


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: the share of time the
    hypervisor gave this box's vCPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


# ------------------------------------------------------------ processes

def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_mb(pids) -> float:
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PssSampler:
    """Peak summed PSS of the driver JVM and its Python workers (every
    descendant of this process except the ones named in ``exclude``)."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak = 0.0
        self.peak_parts = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            pids = [p for p in descendants(me) if p not in self.exclude]
            parts = {p: pss_mb([p]) for p in pids}
            total = sum(parts.values())
            if total > self.peak:
                self.peak, self.peak_parts = total, {
                    f"{p}:{_comm(p)}": round(mb) for p, mb in parts.items()}
            self._stop.wait(self.period_s)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join()


class LsnWatch:
    """Polls ``LakeTable.applied_lsn()`` and keeps every advance with the
    monotonic time it was first seen."""

    def __init__(self, table):
        self.table = table
        self.seen: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        try:
            lsn = self.table.applied_lsn() if self.table.exists else -1
        except (OSError, ValueError):
            return  # snapshot swapped mid-read; the next poll sees it
        if lsn > self.lsn():
            self.seen.append((time.monotonic(), lsn))

    def _run(self):
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(POLL_S)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join()
        self._poll()

    def lsn(self) -> int:
        return self.seen[-1][1] if self.seen else -1

    def first_at(self, lsn: int) -> float | None:
        for t, v in self.seen:
            if v >= lsn:
                return t
        return None

    def lsn_at(self, t: float) -> int:
        out = -1
        for ts, v in self.seen:
            if ts > t:
                break
            out = v
        return out


# --------------------------------------------------------------- golden

# A table's digest is its row count plus the sum, over rows, of the first
# 60 bits of sha256(repo, path, commit, lang, sha256(content)): equal for
# equal row multisets, so it compares the sorted rows without sorting, and
# the lake side is computed inside one Spark job.
ROW_SEP, NULL = "\x1f", "\x00"
ROW_COLS = ("repo", "path", "commit", "lang")


def row_hash(vals) -> int:
    line = ROW_SEP.join(NULL if v is None else str(v) for v in vals)
    return int(hashlib.sha256(line.encode("utf-8")).hexdigest()[:15], 16)


def golden_digest(cache_key: str, base, frames) -> dict:
    """Digest of ``golden.golden_final_state`` over the frames, cached per
    workload, parameters and seed."""
    path = os.path.join(WORK, "golden", cache_key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from pg_walstream_spark.golden import golden_final_state

    rows, lsn = golden_final_state(base, frames, table=TABLE)
    out = {"rows": len(rows), "applied_lsn": int(lsn),
           "row_hash_sum": sum(row_hash([r.get(c) for c in ROW_COLS]
                                        + [r.get("content_sha256")])
                               for r in rows)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def lake_digests(spark, tables) -> list[dict]:
    """Digest of each lake table's rows as ``LakeTable.read`` returns them,
    all tables in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    def line(c):
        return F.coalesce(c, F.lit(NULL))

    h = F.sha2(F.concat_ws(ROW_SEP, *[line(F.col(c)) for c in ROW_COLS],
                           line(F.sha2(F.col("content"), 256))), 256)
    df = reduce(lambda x, y: x.unionByName(y), [
        t.read(spark).select(F.lit(i).alias("i"), h.alias("h"))
        for i, t in enumerate(tables)])
    got = {r["i"]: r for r in df.groupBy("i").agg(
        F.count("*").alias("rows"),
        F.sum(F.conv(F.substring("h", 1, 15), 16, 10)
              .cast("decimal(38,0)")).alias("s")).collect()}
    return [{"rows": int(got[i]["rows"]) if i in got else 0,
             "applied_lsn": int(t.applied_lsn()),
             "row_hash_sum": int(got[i]["s"]) if i in got else 0}
            for i, t in enumerate(tables)]


def verify(r, spark, tables, want: dict) -> list[bool]:
    """Gate each table against the golden digest; a table that cannot even
    be read back fails too. Callers count the failed operations."""
    spark.sparkContext.setJobDescription("layer:verify")
    try:
        got = lake_digests(spark, tables)
    except Exception as e:  # a read failure is a gate failure, not a crash
        r.fail(0, f"lake read-back failed: {e!r}"[:2000])
        return [False] * len(tables)
    ok = []
    for i, g in enumerate(got):
        ok.append(matches(g, want))
        if not ok[-1]:
            r.fail(0, f"table {i}: lake {g} != golden {want}")
    return ok


def matches(got: dict, want: dict) -> bool:
    return all(got[k] == want[k] for k in ("rows", "applied_lsn",
                                           "row_hash_sum"))


def corrupt_one_row(table) -> None:
    """Self-test fault: rewrite one lake data file with one content value
    changed, behind the engine's back."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = table.snapshot()
    rel = next(fl[0] for _, fl in sorted(snap["files"].items()) if fl)
    p = rel if os.path.isabs(rel) else os.path.join(table.root, rel)
    t = pq.read_table(p)
    i = t.schema.get_field_index("content")
    vals = t.column(i).to_pylist()
    vals[0] = (vals[0] or "") + "#corrupted"
    pq.write_table(t.set_column(i, "content", pa.array(vals, pa.string())), p)
    # drop the local filesystem's checksum sidecar, as a foreign writer would
    d, name = os.path.split(p)
    crc = os.path.join(d, f".{name}.crc")
    if os.path.exists(crc):
        os.remove(crc)


# -------------------------------------------------------------- session

def start_session(run_dir: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    b = SparkSession.builder.appName("perfbench")
    for k, v in SESSION_CONF.items():
        b = b.config(k, v)
    b = (b.config("spark.local.dir", os.path.join(run_dir, "spark-local"))
         .config("spark.sql.warehouse.dir",
                 os.path.join(run_dir, "spark-warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{SESSION_CONF['spark.driver.memory']} "
                 "-XX:+AlwaysPreTouch "
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM and every Python worker."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:  # the JVM may already be gone (e.g. after SIGTERM)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        wait_gone(kids)


def wait_gone(pids, timeout_s: float = 20.0) -> None:
    deadline = time.monotonic() + timeout_s
    live = list(pids)
    while live:
        live = [p for p in live if os.path.exists(f"/proc/{p}")
                and not _zombie(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


# -------------------------------------------------------------- fixtures

def _param_key(workload: str, p: dict, seed: int) -> str:
    blob = json.dumps([workload, p, seed], sort_keys=True)
    return f"{workload}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


def control_rows(frames):
    """The control-tag frames (Relation, Begin, Commit, ...) of a frame
    table: what the ``<frames>_control`` sidecar holds."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pg_walstream_spark.operators.decode import CONTROL_TAGS

    tags = pa.array(sorted(int(x) for x in CONTROL_TAGS),
                    type=frames.schema.field("tag").type)
    return frames.filter(pc.is_in(frames.column("tag"), value_set=tags))


def write_base(base, run_dir: str) -> str:
    from pg_walstream_spark.fixtures import wal_gen as wg

    p = os.path.join(run_dir, "base.parquet")
    wg.write_base(base, p)
    return p


def catchup_fixture(p: dict, seed: int, run_dir: str) -> dict:
    from pg_walstream_spark.fixtures import wal_gen as wg

    base, b = wg.gen_bench(n_base=p["n_base"], n_txns=p["n_txns"],
                           ops_per_txn=p["ops_per_txn"], seed=seed)
    t = b.to_table()
    frames = os.path.join(run_dir, "frames")
    wg.write_frames(t, frames, rows_per_file=-(-t.num_rows // p["files"]))
    return {"frames": frames, "base": write_base(base, run_dir), "table": t,
            "base_table": base, "n_events": p["n_txns"] * p["ops_per_txn"]}


def live_fixture(p: dict, seed: int, run_dir: str, n_files: int) -> dict:
    """Stage the live WAL as one parquet file per delivery, each holding
    ``txns_per_file`` whole transactions (file 0 also holds the Relation
    message), plus each file's control rows for the sidecar."""
    import pyarrow.parquet as pq

    from pg_walstream_spark.fixtures import wal_gen as wg

    m, ops = p["txns_per_file"], p["ops_per_txn"]
    base, b = wg.gen_bench(n_base=p["n_base"], n_txns=n_files * m,
                           ops_per_txn=ops, seed=seed)
    t = b.to_table()
    stage = os.path.join(run_dir, "stage")
    os.makedirs(os.path.join(stage, "control"))
    per_txn = ops + 2  # Begin, DML..., Commit
    tags = t.column("tag").to_pylist()
    files = []
    for k in range(n_files):
        lo = 0 if k == 0 else 1 + k * m * per_txn
        hi = 1 + (k + 1) * m * per_txn
        if tags[lo if k else 1] != ord("B") or tags[hi - 1] != ord("C"):
            raise RuntimeError("live WAL slice does not hold whole txns")
        ft = t.slice(lo, hi - lo)
        name = f"part-{k:05d}.parquet"
        pq.write_table(ft, os.path.join(stage, name))
        pq.write_table(control_rows(ft), os.path.join(stage, "control", name))
        files.append({"lo": lo, "hi": hi, "n": hi - lo})
    return {"stage": stage, "table": t, "base_table": base, "files": files,
            "base": write_base(base, run_dir)}


def commit_lsns(frames_table, files: list[dict]) -> list[int]:
    """End LSN of each file's last commit, from ``build_context`` over the
    WAL's control frames (the engine applies up to the commit end LSN)."""
    from pg_walstream_spark.operators.decode import build_context

    rows = control_rows(frames_table).select(
        ["seq", "wal_start", "data"]).to_pylist()
    ctx = build_context(rows)
    end_by_xid = dict(zip(ctx.xid_sorted.tolist(), ctx.xid_end_lsn.tolist()))
    begins = sorted(zip(ctx.begin_seqs.tolist(), ctx.begin_xids.tolist()))
    out, j = [], 0
    for f in files:
        last = None
        while j < len(begins) and begins[j][0] < f["hi"]:
            last = begins[j][1]
            j += 1
        out.append(int(end_by_xid[last]))
    return out


# ------------------------------------------------------------ workloads

class Run:
    """One benchmark run: its inputs, the processes it owns, its results."""

    def __init__(self, args, run_dir: str):
        self.t_start = time.monotonic()
        self.args = args
        self.p = PARAMS[args.workload]["toy" if args.toy else "full"]
        self.key = _param_key(args.workload, self.p, args.seed)
        self.run_dir = run_dir
        self.fixture: dict = {}
        self.golden: dict = {}
        self.spark = None
        self.query = None  # the live_tail StreamingQuery
        self.loadgen = None  # the live_tail generator process
        self.engine_table = None  # the live_tail LakeTable
        self.trace = None  # layers.Tracer when --trace 1
        self.detail: dict = {}
        self.e2e: dict = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.correct = False
        log(f"FAIL: {why}")
        self.detail.setdefault("failures", []).append(why)


def catchup(r: Run, session_s: float, pss: PssSampler) -> None:
    """``bulk_catchup`` (one whole-WAL batch per replay) and ``split_txn``
    (``batch_frames`` chunks that cut transactions)."""
    from pg_walstream_spark.engine import ReplayEngine

    a, p, spark = r.args, r.p, r.spark
    fx = r.fixture
    want = r.golden
    tracer = r.trace
    pristine = os.path.join(r.run_dir, "wh-pristine")

    def fresh(tag: str) -> ReplayEngine:
        # a copy of the bootstrapped warehouse: the table root is
        # relocatable (snapshots record relative file paths)
        wh = os.path.join(r.run_dir, f"wh-{tag}")
        shutil.copytree(pristine, wh)
        return ReplayEngine(spark, wh)

    def replay(eng, layer: str):
        spark.sparkContext.setJobDescription(f"layer:{layer}")
        t0 = time.monotonic()
        res = eng.replay_frames(fx["frames"],
                                batch_frames=p.get("batch_frames", 1 << 40))
        return time.monotonic() - t0, res

    spark.sparkContext.setJobDescription("layer:bootstrap")
    t0 = time.monotonic()
    ReplayEngine(spark, pristine).bootstrap_table(
        TABLE, spark.read.parquet(fx["base"]), KEYS, n_buckets=p["buckets"])
    boot_s = time.monotonic() - t0
    # warm-up: the first replay pays JIT, codegen and worker start-up
    warm_s, _ = replay(fresh("warm"), "warmup")
    if tracer:
        tracer.window_start()
    iters = []
    t_measure = time.monotonic()
    measured = 0.0
    while measured < a.seconds or len(iters) < p["min_iters"]:
        eng = fresh(str(len(iters)))
        watch = LsnWatch(eng.table(TABLE)).start()
        t0 = time.monotonic()
        dt, res = replay(eng, "replay")
        watch.stop()
        seen = watch.first_at(want["applied_lsn"])
        iters.append({"wall_s": dt, "engine": eng, "res": res,
                      "visible_s": (seen - t0) if seen else None})
        measured += dt
    if tracer:
        tracer.window_end()
    pss.stop()
    r.detail["measure_s"] = time.monotonic() - t_measure

    t0 = time.monotonic()
    if a.inject == "corrupt_row":
        corrupt_one_row(iters[-1]["engine"].table(TABLE))
    r.attempted = len(iters)
    oks = verify(r, spark, [it["engine"].table(TABLE) for it in iters], want)
    for i, (it, ok) in enumerate(zip(iters, oks)):
        if not ok:
            r.fail(1, f"replay {i} does not match the golden state")
        elif it["visible_s"] is None:
            r.fail(1, f"replay {i}: applied_lsn never reached the golden "
                      f"{want['applied_lsn']}")
    r.detail["verify_s"] = time.monotonic() - t0
    walls = [it["wall_s"] for it in iters]
    r.e2e = {
        "setup_s": session_s + boot_s + warm_s,
        "events_per_s": fx["n_events"] / median(walls),
        # the whole backlog is due when the catch-up call starts and turns
        # visible at its snapshot commit
        "freshness_ms_p50": median(
            [it["visible_s"] or it["wall_s"] for it in iters]) * 1000.0,
        "peak_pss_mb": pss.peak,
    }
    r.detail.update({
        "iterations": len(iters), "events_per_iteration": fx["n_events"],
        "replay_s": walls, "bootstrap_s": boot_s, "warmup_s": warm_s,
        "session_s": session_s,
        "fast_path": [all(x.get("fast_path") for x in it["res"]["records"])
                      for it in iters],
    })
    if tracer:
        tracer.catchup_layers(iters, fx)


def live_tail(r: Run, session_s: float, pss: PssSampler) -> None:
    from pg_walstream_spark import streaming
    from pg_walstream_spark.engine import ReplayEngine

    a, p, spark, fx = r.args, r.p, r.spark, r.fixture
    tracer = r.trace
    wh = os.path.join(r.run_dir, "wh")
    frames = os.path.join(r.run_dir, "frames")
    stop_file = os.path.join(r.run_dir, "loadgen.stop")
    eng = ReplayEngine(spark, wh)
    spark.sparkContext.setJobDescription("layer:bootstrap")
    t0 = time.monotonic()
    eng.bootstrap_table(TABLE, spark.read.parquet(fx["base"]), KEYS,
                        n_buckets=p["buckets"])
    boot_s = time.monotonic() - t0
    table = r.engine_table = eng.table(TABLE)
    boot_lsn = table.applied_lsn()

    # pre-warm: replay the first deliveries into a throwaway copy of the
    # table, in small batches, so JIT and codegen of the per-batch path
    # happen before the stream starts instead of during its first triggers
    t0 = time.monotonic()
    pw_frames = os.path.join(r.run_dir, "prewarm")
    os.makedirs(pw_frames)
    os.makedirs(pw_frames + "_control")
    for k in range(p["prewarm_files"]):
        name = f"part-{k:05d}.parquet"
        shutil.copy(os.path.join(fx["stage"], name), pw_frames)
        shutil.copy(os.path.join(fx["stage"], "control", name),
                    pw_frames + "_control")
    shutil.copytree(wh, wh + "-prewarm")
    spark.sparkContext.setJobDescription("layer:prewarm")
    n_pw = sum(f["n"] for f in fx["files"][:p["prewarm_files"]])
    ReplayEngine(spark, wh + "-prewarm").replay_frames(
        pw_frames, batch_frames=-(-n_pw // p["prewarm_batches"]))
    prewarm_s = time.monotonic() - t0
    watch = LsnWatch(table).start()

    interval = p["interval_s"]
    g0 = time.monotonic() + 0.5
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), fx["stage"],
         frames, repr(g0), repr(interval), stop_file],
        stdout=subprocess.PIPE, text=True)
    r.loadgen = gen
    pss.exclude.add(gen.pid)
    # the first file must exist before the file source starts listing
    while not os.path.exists(os.path.join(frames, "part-00000.parquet")):
        if gen.poll() is not None:
            raise RuntimeError("load generator exited before publishing")
        time.sleep(0.01)
    spark.sparkContext.setJobDescription(None)
    t_stream = time.monotonic()
    q = streaming.start_stream(
        spark, frames, wh, os.path.join(r.run_dir, "checkpoint"),
        max_files_per_trigger=1_000_000, available_now=False)
    r.query = q
    # warm-up: the first triggers pay JIT and codegen; it ends once the
    # table has advanced warm_triggers times
    while len([s for s in watch.seen if s[1] > boot_lsn]) < p["warm_triggers"]:
        if time.monotonic() - t_stream > p["warm_cap_s"]:
            raise RuntimeError("live tail did not warm up in time")
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        time.sleep(POLL_S)
    warm_end = time.monotonic()
    warm_s = warm_end - t_stream
    lsn_warm = watch.lsn()
    if tracer:
        tracer.window_start()

    due = [g0 + k * interval for k in range(len(fx["files"]))]
    w0 = warm_end + p["settle_s"]
    w1 = w0 + a.seconds
    window = [k for k, d in enumerate(due) if w0 <= d < w1]
    if not window or due[-1] < w1:
        raise RuntimeError("staged WAL too short for the window")
    # stop the producer at the window's end; then let the stream drain
    while time.monotonic() < w1:
        time.sleep(POLL_S)
    with open(stop_file + ".tmp", "w") as f:
        f.write(repr(w1))
    os.replace(stop_file + ".tmp", stop_file)
    out, _ = gen.communicate(timeout=60)
    r.loadgen = None
    gen_rep = json.loads(out.strip().splitlines()[-1])
    published = gen_rep["files"]
    last_lsn = fx["lsn"][published - 1]
    t_drain = time.monotonic()
    while watch.lsn() < last_lsn:
        if time.monotonic() - t_drain > p["drain_cap_s"]:
            break
        if q.exception() is not None:
            break
        time.sleep(POLL_S)
    if tracer:
        tracer.window_end()
    pss.stop()
    q.stop()
    r.query = None
    watch.stop()

    lsn_end = watch.lsn_at(w1)
    backlog = sum(fx["files"][k]["n"] for k in range(published)
                  if due[k] < w1 and fx["lsn"][k] > lsn_end)
    fresh_ms = []
    txns = p["txns_per_file"]
    for k in window:
        seen = watch.first_at(fx["lsn"][k])
        if seen is not None:
            fresh_ms.extend([(seen - due[k]) * 1000.0] * txns)
    r.attempted = len(window) * txns
    missing = r.attempted - len(fresh_ms)
    if missing:
        r.fail(missing, f"{missing} window transactions never became "
                        f"visible (applied_lsn {watch.lsn()} < {last_lsn})")
    half = len(fresh_ms) // 2
    first, second = median(fresh_ms[:half]), median(fresh_ms[half:])
    growing = bool(first) and second > first * (1 + GROWTH_BOUND)
    if growing:
        r.fail(len(fresh_ms) - half,
               f"freshness grows within the window ({first:.0f} ms -> "
               f"{second:.0f} ms): the offered rate is not sustainable")

    # golden over exactly the files the generator published
    used = fx["table"].slice(0, fx["files"][published - 1]["hi"])
    want = golden_digest(f"{r.key}-f{published}", fx["base_table"], used)
    if a.inject == "corrupt_row":
        corrupt_one_row(table)
    if not verify(r, spark, [table], want)[0]:
        r.fail(r.attempted - missing, "the live table does not match the "
                                      "golden state")

    # applied rate between the first and the last table advance inside the
    # window: whole triggers only, so it reads the offered rate while the
    # stream keeps up and less once it falls behind
    adv = [(t, v) for t, v in watch.seen if w0 <= t <= w1]
    applied = 0.0
    if len(adv) >= 2:
        (ta, la), (tb, lb) = adv[0], adv[-1]
        applied = sum(txns * p["ops_per_txn"] for lsn in fx["lsn"]
                      if la < lsn <= lb) / (tb - ta)
    r.e2e = {
        "setup_s": session_s + boot_s + prewarm_s + warm_s,
        "events_per_s": applied,
        "freshness_ms_p50": median(fresh_ms),
        "peak_pss_mb": pss.peak,
    }
    r.detail.update({
        "session_s": session_s, "bootstrap_s": boot_s,
        "prewarm_s": prewarm_s, "warmup_s": warm_s,
        "window_files": len(window), "window_txns": len(window) * txns,
        "offered_events_per_s": txns * p["ops_per_txn"] / interval,
        "published_files": published, "lsn_at_warm_end": lsn_warm,
        "freshness_ms_first_half": first, "freshness_ms_second_half": second,
        "growing": growing, "backlog_frames_end": backlog,
        "loadgen_late_ms_max": max(gen_rep["late_ms"], default=0.0),
        "advances_s": [round(t - warm_end, 3) for t, _ in watch.seen],
    })
    if tracer:
        tracer.live_layers(r, fx, window, due, gen_rep["late_ms"], frames,
                           lsn_warm)


# ------------------------------------------------------------------ main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="tiny inputs (self-test)")
    ap.add_argument("--inject", choices=("none", "corrupt_row", "drop_frame"),
                    default="none", help="self-test fault injection")
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes (JVM temp files, the shipped package
    zip, Python temp files) inside the run directory, and let the Python
    workers import the package from the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _terminate(signum, frame):
    # run the cleanup in main()'s finally: stop the stream, the load
    # generator and the JVM instead of orphaning them
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pg_walstream_spark",
                                       "engine.py")):
        log(f"pg_walstream_spark not found under {ROOT}; run from a "
            "checkout of the repository")
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_env(run_dir)
    r = Run(args, run_dir)
    try:
        return _main(r)
    finally:
        try:
            if r.query is not None:
                try:
                    r.query.stop()
                except Exception as e:  # the run already failed; clean up
                    log(f"stream stop failed: {e!r}")
            if r.loadgen is not None:
                r.loadgen.kill()
                r.loadgen.wait()
            if r.spark is not None:
                stop_session(r.spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def _main(r: Run) -> int:
    a = r.args
    probes = {"arith_s_before": arith_probe(), "bw_s_before": bw_probe()}
    ticks0 = cpu_ticks()

    # fixture generation: not part of setup_s
    t0 = time.monotonic()
    if a.inject == "drop_frame" and a.workload == "live_tail":
        raise SystemExit("--inject drop_frame applies to catch-up workloads")
    if a.workload != "live_tail":
        r.fixture = catchup_fixture(r.p, a.seed, r.run_dir)
        r.golden = golden_digest(r.key, r.fixture["base_table"],
                                 r.fixture["table"])
        if a.inject == "drop_frame":
            victim = sorted(os.listdir(r.fixture["frames"]))[
                r.p["files"] // 2]
            os.remove(os.path.join(r.fixture["frames"], victim))
    else:
        p = r.p
        # enough deliveries for the slowest accepted warm-up plus the window
        n_files = math.ceil((p["warm_cap_s"] + p["settle_s"] + a.seconds
                             + 5.0) / p["interval_s"])
        r.fixture = live_fixture(p, a.seed, r.run_dir, n_files)
        r.fixture["lsn"] = commit_lsns(r.fixture["table"],
                                       r.fixture["files"])
    r.detail["fixture_s"] = time.monotonic() - t0

    if a.trace:
        from layers import Tracer

        r.trace = Tracer()
    pss = PssSampler()
    t0 = time.monotonic()
    r.spark = start_session(r.run_dir)
    session_s = time.monotonic() - t0
    pss.start()
    if r.trace:
        r.trace.attach(r.spark)
    try:
        (live_tail if a.workload == "live_tail" else catchup)(
            r, session_s, pss)
    finally:
        if r.trace:
            r.trace.detach()
    ticks1 = cpu_ticks()
    probes["steal_frac"] = (ticks1[0] - ticks0[0]) / max(
        ticks1[1] - ticks0[1], 1)
    probes.update(arith_s_after=arith_probe(), bw_s_after=bw_probe())
    r.detail["total_s"] = time.monotonic() - r.t_start
    r.detail["pss_peak_parts_mb"] = pss.peak_parts

    if a.trace:
        metrics = r.trace.metrics(r, probes)
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                   for k, v in r.e2e.items()}
    r.detail.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                    trace=a.trace, params=r.p, session_conf=SESSION_CONF,
                    probes=probes, end_to_end=r.e2e)
    print(json.dumps({"detail": r.detail}, default=str), flush=True)
    print(json.dumps({"correct": r.correct, "attempted": int(r.attempted),
                      "failed": int(r.failed), "metrics": metrics}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
