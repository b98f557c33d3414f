#!/usr/bin/env python3
"""Self-test of the benchmark at toy size (a few minutes on 4 vCPUs).

Run from the repository root:

    python3 perfbench/selftest.py

It runs ``run.py --toy`` as a subprocess and checks that:

- every workload (including ``split_txn``, which ``BENCHMARK.json`` does
  not list) prints exactly the end-to-end metrics (``--trace 0``) and the
  per-layer metrics (``--trace 1``) that ``BENCHMARK.json`` names, each
  with the unit ``BENCHMARK.json`` gives it, and passes its output gate
  on unchanged code;
- a lake row corrupted behind the engine's back, and a frame file
  dropped from the WAL, are each reported as failed operations with
  ``correct: false``.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import HERE, ROOT, WORKLOADS


def run(workload: str, trace: int, inject: str = "none") -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--toy", "--inject", inject]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd[1:])} exited {p.returncode}:\n"
                           f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []

    def check(label: str, ok: bool, why: str) -> None:
        print(("ok   " if ok else "FAIL ") + label + ("" if ok else
                                                     f": {why}"), flush=True)
        if not ok:
            problems.append(label)

    def counts(res: dict) -> str:
        return json.dumps({k: res[k] for k in ("correct", "attempted",
                                               "failed")})

    for w in WORKLOADS:
        for trace in (0, 1):
            res = run(w, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            want = expect[trace]
            check(f"{w} trace={trace} metric names and units", got == want,
                  f"missing {sorted(set(want) - set(got))}, extra "
                  f"{sorted(set(got) - set(want))}, wrong units "
                  f"{sorted(k for k in got if want.get(k, got[k]) != got[k])}")
            check(f"{w} trace={trace} gate passes on unchanged code",
                  res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1, counts(res))
    for w, inject in (("bulk_catchup", "corrupt_row"),
                      ("bulk_catchup", "drop_frame"),
                      ("live_tail", "corrupt_row")):
        res = run(w, 0, inject)
        check(f"{w} {inject} is reported as failed",
              not res["correct"] and res["failed"] >= 1, counts(res))
    print("selftest:", "FAILED " + ", ".join(problems) if problems
          else "all checks passed", flush=True)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
