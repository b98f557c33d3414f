#!/usr/bin/env python3
"""Open-loop frame-file producer for the ``live_tail`` workload.

One single-threaded process. ``run.py`` stages the WAL as one parquet
file per delivery (``STAGE/part-NNNNN.parquet``) plus that file's control
rows (``STAGE/control/part-NNNNN.parquet``). This process publishes
delivery ``k`` at ``t0 + k * interval`` on the shared monotonic clock,
whatever the consumer is doing: first the control rows into the
``<frames>_control`` sidecar, then the frame file. Both appear through an
atomic rename from a hidden temporary name, so the stream never lists a
partly written file.

It stops after the last staged file, or before the first delivery due at
or after the monotonic time written into STOP_FILE. Its stdout is one
JSON line: files published and how late each publish ran.

Usage: loadgen.py STAGE_DIR FRAMES_DIR T0 INTERVAL_S STOP_FILE
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def _publish(src: str, dest: str) -> None:
    d, name = os.path.split(dest)
    tmp = os.path.join(d, f".{name}.tmp")
    shutil.copyfile(src, tmp)
    os.replace(tmp, dest)


def _stop_at(stop_file: str) -> float | None:
    try:
        with open(stop_file) as f:
            return float(f.read())
    except (OSError, ValueError):
        return None


def main(argv: list[str]) -> int:
    stage, frames, t0, interval, stop_file = argv
    t0, interval = float(t0), float(interval)
    ctrl = frames.rstrip("/") + "_control"
    os.makedirs(frames, exist_ok=True)
    os.makedirs(ctrl, exist_ok=True)
    names = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    late_ms = []
    for k, name in enumerate(names):
        due = t0 + k * interval
        stop = _stop_at(stop_file)
        if stop is not None and due >= stop:
            break
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        _publish(os.path.join(stage, "control", name),
                 os.path.join(ctrl, name))
        _publish(os.path.join(stage, name), os.path.join(frames, name))
        late_ms.append((time.monotonic() - due) * 1000.0)
    print(json.dumps({"files": len(late_ms), "late_ms": late_ms}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
