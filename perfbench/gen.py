"""Open-loop sensor-reading generator for the ``flagship_live`` workload.

Runs as its own process, separate from the engine, on a fixed schedule
that does not slow when the engine does.  Every tick it writes one small
parquet file of readings and renames it into the watched directory, so
the file source never sees a partial file.  Readings follow the
reference's sensor model (``SensorSource``): ``sensor_<n>`` ids, an
initial 65 + N(0,1)*20 °F and a N(0,1)*0.5 random walk per reading.  A
share of readings carry an event time up to ``MAX_DELAY_MS`` in the past
(out of order, inside the 5 s watermark), and every reading carries the
time it was due, its creation stamp.

    python3 gen.py OUT_DIR STAGE_DIR SEED TICK_S RATE:SECONDS[,RATE:SECONDS...] [FILES:ROWS]

The first rung runs at least its SECONDS, stretched so that the second
starts on a 5 s boundary.  An optional burst of FILES files of ROWS
readings each, due when the schedule ends, is staged in the first rung's
idle time and published at once when the schedule ends, so that the
engine faces a standing backlog.  The burst has a seeded source of its
own, so the scheduled readings do not depend on when it was staged.
The manifest (one JSON object per file: due and write times, rows,
rung; the burst is the last rung) is printed to stdout at the end.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SENSORS = 1000
IDS = np.array([f"sensor_{i}" for i in range(SENSORS)], dtype=object)
OUT_OF_ORDER_SHARE = 0.1
MAX_DELAY_MS = 4000
WINDOW_S = 5.0
# the burst is staged between first-rung ticks only while at least this
# much time is left before the next one (one staged file takes a few ms)
STAGE_SLACK_S = 0.04


class Sensors:
    """Seeded reading source; the same seed gives the same readings for
    the same due times."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.temp = 65.0 + self.rng.standard_normal(SENSORS) * 20.0
        self.cursor = 0

    def readings(self, n: int, due_ms: int) -> pa.Table:
        idx = (self.cursor + np.arange(n)) % SENSORS
        self.cursor = int((self.cursor + n) % SENSORS)
        temp = self.temp[idx] + self.rng.standard_normal(n) * 0.5
        self.temp[idx] = temp
        late = self.rng.random(n) < OUT_OF_ORDER_SHARE
        delay = np.where(late, self.rng.integers(0, MAX_DELAY_MS, n), 0)
        return pa.table(
            {
                "id": pa.array(IDS[idx], pa.string()),
                "ts": pa.array(due_ms - delay, pa.timestamp("ms", tz="UTC")),
                "temperature": pa.array(temp),
                "created_ms": pa.array(np.full(n, due_ms, dtype=np.int64)),
            }
        )


def write(table: pa.Table, out_dir: str, stage_dir: str, name: str) -> None:
    staged = os.path.join(stage_dir, name)
    pq.write_table(table, staged)
    os.rename(staged, os.path.join(out_dir, name))


def main(argv: list[str]) -> int:
    out_dir, stage_dir, seed, tick = argv[0], argv[1], int(argv[2]), float(argv[3])
    ladder = [(int(r), float(s)) for r, s in (x.split(":") for x in argv[4].split(","))]
    burst_files, burst_rows = (int(x) for x in argv[5].split(":")) if len(argv) > 5 else (0, 0)
    sensors = Sensors(seed)
    burst_sensors = Sensors(seed + 2)  # seed + 1 feeds the engine's warm-up files
    # the first parquet write initialises the writer; keep it off the schedule
    pq.write_table(Sensors(seed).readings(1, 0), os.path.join(stage_dir, "init.parquet"))
    manifest = []
    # the first rung runs at least its seconds and is stretched so that
    # the second starts on a window boundary: every run sees the same
    # phase between the schedule and the 5 s event-time windows
    first = math.ceil((time.time() + 0.05 + ladder[0][1]) / WINDOW_S) * WINDOW_S
    ticks = [int((first - time.time() - 0.05) // tick)] + [round(s / tick) for _, s in ladder[1:]]
    t0 = first - ticks[0] * tick
    burst_due = t0 + sum(ticks) * tick
    burst = [f"r{sum(ticks) + i:06d}.parquet" for i in range(burst_files)]
    staged = 0

    def stage() -> None:
        nonlocal staged
        table = burst_sensors.readings(burst_rows, int(burst_due * 1000))
        pq.write_table(table, os.path.join(stage_dir, burst[staged]))
        staged += 1

    k = 0
    for rung, ((rate, _), n) in enumerate(zip(ladder, ticks)):
        rows = max(1, round(rate * tick))
        for _ in range(n):
            due = t0 + k * tick
            while rung == 0 and staged < len(burst) and due - time.time() > STAGE_SLACK_S:
                stage()
            time.sleep(max(0.0, due - time.time()))
            name = f"r{k:06d}.parquet"
            write(sensors.readings(rows, int(due * 1000)), out_dir, stage_dir, name)
            manifest.append({"file": name, "rung": rung, "rate": rate, "due": due, "written": time.time(), "rows": rows})
            k += 1
    while staged < len(burst):
        stage()
    for name in burst:
        os.rename(os.path.join(stage_dir, name), os.path.join(out_dir, name))
    written = time.time()
    manifest += [
        {"file": name, "rung": len(ladder), "rate": None, "due": burst_due, "written": written, "rows": burst_rows}
        for name in burst
    ]
    json.dump(manifest, sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
