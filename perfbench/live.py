"""``flagship_live``: the reference's AverageSensorReadings, open loop.

A separate generator process (``gen.py``) writes sensor readings as
small files on a fixed schedule over a ladder of input rates.  The
engine runs ``file_stream`` -> F->C -> ``windowed_avg_stream(5 s,
watermark 5 s)`` in update mode into a ``foreachBatch`` sink.  An
event's latency runs from its creation (the time it was due) to the end
of the sink call of the micro-batch that consumed its file; files are
mapped to batches through the checkpoint's file-source log.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

# (events per second, share of --seconds); the middle rung is the
# reference rate for the latency metrics.
LADDER = [(2000, 0.15), (10000, 0.7), (30000, 0.15)]
REFERENCE_RUNG = 1
TICK_S = 0.1
LATENCY_LIMIT_MS = 2000.0
# After the ladder, a burst of files published at once (files, rows per
# file: 100 ms files of a 60 000 events/s source) leaves the engine a
# standing backlog, drained MAX_FILES_PER_TRIGGER files per batch; its
# drain rate is the engine's sustained rate.  On the ladder a batch
# reaches that many files only if it runs longer than 5 s: a cap near the
# ladder's files per batch would hold back files whenever the host is
# slow and turn the latency rungs into a backlog.
BURST = (500, 6000)
BURST_RUNG = len(LADDER)
MAX_FILES_PER_TRIGGER = 50
# Set-up: the first micro-batches take seconds each, so they are fed one
# small file at a time.  Then, untimed and outside set-up, the generator
# runs a rung at the reference rate, 12 s stretched to the next window
# boundary, while the stream's hot paths get compiled.
WARM_BATCHES = 3
WARM_ROWS = 500
WARM_RUNG = (10000, 12.0)
SCHEMA = "id STRING, ts TIMESTAMP, temperature DOUBLE, created_ms BIGINT"


class Sink:
    """foreachBatch sink: keeps the latest update per (window, sensor) and
    the wall time each batch's emission ended."""

    def __init__(self) -> None:
        self.results: dict[tuple[int, str], tuple[float, int]] = {}
        self.ends: dict[int, float] = {}
        self.cv = threading.Condition()

    def __call__(self, batch_df, batch_id: int) -> None:
        rows = batch_df.collect()
        with self.cv:
            for r in rows:
                self.results[(r.w_start, r.id)] = (r.avg_value, r.n)
            self.ends[batch_id] = time.time()
            self.cv.notify_all()

    def wait_batches(self, n: int, timeout: float) -> bool:
        """Waits until ``n`` batches have ended; False on timeout."""
        with self.cv:
            return self.cv.wait_for(lambda: len(self.ends) >= n, max(0.0, timeout))


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id.  The file-source log numbers its
    entries by source offset, which falls behind the batch id whenever
    the engine runs a no-data batch (watermark advance), so offsets are
    mapped to batches through the checkpoint's offset log."""
    files: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if not os.path.basename(path).startswith("."):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        files[os.path.basename(e["path"])] = e["batchId"]
    ends = {}  # batch id -> source offset at its end
    for path in glob.glob(os.path.join(checkpoint, "offsets", "[0-9]*")):
        with open(path) as fh:
            lines = fh.read().splitlines()
        if len(lines) >= 3 and lines[2].startswith("{"):
            ends[int(os.path.basename(path))] = json.loads(lines[2])["logOffset"]
    first_batch = {}  # source offset -> first batch that covers it
    for batch in sorted(ends):
        for off in range(ends.get(batch - 1, -1) + 1, ends[batch] + 1):
            first_batch[off] = batch
    return {f: first_batch[off] for f, off in files.items() if off in first_batch}


class Live:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.in_dir = os.path.join(work, "in")
        self.stage_dir = os.path.join(work, "stage")
        self.checkpoint = os.path.join(work, "checkpoint")
        for d in (self.in_dir, self.stage_dir):
            os.makedirs(d, exist_ok=True)
        self.sink = Sink()
        self.query = None

    def start(self) -> None:
        """Starts the stream and waits, untimed, through its first
        micro-batches (warm-up files written one batch at a time)."""
        from stream_processing_with_flink_study_spark.operators import core
        from stream_processing_with_flink_study_spark.streaming import (
            file_stream,
            foreach_batch_sink,
            windowed_avg_stream,
        )

        source = file_stream(
            self.spark, self.in_dir, "parquet", schema=SCHEMA, max_files_per_trigger=MAX_FILES_PER_TRIGGER
        )
        readings = core.fahrenheit_to_celsius(source)
        agg = windowed_avg_stream(readings, ts="ts", key="id", value="temperature", size="5 seconds", watermark="5 seconds")
        # keep the progress of every batch of the run (the default keeps 100)
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        self.query = foreach_batch_sink(agg, self.sink, self.checkpoint, output_mode="update").start()
        warm = gen.Sensors(self.seed + 1)
        for i in range(WARM_BATCHES):
            gen.write(warm.readings(WARM_ROWS, int(time.time() * 1000)), self.in_dir, self.stage_dir, f"w{i:03d}.parquet")
            if not self.sink.wait_batches(i + 1, 120):
                raise RuntimeError(f"the stream ran {len(self.sink.ends)} of {i + 1} warm-up batches in 120 s")

    def run(self, seconds: float) -> dict:
        """Drives the warm rung and the ladder, waits until every file is
        reflected in the sink, stops the stream and returns the raw
        measurements of the ladder."""
        rungs = [WARM_RUNG] + [(rate, share * seconds) for rate, share in LADDER]
        t_launch = time.time()
        proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "gen.py"),
                self.in_dir,
                self.stage_dir,
                str(self.seed),
                str(TICK_S),
                ",".join(f"{rate}:{s:g}" for rate, s in rungs),
                f"{BURST[0]}:{BURST[1]}",
            ],
            stdout=subprocess.PIPE,
        )
        try:
            out, _ = proc.communicate(timeout=sum(s for _, s in rungs) + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode:
            raise RuntimeError(f"generator exited with {proc.returncode}")
        files = json.loads(out)
        names = {f["file"] for f in files}
        # Reading the checkpoint costs CPU the engine is using, so look
        # once after each batch, not on a timer.
        deadline = time.time() + 60
        while True:
            seen = len(self.sink.ends)
            fb = file_batches(self.checkpoint)
            if names <= fb.keys() and max(fb[n] for n in names) in self.sink.ends:
                break
            if not self.sink.wait_batches(seen + 1, deadline - time.time()):
                break
        t_stop = time.time()
        progress = [
            {
                "batch": p.batchId,
                "start": p.timestamp,
                "rows": p.numInputRows,
                "state_commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
                **p.durationMs,
            }
            for p in self.query.recentProgress
        ]
        self.query.stop()
        manifest = [dict(f, rung=f["rung"] - 1) for f in files if f["rung"] > 0]
        return {
            "t_launch": t_launch,
            "t_measure": manifest[0]["due"],
            "t_stop": t_stop,
            "manifest": manifest,
            "file_batch": file_batches(self.checkpoint),
            "batch_end": dict(self.sink.ends),
            "trigger_ms": {p["batch"]: p.get("triggerExecution", 0) for p in progress},
            "progress": progress,
        }

    def check(self, raw: dict) -> tuple[int, int, list[str]]:
        """Final per-(window, sensor) averages against a batch aggregation
        of every generated file; returns (groups expected, groups wrong,
        first problems)."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(self.in_dir)
        t = tbl.drop_columns(["ts"]).to_pandas()
        t["w_start"] = tbl.column("ts").cast(pa.timestamp("ms", tz="UTC")).cast(pa.int64()).to_numpy() // 5000 * 5000
        t["c"] = (t["temperature"] - 32) * (5.0 / 9.0)
        ref = t.groupby(["w_start", "id"])["c"].agg(exact="mean", rows="count")
        got = pd.DataFrame(
            [(w, sid, avg, n) for (w, sid), (avg, n) in self.sink.results.items()],
            columns=["w_start", "id", "avg", "n"],
        )
        m = ref.reset_index().merge(got, on=["w_start", "id"], how="outer", indicator=True)
        # the sink rounds to 4 decimals: within half a unit of the exact mean
        close = (m["avg"] - m["exact"]).abs() <= 5e-5 + 1e-9
        bad = m[(m["_merge"] != "both") | (m["n"] != m["rows"]) | ~close]
        problems = [
            f"window {r.w_start} {r.id}: sink ({r.avg}, {r.n}), batch ({r.exact}, {r.rows})"
            for r in bad.head(5).itertuples()
        ]
        unread = {f["file"] for f in raw["manifest"]} - raw["file_batch"].keys()
        if unread:
            problems.append(f"{len(unread)} generated files never consumed")
        return len(m), len(bad), problems
