"""Per-layer numbers for the traced run.

Two sources, both read from outside the engine:

- spans built from the harness's own timestamps around each call into a
  layer (workload -> query -> plans.build / exec.collect / harness.drain);
- the Spark event log, enabled only in the traced run.  Jobs are
  attributed through the job group the harness sets per query phase;
  streaming jobs run on the stream thread and carry the stream's own
  group, so their split comes from the query progress events instead.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from datetime import datetime

PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that turns the event log on (uncompressed: no zstd
    module is installed)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def _iso_s(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class EventLog:
    """Job, stage and task totals per job group, plus streaming progress."""

    def __init__(self, log_dir: str):
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, int] = defaultdict(int)
        self.tasks: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.progress: list[dict] = []
        stage_group: dict[int, str] = {}
        for e in _events(log_dir):
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[(e.get("Properties") or {}).get("spark.jobGroup.id", "")] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                stage_group[e["Stage Info"]["Stage ID"]] = group
                self.stages[group] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"], "")
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                t = self.tasks[group]
                t["tasks"] += 1
                t["busy_ms"] += info["Finish Time"] - info["Launch Time"]
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif kind == PROGRESS_EVENT:
                p = e["progress"]
                start = _iso_s(p["timestamp"])
                d = p.get("durationMs") or {}
                ops = p.get("stateOperators") or []
                self.progress.append(
                    {
                        "run_id": p.get("runId"),
                        "batch": p.get("batchId"),
                        "start": start,
                        "end": start + d.get("triggerExecution", 0) / 1000.0,
                        "trigger_ms": d.get("triggerExecution", 0),
                        "query_planning_ms": d.get("queryPlanning", 0),
                        "add_batch_ms": d.get("addBatch", 0),
                        "wal_commit_ms": d.get("walCommit", 0),
                        "commit_offsets_ms": d.get("commitOffsets", 0),
                        "latest_offset_ms": d.get("latestOffset", 0),
                        "get_batch_ms": d.get("getBatch", 0),
                        "input_rows": sum(src.get("numInputRows", 0) for src in p.get("sources") or []),
                        "state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
                        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
                        "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
                    }
                )

    def group_totals(self, groups: list[str]) -> dict[str, float]:
        out = {"jobs": 0, "stages": 0}
        out.update(dict.fromkeys(
            ("tasks", "busy_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0
        ))
        for g in groups:
            out["jobs"] += self.jobs.get(g, 0)
            out["stages"] += self.stages.get(g, 0)
            for k, v in self.tasks.get(g, {}).items():
                out[k] += v
        return out

    def batches_between(self, t0: float, t1: float) -> list[dict]:
        """Micro-batches that started inside [t0, t1)."""
        return [p for p in self.progress if t0 <= p["start"] < t1]


def streaming_layer(batches: list[dict]) -> dict[str, float]:
    """``streaming.*`` and ``sources.*`` from micro-batch progress: counts
    are totals, durations and state sizes are per-batch medians."""

    def med(key: str) -> float:
        vals = sorted(b[key] for b in batches)
        return float(vals[len(vals) // 2]) if vals else 0.0

    return {
        "streaming.batches": float(len(batches)),
        "streaming.input_rows": float(sum(b["input_rows"] for b in batches)),
        "streaming.trigger_ms": med("trigger_ms"),
        "streaming.query_planning_ms": med("query_planning_ms"),
        "streaming.add_batch_ms": med("add_batch_ms"),
        "streaming.wal_commit_ms": med("wal_commit_ms"),
        "streaming.commit_offsets_ms": med("commit_offsets_ms"),
        "streaming.state_rows_total": med("state_rows_total"),
        "streaming.state_commit_ms": med("state_commit_ms"),
        "streaming.state_memory_bytes": med("state_memory_bytes"),
        "sources.latest_offset_ms": med("latest_offset_ms"),
        "sources.get_batch_ms": med("get_batch_ms"),
    }


class Spans:
    """Spans kept in memory and written with the record at the end."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, qid: str | None = None) -> int:
        sid = len(self.items) + 1
        self.items.append({"id": sid, "parent": parent, "name": name, "qid": qid, "start": start, "end": end})
        return sid
