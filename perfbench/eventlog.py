"""Fold a Spark event log into per-span totals (stdlib only).

A span is a job tag (``SparkContext.addJobTag``) the benchmark sets
around a call. Every job carries the tags that were set on the calling
thread, so nested spans add up naturally: a job inside a ledger append
inside a ``validate()`` pass counts for both spans.

Events used: ``SparkListenerJobStart`` (tags, stages, submission time),
``SparkListenerJobEnd`` (completion time), ``SparkListenerStageCompleted``
(stage intervals), ``SparkListenerTaskEnd`` (task metrics),
``SparkListenerBlockUpdated`` and ``SparkListenerUnpersistRDD`` (cached
RDD bytes).

Input is counted in rows, not bytes: Spark 4.1's parquet reader reports
only footer reads as bytes read, not the column chunks it decodes.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class SpanTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    cache_peak_bytes: int = 0
    # epoch seconds
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    map_stage_intervals: list[tuple[float, float]] = field(default_factory=list)


def read_events(path: Path):
    """Yield events from one log file, or from every log file under a
    directory (rolling logs), in file-name order."""
    files = [path] if path.is_file() else sorted(
        p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))
    )
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold(events, prefix: str = "pb.") -> dict[str, SpanTotals]:
    """Per-tag totals for every job tag starting with ``prefix``."""
    spans: dict[str, SpanTotals] = {}
    job_tags: dict[int, list[str]] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_is_map: dict[int, bool] = {}
    active: set[int] = set()
    cached: dict[str, int] = {}

    def tags_of_stage(stage_id):
        return job_tags.get(stage_job.get(stage_id), [])

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            raw = (e.get("Properties") or {}).get("spark.job.tags", "")
            tags = [t for t in raw.split(",") if t.startswith(prefix)]
            job_tags[jid] = tags
            job_start[jid] = e["Submission Time"] / 1000
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            for t in tags:
                spans.setdefault(t, SpanTotals()).jobs += 1
            active.add(jid)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            active.discard(jid)
            for t in job_tags.get(jid, []):
                spans[t].job_intervals.append((job_start[jid], e["Completion Time"] / 1000))
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            stage_is_map[sid] = e.get("Task Type") == "ShuffleMapTask"
            m = e.get("Task Metrics") or {}
            failed = (e.get("Task End Reason") or {}).get("Reason") != "Success"
            sr = m.get("Shuffle Read Metrics", {})
            for t in tags_of_stage(sid):
                s = spans[t]
                s.tasks += 1
                s.failed_tasks += failed
                s.run_s += m.get("Executor Run Time", 0) / 1000
                s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                s.gc_s += m.get("JVM GC Time", 0) / 1000
                s.input_rows += m.get("Input Metrics", {}).get("Records Read", 0)
                s.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                s.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                s.spill_bytes += m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            for t in tags_of_stage(sid):
                s = spans[t]
                s.stages += 1
                if stage_is_map.get(sid) and "Submission Time" in info:
                    s.map_stage_intervals.append(
                        (info["Submission Time"] / 1000, info["Completion Time"] / 1000)
                    )
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            block = info["Block ID"]
            if block.startswith("rdd_"):
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                if size:
                    cached[block] = size
                else:
                    cached.pop(block, None)
                total = sum(cached.values())
                for jid in active:
                    for t in job_tags.get(jid, []):
                        spans[t].cache_peak_bytes = max(spans[t].cache_peak_bytes, total)
        elif kind == "SparkListenerUnpersistRDD":
            gone = f"rdd_{e['RDD ID']}_"
            for block in [b for b in cached if b.startswith(gone)]:
                del cached[block]
    return spans


def covered(intervals, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, cursor = 0.0, start
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, cursor), min(hi, end)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total
