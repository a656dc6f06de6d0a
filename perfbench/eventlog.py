"""Reduce an uncompressed Spark event log to per-job-group counters.

Every benchmark op runs under its own job group, so the group id in a
``SparkListenerJobStart``/``SparkListenerStageSubmitted`` event's
properties names the op. The counters per group are those of the
``spark.*`` per-layer metrics:

- ``jobs``, ``stages`` (completed stage attempts), ``tasks``;
- ``executor_run_s`` (task busy time), ``scheduler_delay_s`` (the Spark
  UI's definition: task wall time not spent deserializing, running,
  serializing or fetching the result), ``gc_s``;
- ``shuffle_write_bytes``, ``shuffle_records_written``,
  ``shuffle_read_bytes``, ``spill_bytes`` (bytes spilled to disk),
  ``input_bytes``;
- ``task_skew``: max over median task duration in the group's slowest
  stage (1.0 when the group ran no stage);
- ``failed_tasks``;
- ``driver_gap_s``: the op's wall time during which none of its jobs ran,
  given the op's span.
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable, Iterator

GROUP_KEY = "spark.jobGroup.id"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "scheduler_delay_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_records_written",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "failed_tasks",
)


def read_events(path: str) -> Iterator[dict]:
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    covered, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            covered += b - a
            cursor = b
    return covered


def reduce_events(
    events: Iterable[dict], spans: dict[str, tuple[float, float]] | None = None
) -> dict[str, dict[str, float]]:
    """Per-group counters; ``spans`` maps a group to its op's (start, end)
    in epoch seconds and adds ``driver_gap_s``."""
    stage_group: dict[int, str] = {}
    stage_wall: dict[tuple[int, int], float] = {}
    task_ms: dict[tuple[int, int], list[float]] = {}
    job_span: dict[int, list[float]] = {}
    job_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(COUNTERS, 0.0))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is None:
                continue
            job_group[ev["Job ID"]] = group
            job_span[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0]
            acc(group)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            acc(group)["stages"] += 1
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_wall[key] = info.get("Completion Time", 0) - info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            c = acc(group)
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            c["tasks"] += 1
            c["failed_tasks"] += int(bool(info.get("Failed")) or reason != "Success")
            wall = info["Finish Time"] - info["Launch Time"]
            run = m.get("Executor Run Time", 0)
            fetch = info.get("Getting Result Time", 0)
            fetch = info["Finish Time"] - fetch if fetch > 0 else 0
            overhead = m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
            c["executor_run_s"] += run / 1000.0
            c["scheduler_delay_s"] += max(0, wall - overhead - run - fetch) / 1000.0
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_records_written"] += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            task_ms.setdefault(key, []).append(float(wall))

    for group, c in out.items():
        stages = [k for k in task_ms if stage_group.get(k[0]) == group]
        c["task_skew"] = 1.0
        if stages:
            slowest = max(stages, key=lambda k: (stage_wall.get(k, 0), k))
            times = task_ms[slowest]
            c["task_skew"] = max(times) / max(statistics.median(times), 1.0)
        if spans and group in spans:
            lo, hi = spans[group]
            busy = [tuple(job_span[j]) for j, g in job_group.items() if g == group]
            c["driver_gap_s"] = (hi - lo) - _covered(busy, lo, hi)
    return out
