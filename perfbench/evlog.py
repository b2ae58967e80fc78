"""Spark event-log summarizer (stdlib only).

Groups ``SparkListenerTaskEnd`` task metrics by the job group of the job
that ran them. The benchmark's spans set the job group (``trace.Tracer``),
so each group is one span name. Jobs started without a group fall into
``""``.

Reads the uncompressed log Spark 4 writes with ``spark.eventLog.enabled``
and ``spark.eventLog.compress=false``: a rolling directory
``eventlog_v2_<app>/events_<n>_<app>`` of JSON lines, or a single file.

Usage: ``python3 perfbench/evlog.py <event-log dir or file>`` prints the
per-group summary as JSON.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
from collections import defaultdict
from collections.abc import Iterable, Iterator

MB = 1024.0 * 1024.0


def log_files(path: str) -> list[str]:
    """Event files under ``path`` in write order (rolling logs number them)."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("events_") or f.startswith("app-") or f.startswith(
                "local-"
            ):
                found.append(os.path.join(root, f))

    def order(p: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(found, key=order)


def read_events(path: str) -> Iterator[dict]:
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _new_group() -> dict:
    return {
        "jobs": 0,
        "stages": set(),
        "tasks": 0,
        "exec_ms": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_read_b": 0,
        "shuffle_write_b": 0,
        "spill_b": 0,
        "records_written": 0,
        "task_ms": [],
        "stage_task_ms": defaultdict(list),
    }


def summarize(
    events: Iterable[dict],
    since_ms: int | None = None,
    until_ms: int | None = None,
) -> dict:
    """Per job group: jobs, stages, tasks, executor run/CPU/GC time, shuffle
    read/write, spill, records written, max/median task time and the worst
    per-stage task skew (max / median task time over stages with at least
    two tasks). ``since_ms`` keeps only jobs submitted at or after it,
    ``until_ms`` only jobs submitted before it."""
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            submitted = e.get("Submission Time", 0)
            if since_ms is not None and submitted < since_ms:
                continue
            if until_ms is not None and submitted >= until_ms:
                continue
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            groups[g]["jobs"] += 1
            for s in e.get("Stage IDs", []):
                stage_group[s] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"))
            if g is None:
                continue
            tm = e.get("Task Metrics") or {}
            rec = groups[g]
            rec["stages"].add(e["Stage ID"])
            rec["tasks"] += 1
            run_ms = tm.get("Executor Run Time", 0)
            rec["exec_ms"] += run_ms
            rec["cpu_ns"] += tm.get("Executor CPU Time", 0)
            rec["gc_ms"] += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            rec["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            om = tm.get("Output Metrics") or {}
            rec["records_written"] += om.get("Records Written", 0)
            rec["task_ms"].append(run_ms)
            rec["stage_task_ms"][e["Stage ID"]].append(run_ms)
    return {g: _finish(r) for g, r in groups.items()}


def _skew(stage_task_ms: dict) -> float:
    worst = 1.0
    for times in stage_task_ms.values():
        if len(times) < 2:
            continue
        med = statistics.median(times)
        if med > 0:
            worst = max(worst, max(times) / med)
    return worst


def _finish(r: dict) -> dict:
    t = r["task_ms"]
    return {
        "jobs": r["jobs"],
        "stages": len(r["stages"]),
        "tasks": r["tasks"],
        "exec_s": r["exec_ms"] / 1000.0,
        "cpu_s": r["cpu_ns"] / 1e9,
        "gc_s": r["gc_ms"] / 1000.0,
        "shuffle_read_mb": r["shuffle_read_b"] / MB,
        "shuffle_write_mb": r["shuffle_write_b"] / MB,
        "spill_mb": r["spill_b"] / MB,
        "records_written": r["records_written"],
        "task_max_s": max(t) / 1000.0 if t else 0.0,
        "task_median_s": statistics.median(t) / 1000.0 if t else 0.0,
        "task_skew": _skew(r["stage_task_ms"]),
    }


def total(summary: dict) -> dict:
    """All groups folded into one record (sums; max for the task tails)."""
    out = {
        k: 0.0
        for k in (
            "jobs", "stages", "tasks", "exec_s", "cpu_s", "gc_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
            "records_written",
        )
    }
    out["task_max_s"] = 0.0
    out["task_skew"] = 1.0
    for rec in summary.values():
        for k in out:
            if k in ("task_max_s", "task_skew"):
                out[k] = max(out[k], rec[k])
            else:
                out[k] += rec[k]
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: evlog.py <event-log dir or file>")
    print(json.dumps(summarize(read_events(sys.argv[1])), indent=1,
                     sort_keys=True))
