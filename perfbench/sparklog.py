"""Per-operation Spark numbers from the event log of a traced run.

The traced run tags each operation's jobs with ``setJobGroup("<op
type>:<op id>")`` and writes an uncompressed event log. This module
reads it back after the session stopped (which flushes it) and
attributes jobs, stages, tasks, task time, shuffle bytes, spill bytes
and GC time to the operation that submitted them.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_stats(log_dir: str, ops: list[dict]) -> dict:
    """``{op_id: {jobs, stages, tasks, job_s, task_s, shuffle_bytes,
    spill_bytes, gc_s}}``. ``job_s`` is the part of the op's wall
    covered by at least one of its jobs (clipped to the op interval)."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p))
    job_group: dict[int, int] = {}
    job_span: dict[int, list] = {}
    stage_op: dict[int, int] = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path, "r", encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    op_id = group.rsplit(":", 1)[-1]
                    if not op_id.isdigit():
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = int(op_id)
                    job_span[jid] = [ev["Submission Time"], None]
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = int(op_id)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
                    job_span[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    op_id = stage_op.get(info["Stage ID"])
                    if op_id is not None:
                        out[op_id]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op_id = stage_op.get(ev["Stage ID"])
                    if op_id is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    o = out[op_id]
                    o["tasks"] += 1
                    o["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    o["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    by_op = defaultdict(list)
    for jid, op_id in job_group.items():
        by_op[op_id].append(job_span[jid])
    for op in ops:
        o = out[op["id"]]
        lo, hi = op["epoch0"] * 1000.0, op["epoch1"] * 1000.0
        spans = [(max(a, lo), min(b if b is not None else hi, hi)) for a, b in by_op.get(op["id"], [])]
        o["jobs"] = float(len(spans))
        o["job_s"] = _union_seconds([s for s in spans if s[1] > s[0]]) / 1000.0
    return out
