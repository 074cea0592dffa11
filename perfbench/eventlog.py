"""Reduce a Spark event log (uncompressed, not rolling: one JSON event per
line) to counters per client phase.

A job belongs to the phase whose job group (``"<op id>|<phase>"``, set by
the client) it carries. Jobs started from other threads (streaming query
threads run under their own group) fall back to the phase span whose time
window holds the job's submission time. Stages and tasks follow their job.
"""

from __future__ import annotations

import json
from collections import defaultdict

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
    "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "peak_exec_mem_mb", "input_mb", "input_rows",
)
MB = 1024.0 * 1024.0


def _phase_at(spans, t_ms: float):
    t = t_ms / 1000.0
    best = None
    for s in spans:
        if s["name"] == "op" or s["op"] is None:
            continue
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return f"{best['op']}|{best['name']}" if best else None


def reduce(path: str, spans: list[dict]) -> dict[str, dict[str, float]]:
    """``{"<op id>|<phase>": {counter: value}}`` for every phase that ran
    at least one job."""
    job_key: dict[int, str | None] = {}
    stage_key: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    seen_stages: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group or "|" not in group:
                    group = _phase_at(spans, ev.get("Submission Time", 0))
                job_key[ev["Job ID"]] = group
                for st in ev.get("Stage IDs", []):
                    stage_key.setdefault(st, group)
                if group:
                    out[group]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev.get("Stage ID"))
                if key is None:
                    continue
                c = out[key]
                sid = ev["Stage ID"]
                if sid not in seen_stages:
                    seen_stages.add(sid)
                    c["stages"] += 1
                c["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) / MB
                c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                c["peak_exec_mem_mb"] = max(c["peak_exec_mem_mb"],
                                            m.get("Peak Execution Memory", 0) / MB)
                im = m.get("Input Metrics") or {}
                c["input_mb"] += im.get("Bytes Read", 0) / MB
                c["input_rows"] += im.get("Records Read", 0)
    return dict(out)
