"""Spark event-log parsing and attribution of stages to benchmark spans.

The traced run enables Spark's event log (uncompressed JSON lines). Each
completed stage becomes one record with its wall interval and the sums of
its task metrics; each job becomes a wall interval. Both carry the span id
the submitting thread was tagged with (the `SPAN_TAG` local property), and
a stage belongs to that span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

SPAN_TAG = "perfbench.span"
# SQL metrics of the Arrow Python UDF node, in milliseconds
_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"


def _new_stage(sid: int) -> dict:
    return {
        "id": sid,
        "span": None,
        "submit": None,
        "complete": None,
        "tasks": [],  # task wall seconds (finish - launch)
        "failed_tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_write_records": 0,
        "shuffle_read_bytes": 0,
        "input_bytes": 0,
        "output_records": 0,
        "spill_bytes": 0,
        "python_run_s": 0.0,
        "python_start_s": 0.0,
    }


def _span_tag(ev: dict) -> int | None:
    tag = (ev.get("Properties") or {}).get(SPAN_TAG)
    return None if tag is None else int(tag)


def parse_events(lines) -> tuple[dict[int, dict], list[dict]]:
    """Event-log JSON lines → (stage id → stage record, job intervals).

    Only stages and jobs that completed are kept; times are in seconds."""
    stages: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _new_stage(ev["Stage ID"]))
            info = ev["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                st["failed_tasks"] += 1
            st["tasks"].append((info["Finish Time"] - info["Launch Time"]) / 1000)
            m = ev.get("Task Metrics") or {}
            st["run_s"] += m.get("Executor Run Time", 0) / 1000
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000
            st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get(
                "Remote Bytes Read", 0
            )
            st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st["output_records"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
            py = {
                acc.get("Name"): float(acc.get("Update")) / 1000
                for acc in info.get("Accumulables") or []
                if acc.get("Name") in (_PY_RUN, _PY_START, _PY_INIT)
            }
            st["python_run_s"] += py.get(_PY_RUN, 0.0)
            # A task on a reused worker repeats that worker's initialize
            # time without a start time; only a task that started its worker
            # paid for either.
            if _PY_START in py:
                st["python_start_s"] += py[_PY_START] + py.get(_PY_INIT, 0.0)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stages.setdefault(sid, _new_stage(sid))["span"] = _span_tag(ev)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = stages.setdefault(si["Stage ID"], _new_stage(si["Stage ID"]))
            st["submit"] = si.get("Submission Time", 0) / 1000
            st["complete"] = si.get("Completion Time", 0) / 1000
        elif kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "span": _span_tag(ev),
                "start": ev["Submission Time"] / 1000,
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
    done = {sid: st for sid, st in stages.items() if st["complete"] is not None}
    return done, [j for j in jobs.values() if "end" in j]


def read_event_log(log_dir: str) -> tuple[dict[int, dict], list[dict]]:
    """Parse every event file under `log_dir` (plain or rolling layout)."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f)
        and not os.path.basename(f).startswith((".", "appstatus"))
    )
    lines: list[str] = []
    for f in files:
        with open(f) as fh:
            lines.extend(fh)
    return parse_events(lines)


def attribute(stages: dict[int, dict], spans: list[dict]) -> dict[int, list[dict]]:
    """Span id → the stages tagged with it. Untagged stages are dropped."""
    out: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for st in sorted(stages.values(), key=lambda s: s["id"]):
        if st["span"] in out:
            out[st["span"]].append(st)
    return out


def task_skew(stages: list[dict]) -> float:
    """Max over stages of (slowest task / median task), for stages of ≥2 tasks."""
    ratios = [
        max(st["tasks"]) / statistics.median(st["tasks"])
        for st in stages
        if len(st["tasks"]) >= 2 and statistics.median(st["tasks"]) > 0
    ]
    return max(ratios, default=1.0)
