"""Parse a Spark event log (uncompressed, non-rolling JSON lines) into
per-job-group and per-span engine totals.

The harness tags every job two ways through local properties:
``spark.jobGroup.id`` (``setJobGroup``) names the operation and its
phase, and ``perfbench.span`` names the innermost benchmark span that
was open when the job was submitted. A stage is owned by the job that
submitted it (``SparkListenerStageSubmitted`` carries the submitting
job's properties), and each finished task's metrics go to its stage's
owner.

Units as Spark writes them: executor run and GC time in ms, executor
CPU time in ns, bytes as bytes, SQL ``timing`` metrics (``scan time``,
``time to run Python workers``) in ms and SQL ``size`` metrics in bytes.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, fields

GROUP_KEY = "spark.jobGroup.id"
SPAN_KEY = "perfbench.span"

# SQL metric accumulables (task-level updates) summed into Totals fields
_SQL_ACCUMS = {
    "scan time": "scan_ms",
    "data sent to Python workers": "py_in_bytes",
    "data returned from Python workers": "py_out_bytes",
    "time to run Python workers": "py_run_ms",
}


@dataclass
class Totals:
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    scan_ms: int = 0
    py_in_bytes: int = 0
    py_out_bytes: int = 0
    py_run_ms: int = 0

    def add(self, other: "Totals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _num(v) -> int:
    """Accumulable updates are numbers, or numeric strings in older logs."""
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _task_totals(e: dict) -> Totals:
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    t = Totals(
        tasks=1,
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
    )
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        attr = _SQL_ACCUMS.get(a.get("Name"))
        if attr:
            setattr(t, attr, getattr(t, attr) + _num(a.get("Update")))
    return t


@dataclass
class EventLog:
    by_group: dict[str, Totals]
    jobs_by_span: dict[str, int]


def parse(lines) -> EventLog:
    """Fold event-log JSON lines into totals keyed by job group (jobs
    without a group are keyed by ``""``) and job counts keyed by span."""
    by_group: dict[str, Totals] = defaultdict(Totals)
    jobs_by_span: dict[str, int] = defaultdict(int)
    stage_group: dict[int, str] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get(GROUP_KEY) or ""
            by_group[group].jobs += 1
            span = props.get(SPAN_KEY)
            if span is not None:
                jobs_by_span[span] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            stage_group[sid] = props.get(GROUP_KEY) or ""
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e.get("Stage ID"), "")
            by_group[group].add(_task_totals(e))
    return EventLog(dict(by_group), dict(jobs_by_span))


def parse_file(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)
