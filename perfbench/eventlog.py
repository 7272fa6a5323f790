"""Read a Spark event log (``spark.eventLog.enabled``) into jobs, stages and
tasks with the counters the per-layer metrics need.

Only the JSON-lines format Spark writes uncompressed is read; the benchmark
turns compression off when it enables the log.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
FILES_WRITTEN = "number of written files"


@dataclass
class Task:
    stage_id: int
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    input_bytes: float = 0.0
    input_rows: float = 0.0
    shuffle_read_bytes: float = 0.0
    fetch_wait_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    output_bytes: float = 0.0
    output_rows: float = 0.0
    py_sent: float = 0.0
    py_returned: float = 0.0


@dataclass
class Stage:
    stage_id: int
    submitted_ms: float
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    submitted_ms: float


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, Stage] = field(default_factory=dict)
    # (time of the update in ms, count) for every "number of written files"
    # driver-side metric update
    files_written: list[tuple[float, float]] = field(default_factory=list)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _metric_ids(plan: dict, name: str, out: set[int]) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == name:
            out.add(int(m["accumulatorId"]))
    for child in plan.get("children", ()):
        _metric_ids(child, name, out)


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    t = Task(
        stage_id=int(ev["Stage ID"]),
        run_ms=_num(m.get("Executor Run Time")),
        cpu_ns=_num(m.get("Executor CPU Time")),
        gc_ms=_num(m.get("JVM GC Time")),
        input_bytes=_num(inp.get("Bytes Read")),
        input_rows=_num(inp.get("Records Read")),
        shuffle_read_bytes=_num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read")),
        fetch_wait_ms=_num(sr.get("Fetch Wait Time")),
        shuffle_write_bytes=_num(sw.get("Shuffle Bytes Written")),
        spill_bytes=_num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled")),
        output_bytes=_num(out.get("Bytes Written")),
        output_rows=_num(out.get("Records Written")),
    )
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        if acc.get("Name") == PY_SENT:
            t.py_sent += _num(acc.get("Update"))
        elif acc.get("Name") == PY_RETURNED:
            t.py_returned += _num(acc.get("Update"))
    return t


def parse_lines(lines) -> EventLog:
    log = EventLog()
    stage_submit: dict[int, float] = {}
    tasks: list[Task] = []
    files_ids: set[int] = set()
    last_ms = 0.0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            last_ms = _num(ev.get("Submission Time"))
            log.jobs.append(Job(int(ev["Job ID"]), last_ms))
        elif kind == "SparkListenerJobEnd":
            last_ms = _num(ev.get("Completion Time")) or last_ms
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            last_ms = _num(info.get("Submission Time")) or last_ms
            stage_submit[int(info["Stage ID"])] = last_ms
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = int(info["Stage ID"])
            submitted = stage_submit.get(sid, _num(info.get("Submission Time")))
            log.stages[sid] = Stage(sid, submitted)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(_task(ev))
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _metric_ids(ev.get("sparkPlanInfo") or {}, FILES_WRITTEN, files_ids)
            last_ms = _num(ev.get("time")) or last_ms
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", ()):
                if int(acc_id) in files_ids:
                    log.files_written.append((last_ms, _num(value)))
    for t in tasks:
        stage = log.stages.get(t.stage_id)
        if stage is not None:
            stage.tasks.append(t)
    return log


def read(log_dir: str) -> EventLog:
    """Parse the single application log Spark wrote into ``log_dir``."""
    names = sorted(n for n in os.listdir(log_dir) if not n.startswith("."))
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as fh:
        return parse_lines(fh)
