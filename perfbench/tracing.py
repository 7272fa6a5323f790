"""The traced window of a ``--trace 1`` run and the per-layer metrics
derived from it.

Spans come from the benchmark's own call boundaries (``op`` and its
``build``/``plan``/``collect`` children, recorded by ``worker.Runner.run_op``).
Layer counters come from Spark's event log, enabled for the traced session
through ``get_spark(**extra_conf)``, and from a ``StreamingQueryListener``.
Each Spark job and stage is attributed to the operation whose span contains
its submission time.
"""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime

import eventlog
import stats


def dir_usage(root: str) -> tuple[int, int]:
    """(bytes, files) on disk under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                st = os.lstat(os.path.join(dirpath, n))
            except OSError:
                continue
            size += st.st_blocks * 512
            files += 1
    return size, files


class Tracer:
    """Spans recorded in memory at the benchmark's own call boundaries."""

    def __init__(self) -> None:
        self.spans: list[stats.Span] = []

    def add(self, parent: int | None, name: str, start: float, end: float, op_id: int) -> int:
        span_id = len(self.spans)
        self.spans.append(stats.Span(span_id, parent, name, start, end, op_id))
        return span_id


STREAM_PARTS = {
    "streaming.add_batch_frac": "addBatch",
    "streaming.wal_commit_frac": "walCommit",
    "streaming.planning_frac": "queryPlanning",
    "streaming.trigger_frac": "triggerExecution",
}


def _listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.events.append({
                "time": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()


def traced_window(runner, conf: dict, cfg: dict, passes: int) -> dict:
    """Restart the session with the event log on, warm it with one untimed
    pass, then run as many passes as the untraced window."""
    log_dir = os.path.join(cfg["run_dir"], "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    traced_conf = dict(conf)
    traced_conf.update({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    runner.start_session(traced_conf)
    listener = _listener()
    runner.spark.streams.addListener(listener)
    runner.warm_up(-2)
    tracer = Tracer()
    records, wall = runner.run_passes(passes, passes, tracer)
    files_on_disk = dir_usage(cfg["tmp_dir"])[1]
    time.sleep(1.0)  # let the listener bus deliver the last progress events
    return {
        "tracer": tracer,
        "records": records,
        "wall": wall,
        "progress": list(listener.events),
        "log_dir": log_dir,
        "files_on_disk": files_on_disk,
        "passes": passes,
        "cores": int(cfg["cores"]),
    }


def per_layer(
    traced: dict, log: eventlog.EventLog, setup: dict, untraced_ops_per_s: float
) -> tuple[dict, dict, list[dict]]:
    """The per-layer metrics (per pass where a total), extra detail, and the
    per-op breakdown of the traced window."""
    spans: list[stats.Span] = traced["tracer"].spans
    records: list[dict] = traced["records"]
    passes = traced["passes"]
    self_t = stats.self_times(spans)

    ops = {s.op_id: s for s in spans if s.parent is None}
    op_name = {r["op"]: r["name"] for r in records}
    op_pass = {r["op"]: r["pass"] for r in records}
    rows_out = sum(r.get("rows_out", 0) for r in records)

    job_spans = stats.attribute([j.submitted_ms / 1000.0 for j in log.jobs], spans)
    stage_list = list(log.stages.values())
    stage_spans = stats.attribute([s.submitted_ms / 1000.0 for s in stage_list], spans)

    per_op = {
        op: {"op": op, "name": op_name.get(op), "pass": op_pass.get(op), "wall": s.duration,
             "self": {"op": self_t[s.span_id]}, "jobs": 0, "stages": 0, "tasks": 0, "build_jobs": 0}
        for op, s in ops.items()
    }
    for s in spans:
        if s.parent is not None:
            per_op[s.op_id]["self"][s.name] = self_t[s.span_id]
    for span in job_spans:
        if span is not None:
            per_op[span.op_id]["jobs"] += 1
            if span.name == "build":
                per_op[span.op_id]["build_jobs"] += 1
    tasks = []
    for stage, span in zip(stage_list, stage_spans):
        if span is None:
            continue
        per_op[span.op_id]["stages"] += 1
        per_op[span.op_id]["tasks"] += len(stage.tasks)
        tasks.append(stage)

    all_tasks = [t for st in tasks for t in st.tasks]
    op_wall = sum(s.duration for s in ops.values())
    child = {"build": 0.0, "plan": 0.0, "collect": 0.0}
    for s in spans:
        if s.parent is not None:
            child[s.name] += s.duration
    jobs = sum(p["jobs"] for p in per_op.values())
    run_s = sum(t.run_ms for t in all_tasks) / 1e3
    input_stages = [st for st in tasks if sum(t.input_bytes for t in st.tasks) > 0]
    in_bytes = sum(t.input_bytes for st in input_stages for t in st.tasks)
    max_task = sum(max(t.input_bytes for t in st.tasks) for st in input_stages)
    in_rows = sum(t.input_rows for t in all_tasks)

    def _in_window(t: float) -> bool:
        return any(s.start <= t <= s.end for s in ops.values())

    files_written = sum(n for ms, n in log.files_written if _in_window(ms / 1000.0))
    progress = [e for e in traced["progress"] if _in_window(e["time"])]
    traced_ok = sum(1 for r in records if r["ok"])
    traced_ops_per_s = traced_ok / traced["wall"]

    m = {
        "session.start_s": setup["session_s"],
        "catalog.register_s": setup["catalog_s"],
        "queries.build_s": child["build"] / passes,
        "queries.build_frac": child["build"] / op_wall,
        "queries.build_jobs": sum(p["build_jobs"] for p in per_op.values()) / passes,
        "catalyst.plan_s": child["plan"] / passes,
        "scheduler.jobs": jobs / passes,
        "scheduler.stages": len(tasks) / passes,
        "scheduler.tasks": len(all_tasks) / passes,
        "scheduler.s_per_job": op_wall / max(1, jobs),
        "executor.task_run_s": run_s / passes,
        "executor.task_cpu_s": sum(t.cpu_ns for t in all_tasks) / 1e9 / passes,
        "executor.gc_frac": sum(t.gc_ms for t in all_tasks) / 1e3 / run_s if run_s else 0.0,
        "executor.slot_busy_frac": run_s / (traced["wall"] * traced["cores"]),
        "scan.bytes_read": in_bytes / passes,
        "scan.rows_read": in_rows / passes,
        "scan.rows_per_row_out": in_rows / max(1, rows_out),
        "scan.max_task_share": max_task / in_bytes if in_bytes else 0.0,
        "shuffle.write_bytes": sum(t.shuffle_write_bytes for t in all_tasks) / passes,
        "shuffle.read_bytes": sum(t.shuffle_read_bytes for t in all_tasks) / passes,
        "shuffle.fetch_wait_frac": sum(t.fetch_wait_ms for t in all_tasks) / 1e3 / run_s if run_s else 0.0,
        "shuffle.spill_bytes": sum(t.spill_bytes for t in all_tasks) / passes,
        "python.bytes_sent": sum(t.py_sent for t in all_tasks) / passes,
        "python.bytes_returned": sum(t.py_returned for t in all_tasks) / passes,
        "python.tasks": sum(1 for t in all_tasks if t.py_sent > 0) / passes,
        "sources.bytes_written": sum(t.output_bytes for t in all_tasks) / passes,
        "sources.rows_written": sum(t.output_rows for t in all_tasks) / passes,
        "sources.files_written": files_written / passes,
        "sources.files_on_disk": float(traced["files_on_disk"]),
        "streaming.batches": len(progress) / passes,
        "streaming.input_rows": sum(e["rows"] for e in progress) / passes,
        "trace.overhead_frac": 1.0 - traced_ops_per_s / untraced_ops_per_s,
    }
    for metric, part in STREAM_PARTS.items():
        m[metric] = sum(e["ms"].get(part, 0) for e in progress) / 1e3 / op_wall
    batch_ms = [e["ms"].get("triggerExecution", 0) for e in progress]
    detail = {
        "streaming.batch_p50_ms": statistics.median(batch_ms) if batch_ms else None,
        "traced_ops_per_s": traced_ops_per_s,
        "untraced_ops_per_s": untraced_ops_per_s,
    }
    return m, detail, sorted(per_op.values(), key=lambda p: p["op"])


def finish(traced: dict, result: dict) -> None:
    """Parse the event log of the stopped traced session and add the
    per-layer metrics, spans and per-op breakdown to ``result``."""
    log = eventlog.read(traced["log_dir"])
    metrics, detail, breakdown = per_layer(
        traced, log, result["setup"], result["end_to_end"]["ops_per_s"]
    )
    result["per_layer"] = metrics
    result["trace_detail"] = detail
    result["breakdown"] = breakdown
    result["spans"] = [s.__dict__ for s in traced["tracer"].spans]
