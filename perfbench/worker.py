"""One benchmark run in a fresh interpreter: set up, time whole passes of a
workload, optionally trace them, then check every result against its
DuckDB oracle.

Started by ``perfbench/run.py`` with the environment the run needs already
set (``PYTHONPATH``, ``TMPDIR``, ``SPARK_LOCAL_DIRS`` ...).  The program is
driven only through ``session.get_spark``, ``catalog.register_views``, the
``__spark_entry__`` registries and the returned DataFrame's plan and
``collect``.  The result is written as JSON to the path given on the
command line.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import traceback

T_MAIN = time.time()  # the interpreter is up; program imports follow

import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _proc_value(path: str, key: str) -> float:
    """The number after ``key`` in a /proc key-value file."""
    with open(path) as fh:
        for line in fh:
            if line.startswith(key):
                return float(line.split()[1])
    raise KeyError(f"{key} not in {path}")


def _write_bytes(pid: int) -> float:
    return _proc_value(f"/proc/{pid}/io", "write_bytes:")


def _jvm_pid() -> int:
    """The java process this interpreter launched (a descendant of it)."""
    me = os.getpid()
    parent: dict[int, int] = {}
    java: list[int] = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
        if comm == "java":
            java.append(int(entry))
    for pid in java:
        p = pid
        while p in parent and p > 1:
            p = parent[p]
            if p == me:
                return pid
    raise RuntimeError("no JVM below this process")


class Runner:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.workload = workloads.WORKLOADS[cfg["workload"]]
        self.data_dir = cfg["data_dir"]
        from codecdb_queryengine_spark import catalog
        from codecdb_queryengine_spark.session import get_spark

        import __spark_entry__ as entry

        self.get_spark = get_spark
        self.catalog = catalog
        registry = entry.queries()
        oracles = entry.oracle_sql()
        missing = [n for n in self.workload.ops if n not in registry or n not in oracles]
        if missing:
            raise RuntimeError(f"operations without a registry entry or oracle: {missing}")
        self.fns = {n: registry[n] for n in self.workload.ops}
        self.oracles = {n: oracles[n] for n in self.workload.ops}
        self.spark = None
        self.retired: list = []

    # -- set-up ----------------------------------------------------------
    def start_session(self, conf: dict[str, str]) -> dict[str, float]:
        """Start (or restart) the session and register the catalog.  Returns
        the phase times."""
        if self.spark is not None:
            self.spark.stop()
            # Keep the stopped session referenced: the program caches per
            # id(session), and a collected session's id can be reused.
            self.retired.append(self.spark)
        t0 = time.time()
        spark = self.get_spark("perfbench", **conf)
        t1 = time.time()
        self.catalog.register_views(spark, self.data_dir)
        self.spark = spark
        return {"session_s": t1 - t0, "catalog_s": time.time() - t1}

    def warm_up(self, pass_index: int) -> float:
        """One untimed pass before a window; returns its wall time.  The
        first one in a process runs JIT-cold and builds the prebuilt read
        layouts."""
        t = time.time()
        self.run_passes(1, pass_index, None)
        return time.time() - t

    # -- one operation -------------------------------------------------
    def run_op(self, name: str, op_id: int, tracer: tracing.Tracer | None) -> dict:
        spark = self.spark
        rec: dict = {"op": op_id, "name": name}
        t0 = time.time()
        t1 = t2 = None
        try:
            df = self.fns[name](spark, self.data_dir)
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            rows = df.collect()
            t3 = time.time()
            rec["rows"] = rows
            rec["schema"] = df.schema
        except Exception as exc:  # an operation failure is a result, not a crash
            t3 = time.time()
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:500]}"
            traceback.print_exc(file=sys.stderr)
        spark.catalog.clearCache()  # drop the operation's persisted DataFrames
        rec.update(start=t0, end=t3, wall=t3 - t0)
        if name in self.workload.heavy:
            # A write-heavy operation leaves heap churn (layout writes,
            # swaps, micro-batches) that slows whichever operation follows;
            # collect it here, outside every operation's wall time.
            t4 = time.time()
            gc.collect()
            spark._jvm.System.gc()
            rec["hygiene_s"] = time.time() - t4
        if tracer is not None:
            op_span = tracer.add(None, "op", t0, t3, op_id)
            marks = [("build", t0, t1), ("plan", t1, t2), ("collect", t2, t3)]
            for child, a, b in marks:
                if a is not None and b is not None:
                    tracer.add(op_span, child, a, b, op_id)
        return rec

    def run_passes(self, passes: int, first_pass: int, tracer: tracing.Tracer | None) -> tuple[list[dict], float]:
        """Run whole passes; returns the records and the window's wall time
        without the collections after write-heavy operations."""
        records: list[dict] = []
        t0 = time.time()
        for p in range(first_pass, first_pass + passes):
            for name in workloads.pass_order(self.workload.ops, self.cfg["seed"], p):
                rec = self.run_op(name, len(records), tracer)
                rec["pass"] = p
                records.append(rec)
        hygiene = sum(r.get("hygiene_s", 0.0) for r in records)
        return records, time.time() - t0 - hygiene


def _check(records: list[dict], oracles: dict[str, str], data_dir: str) -> None:
    """Mark each record ok or failed against its oracle (oracle.compare
    semantics: column names, column types, row count, bit-exact values)."""
    from codecdb_queryengine_spark.oracle import _expected_duck_type, duckdb_connect, normalize

    expected: dict[str, tuple] = {}
    con = duckdb_connect(data_dir)
    try:
        for rec in records:
            if "error" in rec:
                rec["ok"] = False
                continue
            name = rec["name"]
            if name not in expected:
                res = con.execute(oracles[name])
                cols = [c[0] for c in res.description]
                rows = res.fetchall()
                types = dict(zip(cols, [str(t) for t in con.sql(oracles[name]).types]))
                expected[name] = (cols, normalize([tuple(r) for r in rows], cols), types)
            cols, want, types = expected[name]
            schema = rec.pop("schema")
            rows = rec.pop("rows")
            s_cols = schema.fieldNames()
            problem = None
            if sorted(s_cols) != sorted(cols):
                problem = f"columns {sorted(s_cols)} != {sorted(cols)}"
            else:
                for f in schema.fields:
                    t = _expected_duck_type(f.dataType)
                    if t is not None and types.get(f.name) != t:
                        problem = f"type of {f.name}: {types.get(f.name)} != {t}"
                        break
            if problem is None:
                got = normalize([tuple(r) for r in rows], s_cols)
                if len(got) != len(want):
                    problem = f"row count {len(got)} != {len(want)}"
                elif got != want:
                    problem = "values differ"
            rec["rows_out"] = len(rows)
            rec["ok"] = problem is None
            if problem:
                rec["error"] = f"oracle mismatch: {problem}"
    finally:
        con.close()


def _end_to_end(records: list[dict], wall: float) -> dict:
    lat = [r["wall"] for r in records]
    p, tail, beyond = stats.tail_percentile(lat)
    ok = sum(1 for r in records if r["ok"])
    return {
        "ops_per_s": ok / wall,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "tail_percentile": p,
        "tail_beyond": beyond,
        "samples": len(lat),
        "failed_frac": (len(records) - ok) / len(records),
    }


def main() -> int:
    cfg = json.loads(sys.argv[1])
    out_path = sys.argv[2]
    t_spawn = cfg["t_spawn"]
    runner = Runner(cfg)
    w = runner.workload
    conf = dict(cfg["conf"])

    # Set-up runs once, from process start to the first timed operation:
    # interpreter, program imports, JVM and session, catalog and one untimed
    # pass that runs JIT-cold and builds the prebuilt layouts.
    phases = {"interpreter_s": T_MAIN - t_spawn, "imports_s": time.time() - T_MAIN}
    phases.update(runner.start_session(conf))
    phases["first_pass_s"] = runner.warm_up(-1)

    me, jvm = os.getpid(), _jvm_pid()
    passes = w.passes(cfg["seconds"])
    result: dict = {"setup": phases, "passes": passes, "ops_per_pass": len(w.ops)}

    written0 = _write_bytes(me) + _write_bytes(jvm)
    setup_s = time.time() - t_spawn
    records, wall = runner.run_passes(passes, 0, None)
    written = _write_bytes(me) + _write_bytes(jvm) - written0
    layout_bytes, layout_files = tracing.dir_usage(cfg["tmp_dir"])
    peak_kb = sum(_proc_value(f"/proc/{pid}/status", "VmHWM:") for pid in (me, jvm))

    traced = tracing.traced_window(runner, conf, cfg, passes) if cfg["trace"] else None

    runner.spark.stop()
    traced_records = traced["records"] if traced else []
    _check(records + traced_records, runner.oracles, runner.data_dir)
    e2e = _end_to_end(records, wall)
    e2e.update(
        setup_s=setup_s,
        peak_rss_mb=peak_kb / 1024.0,
        disk_written_mb=written / 1e6 / passes,
        layout_mb=layout_bytes / 1e6,
        layout_files=layout_files,
        wall_s=wall,
    )
    result["end_to_end"] = e2e
    if traced is not None:
        tracing.finish(traced, result)
    checked = records + traced_records
    result["attempted"] = len(checked)
    result["failed"] = sum(1 for r in checked if not r["ok"])
    result["failures"] = sorted({f"{r['name']}: {r['error']}" for r in checked if not r["ok"]})
    result["ops"] = [
        {k: r[k] for k in ("op", "name", "pass", "wall", "hygiene_s", "ok", "rows_out") if k in r} for r in records
    ]
    with open(out_path, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
