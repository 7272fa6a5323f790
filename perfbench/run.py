#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The inputs are generated once per
generator version into ``.perfbench/data`` (see ``datagen.py``); each run
gets its own scratch directory for ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the
warehouse, removed when the run ends.  The program runs in a child
interpreter (``worker.py``) on ``local[<cores>]``; every result is checked
against its DuckDB oracle.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Lines before it print every metric by name and unit, the
host and the load.  The full result (set-up phases, per-op records and, when
traced, spans and the per-op breakdown) is saved under
``.perfbench/results`` for ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170.0

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402


def host_stamp() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"cores": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb / 1024.0}


def load_stamp() -> dict:
    """1-minute load average and CPU pressure (PSI avg10, when exposed)."""
    stamp: dict = {"loadavg_1m": os.getloadavg()[0]}
    for path in ("/sys/fs/cgroup/cpu.pressure", "/proc/pressure/cpu"):
        try:
            with open(path) as fh:
                line = next(line for line in fh if line.startswith("some"))
        except (OSError, StopIteration):
            continue
        fields = dict(p.split("=") for p in line.split()[1:])
        stamp["cpu_psi_some_avg10"] = float(fields["avg10"])
        break
    return stamp


def cpu_times() -> list[int]:
    """The aggregate CPU line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time taken by other tenants (steal) between
    two ``cpu_times`` readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "codecdb_queryengine_spark", "__init__.py")
    )


def _stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_worker(cfg: dict, run_dir: str, limit_s: float) -> dict | None:
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(cfg["cores"]),
        "SPARK_GRAFT_PREBUILT_LAYOUTS": "1",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
    })
    env.pop("SPARK_GRAFT_MASTER", None)
    out_path = os.path.join(run_dir, "result.json")
    cfg["t_spawn"] = time.time()
    proc = subprocess.Popen(
        [sys.executable, "-u", os.path.join(HERE, "worker.py"), json.dumps(cfg), out_path],
        cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {limit_s:.0f} s", file=sys.stderr)
        code = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if code != 0 or not os.path.exists(out_path):
        print(f"worker failed (exit {code})", file=sys.stderr)
        return None
    with open(out_path) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    # A terminated run still stops its worker's process group (run_worker's
    # finally) instead of leaving the JVM behind.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not _program_present():
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    host = host_stamp()
    load_before = load_stamp()
    cpu_before = cpu_times()
    data_dir = datagen.write(os.path.join(WORK, "data"))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "data_dir": data_dir,
        "run_dir": run_dir,
        "tmp_dir": tmp,
        "cores": host["cores"],
        # Only where the JVM puts its files changes: java.io.tmpdir into the
        # run's own directory and no shared-memory perf file in /tmp.
        "conf": {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"},
    }
    try:
        result = run_worker(cfg, run_dir, RUN_LIMIT_S - (time.time() - t_start))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return 1

    load_after = load_stamp()
    load_after["cpu_steal_frac_run"] = steal_frac(cpu_before, cpu_times())
    result.update(workload=args.workload, seed=args.seed, trace=args.trace, seconds=args.seconds,
                  host=host, load={"before": load_before, "after": load_after})
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start * 1000)}.json"
    with open(os.path.join(WORK, "results", name), "w") as fh:
        json.dump(result, fh)

    e2e = result["end_to_end"]
    print(f"host: {host['cores']} cores, {host['mem_total_mb']:.0f} MB; load before {load_before}, "
          f"after {result['load']['after']}")
    phases = ", ".join(f"{k} {v:.3f}" for k, v in result["setup"].items())
    print(f"workload {args.workload}: {result['passes']} passes x {result['ops_per_pass']} ops, "
          f"seed {args.seed}; set-up phases (s): {phases}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update(latency_tail_s="s", failed_frac="ratio", peak_rss_mb="MB")
    for metric in ("setup_s", "ops_per_s", "latency_p50_s", "latency_tail_s", "failed_frac",
                   "peak_rss_mb", "disk_written_mb", "layout_mb"):
        extra = ""
        if metric == "latency_tail_s":
            extra = f"  (p{e2e['tail_percentile']}, {e2e['tail_beyond']} of {e2e['samples']} samples beyond)"
        print(f"  {metric} = {e2e[metric]:.6g} {units[metric]}{extra}")
    for failure in result["failures"]:
        print(f"  FAILED {failure}")

    if args.trace:
        layer = result["per_layer"]
        for metric, value in layer.items():
            print(f"  {metric} = {value:.6g}")
        chosen = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": chosen,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
