#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line of
standard output.

    python3 perfbench/run.py --workload cdc_drain_small --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric named in BENCHMARK.json;
``--trace 1`` turns on Spark's event log, records spans at the layer
boundaries and prints every per-layer metric instead, and writes the
full ledger to ``.perfbench_work/ledger/``. Progress and a readable
report go to standard error. Run from the repository root: the program
under test is imported from there and all files are written under
``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _host_env(work: Path, trace: bool) -> None:
    """Size the session to this host and keep every file the run writes
    under ``work``; set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(1024, mem_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = str(work / "warehouse")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [str(ROOT), os.environ.get("PYTHONPATH", "")] if p
    )
    args = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
    ]
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _shutdown() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    try:
        return _run(args, work, e2e_units, layer_units)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path, e2e_units: dict, layer_units: dict) -> int:
    _host_env(work, bool(args.trace))

    # the program under test: importable only from a full checkout
    from sync_spark.hostmeter import cpu_times, frac_window

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run, layer_metrics

    tracer = Tracer() if args.trace else None
    run = Run(work, args.seed, args.seconds, tracer)
    cpu0, t0 = cpu_times(), time.perf_counter()
    try:
        result = WORKLOADS[args.workload](run)
        peak_rss = run.peak_rss_mb()
    finally:
        if tracer:
            tracer.unpatch()
        _shutdown()
    wall = time.perf_counter() - t0
    steal = frac_window(cpu0, cpu_times())["steal"]

    e2e = {"setup_s": run.setup_s, "peak_rss_mb": peak_rss, **result.e2e}
    if set(e2e) != set(e2e_units):
        raise KeyError(f"end-to-end metrics {sorted(e2e)} != BENCHMARK.json {sorted(e2e_units)}")
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "wall_s": wall,
        # hypervisor steal over the run: an annotation, never a filter
        "steal_frac": steal,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "attempted": result.attempted,
        "failed": result.failed,
        "end_to_end": e2e,
        "phases_s": run.phases,
        **result.report,
    }
    if tracer:
        metrics, units_counts, untagged = layer_metrics(
            run, result, str(work / "eventlog"), layer_units
        )
        report["per_layer"] = metrics
        # [jobs, stages, tasks] per micro-batch / query execution, and
        # the jobs no span claimed (session start-up, set-up, checks)
        report["unit_counts"] = units_counts
        report["untagged_jobs"] = untagged
        ledger_dir = ROOT / ".perfbench_work" / "ledger"
        ledger_dir.mkdir(parents=True, exist_ok=True)
        (ledger_dir / f"{args.workload}-s{args.seed}.json").write_text(
            json.dumps(report, indent=1, default=str)
        )
        units = layer_units
    else:
        metrics, units = e2e, e2e_units
    print(json.dumps(report, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
