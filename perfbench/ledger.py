#!/usr/bin/env python3
"""Produce the traced per-layer ledger of one workload and seed.

    python3 perfbench/ledger.py --workload cdc_drain_small --seed 1

Runs the workload once untraced and twice traced, with the same seed
and run length, one after another, and writes
``.perfbench_work/ledger/<workload>-s<seed>-ledger.json`` holding:

- the end-to-end metrics untraced and traced, and the tracing overhead
  as traced / untraced - 1 per metric;
- every per-layer metric of the first traced run and its full report;
- the [jobs, stages, tasks] of each micro-batch and query execution the
  two traced runs share, and the ones on which they disagree.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LEDGER_DIR = ROOT / ".perfbench_work" / "ledger"


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict | None]:
    """(stdout result, traced report or None) of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run.py --trace {trace} exited with {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    report = None
    if trace:
        report = json.loads((LEDGER_DIR / f"{workload}-s{seed}.json").read_text())
    return result, report


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]

    plain, _ = _run(args.workload, args.seed, seconds, 0)
    traced1, rep1 = _run(args.workload, args.seed, seconds, 1)
    traced2, rep2 = _run(args.workload, args.seed, seconds, 1)

    untraced = {k: v["value"] for k, v in plain["metrics"].items()}
    with_trace = rep1["end_to_end"]
    shared = sorted(set(rep1["unit_counts"]) & set(rep2["unit_counts"]))
    ledger = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": seconds,
        "correct": [plain["correct"], traced1["correct"], traced2["correct"]],
        "end_to_end_untraced": untraced,
        "end_to_end_traced": with_trace,
        "tracing_overhead": {k: with_trace[k] / untraced[k] - 1.0 for k in untraced},
        "per_layer": rep1["per_layer"],
        "unit_counts": {k: rep1["unit_counts"][k] for k in shared},
        "unit_counts_disagree": {
            k: [rep1["unit_counts"][k], rep2["unit_counts"][k]]
            for k in shared
            if rep1["unit_counts"][k] != rep2["unit_counts"][k]
        },
        "traced_report": rep1,
    }
    out = LEDGER_DIR / f"{args.workload}-s{args.seed}-ledger.json"
    out.write_text(json.dumps(ledger, indent=1))
    print(json.dumps({k: ledger[k] for k in ["workload", "correct", "tracing_overhead", "unit_counts_disagree"]}))
    print(f"ledger: {out.relative_to(ROOT)}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
