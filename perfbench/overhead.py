"""Tracing overhead: the same seeds run untraced and then traced.

    python3 perfbench/overhead.py --workload lattice --seeds 101,102

The untraced run's ``round_cpu_s`` and the traced run's
``operators.round_cpu_s`` measure the CPU seconds of the same round of
operations; the traced one also sets a Spark job group around every call
and writes the event log. Their ratio, per seed and as the median over
the seeds, is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.ab import run_once  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="101,102", help="comma-separated")
    args = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    rows = []
    for seed in (int(s) for s in args.seeds.split(",")):
        plain = run_once(root, args.workload, seed, seconds, trace=0)["round_cpu_s"]
        traced = run_once(root, args.workload, seed, seconds, trace=1)["operators.round_cpu_s"]
        rows.append({"seed": seed, "round_cpu_s": plain, "traced_round_cpu_s": traced, "ratio": traced / plain})
        print(f"seed {seed}: round_cpu_s {plain:.4g} s untraced, {traced:.4g} s traced, "
              f"ratio {traced / plain:.3f}", flush=True)
    ratio = statistics.median(r["ratio"] for r in rows)
    print(f"{args.workload} tracing overhead: median ratio {ratio:.3f} over {len(rows)} seeds")
    print(json.dumps({"workload": args.workload, "overhead_ratio": ratio, "runs": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
