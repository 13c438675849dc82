"""Interleaved A/B of two checkouts that carry identical benchmark code.

    python3 perfbench/ab.py --base ../parent --head . --workload lattice --pairs 10

Each pair runs ``perfbench/run.py`` once in each checkout with the same
fresh seed, alternating which side goes first. For every end-to-end
metric it prints both medians and quartiles, the share of pairs the head
won, whether that is a gain (the head wins at least nine pairs in ten and
the medians differ by more than the base's own quartile spread), and
whether the head is worse than the base by more than the metric's bound
in BENCHMARK.json. README.md shows how to set up the base checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    """Metric name -> value of one benchmark run; raises unless it ran
    and every output was correct."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{checkout}: run failed\n{p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise RuntimeError(f"{checkout}: wrong results at seed {seed}\n{p.stdout[-2000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def compare(base: list[float], head: list[float], better: str, bound: float) -> dict:
    """Verdict for one metric over paired runs (base[i] pairs head[i])."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for b, h in zip(base, head) if sign * (b - h) > 0)
    mb, mh = statistics.median(base), statistics.median(head)
    q1, _, q3 = statistics.quantiles(base, n=4)
    return {
        "base_median": mb,
        "head_median": mh,
        "base_quartiles": (q1, q3),
        "head_quartiles": tuple(statistics.quantiles(head, n=4)[::2]),
        "head_wins": f"{wins}/{len(base)}",
        "gain": wins >= 0.9 * len(base) and abs(mh - mb) > q3 - q1,
        "regression": sign * (mh - mb) > bound * mb,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--head", default=".", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    with open(os.path.join(args.head, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = {"base": [], "head": []}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        for side in order:
            runs[side].append(run_once(getattr(args, side), args.workload, seed, bench["run_seconds"]))
        print(f"pair {i + 1}/{args.pairs} seed {seed}: "
              + ", ".join(f"{s} {runs[s][-1]}" for s in ("base", "head")), flush=True)
    verdicts = {
        m["name"]: compare(
            [r[m["name"]] for r in runs["base"]], [r[m["name"]] for r in runs["head"]],
            m["better"], m["bound"],
        )
        for m in bench["end_to_end"]
    }
    for name, v in verdicts.items():
        print(f"{args.workload} {name}: {v}")
    print(json.dumps({"workload": args.workload, "pairs": args.pairs, "verdicts": verdicts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
