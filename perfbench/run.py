"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload lattice --seed 1 --seconds 20 --trace 0

Run from the repository root. Sizes the Spark session to this host
(cores from the CPU affinity mask, driver heap from MemTotal), keeps
every file it writes under ``.perfbench_work/`` in the checkout, runs
the workload in a child driver process while sampling the RSS of the
child's whole process tree, and makes sure no process of the run
outlives it. Prints a readable report and, as the last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the metrics
are the end-to-end ones, or with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.rss import PeakRssSampler  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

RUN_LIMIT_S = 170.0  # the run's whole budget, set-up and teardown included
HEAP_SHARE = 0.125  # of MemTotal, for the driver JVM heap
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 8192


def host_fingerprint() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def driver_heap_mb(mem_total_mb: int) -> int:
    return int(min(max(mem_total_mb * HEAP_SHARE, HEAP_MIN_MB), HEAP_MAX_MB))


def stop_tree(proc: subprocess.Popen, sampler: PeakRssSampler, grace: float = 10.0) -> list[int]:
    """Terminate the child's process group and every process the sampler
    saw in its tree; wait until all are gone. Returns any survivors."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        for pid in sampler.still_alive():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if proc.poll() is not None and not sampler.still_alive():
                return []
            time.sleep(0.1)
    proc.wait(timeout=grace)
    return sampler.still_alive()


def report(res: dict, host: dict, peak_mb: float) -> list[str]:
    """Readable lines: every end-to-end metric by name and unit."""
    out = [
        f"perfbench {res['workload']} seed={res['seed']} trace={res['trace']} "
        f"host nproc={host['nproc']} mem_total_mb={host['mem_total_mb']}"
    ]
    reps = stats.summarize(res["setup_reps_cpu_s"])
    wall = res["wall"]
    out.append(
        f"  setup_s                {res['end_to_end']['setup_s']:.4g} s CPU (session + inputs "
        f"{stats.format_summary(reps, 's')}; warm-up round {res['warmup_cpu_s']:.4g} s); "
        f"wall {wall['setup_s']:.4g} s (session + inputs median {statistics.median(res['setup_reps_s']):.4g} s, "
        f"max {max(res['setup_reps_s']):.4g} s; warm-up round {wall['warmup_s']:.4g} s)"
    )
    for name, op in res["ops"].items():
        s = op["summary"]
        first = f"first call {op['warmup_s']:.4g} s; CPU median {op['cpu_s']['median']:.4g} s"
        if op["items"]:
            out.append(
                f"  {name:<22} {op['items'] / s['median']:.6g} {op['item_unit']}/s "
                f"(median call {s['median']:.4g} s, n={s['n']}, max {s['max']:.4g} s; {first})"
            )
        else:
            out.append(f"  {name:<22} {stats.format_summary(s, 's/call')} ({first})")
    rate = res["failed"] / res["attempted"]
    out.append(f"  error_rate             {rate:.6g} failed/attempted ({res['failed']}/{res['attempted']})")
    out.append(f"  peak_rss_mb            {peak_mb:.1f} MB")
    e2e = res["end_to_end"]
    out.append(
        f"  round_cpu_s            {e2e['round_cpu_s']:.4g} s (median of n={len(res['rounds_cpu_s'])} rounds: "
        + ", ".join(f"{c:.4g}" for c in res["rounds_cpu_s"]) + ")"
    )
    out.append(f"  round_jobs             {e2e['round_jobs']:.6g} count")
    out.append(
        f"  round_s                {wall['round_s']:.4g} s wall (n={len(res['rounds_s'])}); "
        f"op_geomean_s {wall['op_geomean_s']:.4g} s wall"
    )
    for name, ok, detail in ((c["name"], c["ok"], c["detail"]) for c in res["checks"]):
        out.append(f"  check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    for f in res["failures"]:
        out.append(f"  failure: {f.strip()}")
    if res["trace"]:
        for k, v in sorted({**res["per_layer"], **res["detail"]}.items()):
            out.append(f"  layer {k} = {v:.6g}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    # a terminated launcher still stops the run's processes (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "geo_polygonize_spark", "__init__.py")):
        print("perfbench: geo_polygonize_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2

    host = host_fingerprint()
    cores = host["nproc"]
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    trace_file = ""
    if args.trace:
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        trace_file = os.path.join(
            work_root, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
        )
    result_path = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=f"{driver_heap_mb(host['mem_total_mb'])}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM of the run (spark-submit's launcher too): temp files in
        # the work dir, and no /tmp/hsperfdata_<user> counters file
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--work-dir", work, "--result", result_path,
        "--trace-file", trace_file,
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        start_new_session=True,
    )
    sampler = PeakRssSampler(proc.pid).start()
    try:
        try:
            code = proc.wait(timeout=max(RUN_LIMIT_S - (time.monotonic() - t_start), 1.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            peak_mb = sampler.stop()
            survivors = stop_tree(proc, sampler)
        if code is None:
            print(f"perfbench: run exceeded {RUN_LIMIT_S:.0f} s; stopped", file=sys.stderr)
            return 1
        if survivors:
            print(f"perfbench: processes survived the run: {survivors}", file=sys.stderr)
            return 1
        if code != 0 or not os.path.exists(result_path):
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if trace_file:
        with open(trace_file, "a") as fh:
            fh.write(json.dumps({"run_id": res["run_id"], "host": host, "peak_rss_mb": peak_mb}) + "\n")
    for line in report(res, host, peak_mb):
        print(line)
    if args.trace:
        values, names = res["per_layer"], PER_LAYER
    else:
        values, names = {**res["end_to_end"], "peak_rss_mb": peak_mb}, END_TO_END
    metrics = {k: {"value": values[k], "unit": u} for k, u in names.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
