"""Codegen census of a perfbench workload: Janino compiles, Spark jobs
and process-tree CPU seconds per operation, over the set-up, the
warm-up round and two timed rounds of one session.

    python3 scripts/codegen_census.py --workload lattice --seed 7 [--cache-entries N]

Run from the repository root. The session, inputs and operations are
the benchmark's own (``perfbench.workloads``, ``perfbench.worker.session``),
sized to this host the way ``perfbench/run.py`` sizes them; every file
goes under a temporary directory that is deleted at the end.

A compile is one count of Spark's ``CodegenMetrics`` compilation-time
histogram: a generated class that missed the JVM-wide code cache. An
operation that re-runs a plan compiled before should show 0.
``--cache-entries`` overrides ``spark.sql.codegen.cache.maxEntries``
for the run; with a cache larger than the run's working set, the
warm-up round's compiles are the number of distinct classes it uses.

Each operation's CPU is also split three ways by process: the driver
(this process), the JVM (``comm`` = ``java``) and the Python workers
(everything else below them: the daemon and the workers it forks; a
worker that exited counts through the daemon's reaped-children time).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.rss import cpu_s, descendants  # noqa: E402
from perfbench.run import driver_heap_mb, host_fingerprint  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
SPLIT = ("driver_s", "jvm_s", "py_s")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def cpu_split(root: int) -> dict:
    """CPU seconds used so far by ``root``'s process tree, by ``SPLIT``:
    ``root`` itself, the JVM, and the Python workers (the rest)."""
    out = dict.fromkeys(SPLIT, 0.0)
    for pid in descendants(root):
        kind = "driver_s" if pid == root else "jvm_s" if _comm(pid) == "java" else "py_s"
        out[kind] += cpu_s(pid)
    return out


def compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


class Census:
    """Rows of (phase, op, compiles, jobs, cpu_s and its ``SPLIT``), one
    per measured call."""

    def __init__(self, spark):
        self.spark = spark
        self.rows = []

    def measure(self, phase: str, op: str, fn):
        sc = self.spark.sparkContext
        group = f"census-{len(self.rows)}"
        sc.setJobGroup(group, f"{phase} {op}")
        c0, cpu0 = compiles(self.spark), cpu_split(os.getpid())
        try:
            return fn()
        finally:
            cpu1 = cpu_split(os.getpid())
            split = {k: round(cpu1[k] - cpu0[k], 2) for k in SPLIT}
            self.rows.append({
                "phase": phase, "op": op,
                "compiles": compiles(self.spark) - c0,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "cpu_s": round(sum(split.values()), 2),
                **split,
            })
            sc.setLocalProperty("spark.jobGroup.id", None)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--cache-entries", type=int, default=0,
                    help="override spark.sql.codegen.cache.maxEntries (0: the session's own)")
    args = ap.parse_args()

    host = host_fingerprint()
    cores = host["nproc"]
    work = tempfile.mkdtemp(prefix="codegen-census-")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # the environment perfbench/run.py gives its worker, set before the JVM starts
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=f"{driver_heap_mb(host['mem_total_mb'])}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    import geo_polygonize_spark.plans as plans
    from perfbench.worker import session

    if args.cache_entries:
        # a static conf: it has to be in the conf the session is built with
        build = plans.build_session

        def build_session(*a, extra_conf=None, **kw):
            conf = {**(extra_conf or {}), CACHE_CONF: str(args.cache_entries)}
            return build(*a, extra_conf=conf, **kw)

        plans.build_session = build_session

    spark = None
    try:
        spark = session(work, cores, trace=False)
        wl = WORKLOADS[args.workload](args.seed, cores, work)
        tracer = Tracer("census", enabled=False)
        census = Census(spark)
        census.measure("setup", "inputs", lambda: wl.make_inputs(spark, tracer))
        census.measure("setup", "reference", lambda: wl.reference(spark, tracer))
        ops = wl.ops(spark)
        for r in range(3):
            phase = "warmup" if r == 0 else f"round{r}"
            for op in ops:
                call = op.warm if r == 0 and op.warm else op.call
                n = census.measure(phase, op.metric, call)
                if not op.check(n):
                    raise RuntimeError(f"{phase} {op.metric}: wrong result {n}")
            wl.after_round()
        conf = spark.conf.get(CACHE_CONF)
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(f"codegen census {args.workload} seed={args.seed} nproc={cores} "
          f"mem_total_mb={host['mem_total_mb']} codegen.cache.maxEntries={conf}")
    cols = ("cpu_s",) + SPLIT
    print(f"  {'phase':<8} {'op':<24} {'compiles':>8} {'jobs':>5}" + "".join(f" {c:>8}" for c in cols))

    def line(phase, op, rows):
        print(f"  {phase:<8} {op:<24} {sum(r['compiles'] for r in rows):>8} "
              f"{sum(r['jobs'] for r in rows):>5}" + "".join(f" {sum(r[c] for r in rows):>8.2f}" for c in cols))

    for row in census.rows:
        line(row["phase"], row["op"], [row])
    for phase in dict.fromkeys(row["phase"] for row in census.rows):
        line(phase, "(total)", [row for row in census.rows if row["phase"] == phase])
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cache_max_entries": conf,
                      "rows": census.rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
