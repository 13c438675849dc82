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

The JVM's share is split again by thread name
(``/proc/<jvm>/task/*/{comm,stat}``): the C2 and C1 compiler threads,
the executor task threads, the py4j threads that run the driver's
calls (query planning; ``Thread-<n>``), GC, and the rest. A thread that
exits inside an operation (HotSpot retires idle compiler threads) takes
its CPU out of its bucket into the rest, which is the JVM total less the
named buckets. ``jit_n`` and ``jit_ms`` are HotSpot's own count of JIT
compilations and the ``CompilationMXBean`` compile time, read through
py4j (``jstat`` cannot read a perfbench run, whose JVM runs with
``-XX:-UsePerfData``). The header prints the live value of each
``-XX:`` flag of ``plans.DRIVER_JAVA_OPTIONS``, read from the JVM: the
compile policy survives the ``extraJavaOptions`` that
``perfbench.worker.session`` passes.
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

from perfbench.rss import CLOCK_TICKS, _stat_fields, cpu_s, descendants  # noqa: E402
from perfbench.run import driver_heap_mb, host_fingerprint  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
SPLIT = ("driver_s", "jvm_s", "py_s")
THREADS = ("c2_s", "c1_s", "exec_s", "py4j_s", "gc_s", "other_s")
JIT = ("jit_n", "jit_ms")
# HotSpot's compile counter lives in a package java.management does not
# export; exporting it changes nothing the JVM compiles
EXPORT_JIT_COUNTER = "--add-exports=java.management/sun.management=ALL-UNNAMED"


def _comm(pid) -> str:
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


def thread_bucket(comm: str) -> str:
    """``THREADS`` bucket of a JVM thread, by its (15-char) name."""
    if comm.startswith("C2 Compiler"):
        return "c2_s"
    if comm.startswith("C1 Compiler"):
        return "c1_s"
    if comm.startswith("Executor task"):
        return "exec_s"
    if comm.startswith("Thread-"):
        return "py4j_s"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc_s"
    return "other_s"


def thread_cpu(jvm: int) -> dict:
    """tid -> (bucket, CPU seconds) of every live thread of ``jvm``."""
    task = f"/proc/{jvm}/task"
    out = {}
    for tid in os.listdir(task):
        fields = _stat_fields(task, tid)
        if fields is not None:  # else it exited meanwhile
            bucket = thread_bucket(_comm(f"{jvm}/task/{tid}"))
            out[tid] = (bucket, (int(fields[11]) + int(fields[12])) / CLOCK_TICKS)  # utime stime
    return out


def thread_split(before: dict, after: dict, jvm_s: float) -> dict:
    """CPU seconds per ``THREADS`` bucket between two ``thread_cpu``
    readings; ``other_s`` is ``jvm_s`` (the process's own delta) less
    the named buckets."""
    out = dict.fromkeys(THREADS, 0.0)
    for tid, (bucket, cpu) in after.items():
        out[bucket] += cpu - before.get(tid, (bucket, 0.0))[1]
    out["other_s"] = jvm_s - sum(out[k] for k in THREADS if k != "other_s")
    return out


def jit_counters(spark) -> tuple[int, int]:
    """(JIT compilations, JIT milliseconds) so far in the session's JVM
    (the count needs ``EXPORT_JIT_COUNTER``)."""
    jvm = spark.sparkContext._jvm
    n = jvm.sun.management.ManagementFactoryHelper.getHotspotCompilationMBean().getTotalCompileCount()
    ms = jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
    return int(n), int(ms)


def vm_option(spark, name: str) -> str:
    """Live value of a HotSpot flag of the session's JVM."""
    jvm = spark.sparkContext._jvm
    cls = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    return jvm.java.lang.management.ManagementFactory.getPlatformMXBean(cls).getVMOption(
        name).getValue()


def compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


class Census:
    """Rows of (phase, op, compiles, jobs, cpu_s and its ``SPLIT``), one
    per measured call."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = next(p for p in descendants(os.getpid()) if _comm(p) == "java")
        self.rows = []

    def measure(self, phase: str, op: str, fn):
        sc = self.spark.sparkContext
        group = f"census-{len(self.rows)}"
        sc.setJobGroup(group, f"{phase} {op}")
        c0, jit0 = compiles(self.spark), jit_counters(self.spark)
        cpu0, thr0 = cpu_split(os.getpid()), thread_cpu(self.jvm)
        try:
            return fn()
        finally:
            cpu1, thr1 = cpu_split(os.getpid()), thread_cpu(self.jvm)
            jit1 = jit_counters(self.spark)
            split = {k: round(cpu1[k] - cpu0[k], 2) for k in SPLIT}
            threads = thread_split(thr0, thr1, cpu1["jvm_s"] - cpu0["jvm_s"])
            self.rows.append({
                "phase": phase, "op": op,
                "compiles": compiles(self.spark) - c0,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "cpu_s": round(sum(split.values()), 2),
                **split,
                **{k: round(v, 2) for k, v in threads.items()},
                "jit_n": jit1[0] - jit0[0],
                "jit_ms": jit1[1] - jit0[1],
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

    # static confs and JVM flags: they have to be in the conf the session
    # is built with; the JVM flag is appended to the options
    # perfbench.worker.session passes, which stay as they are
    build = plans.build_session

    def build_session(*a, extra_conf=None, **kw):
        conf = dict(extra_conf or {})
        conf["spark.driver.extraJavaOptions"] = " ".join(
            filter(None, (conf.get("spark.driver.extraJavaOptions"), EXPORT_JIT_COUNTER)))
        if args.cache_entries:
            conf[CACHE_CONF] = str(args.cache_entries)
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
        flags = " ".join(
            f"{name}={vm_option(spark, name)}"
            for name in (o[4:].split("=")[0] for o in plans.DRIVER_JAVA_OPTIONS if o.startswith("-XX:"))
        )
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(f"codegen census {args.workload} seed={args.seed} nproc={cores} "
          f"mem_total_mb={host['mem_total_mb']} codegen.cache.maxEntries={conf} "
          f"{flags}")
    counts = ("compiles", "jobs") + JIT
    cols = ("cpu_s",) + SPLIT + THREADS
    print(f"  {'phase':<8} {'op':<24}" + "".join(f" {c:>8}" for c in counts + cols))

    def line(phase, op, rows):
        print(f"  {phase:<8} {op:<24}" + "".join(f" {sum(r[c] for r in rows):>8}" for c in counts)
              + "".join(f" {sum(r[c] for r in rows):>8.2f}" for c in cols))

    for row in census.rows:
        line(row["phase"], row["op"], [row])
    for phase in dict.fromkeys(row["phase"] for row in census.rows):
        line(phase, "(total)", [row for row in census.rows if row["phase"] == phase])
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cache_max_entries": conf,
                      "jvm_flags": flags, "rows": census.rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
