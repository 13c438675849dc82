"""One benchmark run in one driver process (started by ``run.py``).

Sets up the workload several times (session, inputs, warm-up calls),
checks reference outputs once, then runs closed-loop rounds: every
operation of the workload once, each submitted only after the previous
one returned, for about ``--seconds`` (at least one round). With ``--trace 1`` it
also attributes Spark jobs to the spans, reads task metrics from the
event log and times the kernels single-threaded. The result goes to
``--result`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
import traceback
import uuid

from perfbench import stats
from perfbench.rss import tree_cpu_s
from perfbench.trace import Tracer, parse_event_log, spark_metrics
from perfbench.workloads import WORKLOADS

SETUP_REPS = 3
MIN_ROUNDS = 1

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_mb", "shuffle_read_mb",
)


def session(work_dir: str, cores: int, trace: bool):
    from geo_polygonize_spark.plans import build_session

    # The heap is committed and touched up front (-Xms = the -Xmx that
    # SPARK_DRIVER_MEM sets): left adaptive, G1's heap growth alone moved
    # the tree's peak RSS by about 10% between identical runs.
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dio.netty.tryReflectionSetAccessible=true -Xms{heap} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain file per app
        })
    return build_session("perfbench", cores=cores, extra_conf=conf)


def run_round(ops, tracer: Tracer, sc, name: str, calls: dict, failures: list, warm: bool = False):
    """Every operation once, each submitted after the previous returned.
    Each operation's span and the round's carry, as ``cpu_s``, the CPU
    seconds the whole process tree (driver, JVM, Python workers) used."""
    me = os.getpid()
    with tracer.span(name) as rnd:
        round_cpu = tree_cpu_s(me)
        for op in ops:
            cpu = tree_cpu_s(me)
            with tracer.span(op.span, sc) as sp:
                try:
                    n = (op.warm if warm and op.warm else op.call)()
                    ok = bool(op.check(n))
                except Exception:  # a failed call counts; the loop goes on
                    n, ok = None, False
                    failures.append(f"{op.metric}: {traceback.format_exc(limit=3)}")
            sp.attrs.update(rows=n, ok=ok, cpu_s=tree_cpu_s(me) - cpu)
            if not ok and n is not None:
                failures.append(f"{op.metric}: wrong result {n}")
            calls[op.metric].append(sp)
        rnd.attrs["cpu_s"] = tree_cpu_s(me) - round_cpu
    return rnd


def kernel_layer(wl, spark, tracer: Tracer, cores: int) -> dict:
    from perfbench.kernel_layer import time_coverage, time_polygonize

    xs, ys = wl.kernel_lines()
    with tracer.span("kernels.polygonize"):
        k = time_polygonize(xs, ys, node_input=True, drop_collapsed=True)
    px, py = wl.kernel_probes(spark)
    with tracer.span("kernels.coverage"):
        c = time_coverage(k.pop("ring_xs"), k.pop("ring_ys"), px, py, True, use_f32=cores >= 16)
    return {
        "kernels.noding.node_segments_s": k["node_segments_s"],
        "kernels.noding.segments_out_per_in": k["segments_out_per_in"],
        "kernels.graph.build_sort_prune_s": k["build_sort_prune_s"],
        "kernels.graph.edge_rings_s": k["edge_rings_s"],
        "kernels.graph.rings": k["rings"],
        "kernels.rings.assemble_polygons_s": k["assemble_polygons_s"],
        "kernels.rings.polygons": k["polygons"],
        "kernels.polygonize.single_group_s": k["single_group_s"],
        "kernels.coverage.index_build_s": c["index_build_s"],
        "kernels.coverage.query_probes_per_s": c["query_probes_per_s"],
        "kernels.coverage.found_share": c["found_share"],
    }


def spark_layer(log_path: str, calls: dict, ops, n_rounds: int, cores: int, single_s: float):
    """(per-layer totals per round, per-operation detail) from the event log."""
    with open(log_path) as fh:
        jobs, stages = parse_event_log(fh)
    per_call = {op.metric: [] for op in ops}
    for op in ops:
        for sp in calls[op.metric]:
            per_call[op.metric].append(
                spark_metrics(sp.attrs.get("job_ids", []), jobs, stages, sp.duration, cores)
            )
    flat = [m for ms in per_call.values() for m in ms]
    totals = {f: sum(m[f] for m in flat) for f in SPARK_FIELDS}
    wall = sum(m["wall_s"] for m in flat)
    layer = {f"spark.{f}": totals[f] / n_rounds for f in SPARK_FIELDS if f != "gc_s"}
    layer["spark.gc_s"] = sum(s.gc_s for s in stages.values())
    layer["spark.busy_share"] = totals["executor_run_s"] / (wall * cores)
    layer["spark.cpu_over_run"] = (
        totals["executor_cpu_s"] / totals["executor_run_s"] if totals["executor_run_s"] else 0.0
    )
    layer["spark.task_skew"] = statistics.median(m["task_skew"] for m in flat)
    detail = {}
    for op in ops:
        ms = per_call[op.metric]
        for f in ("wall_s", *SPARK_FIELDS, "busy_share", "task_skew"):
            detail[f"{op.span}.{f}"] = statistics.median(m[f] for m in ms)
        if op.span.startswith(("operators.chain_stitch", "operators.polygonize_op")):
            detail[f"{op.span}.spark_over_kernel"] = detail[f"{op.span}.wall_s"] / single_s
    return layer, detail


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-file", default="")
    args = ap.parse_args()
    traced = bool(args.trace)
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id, enabled=traced)
    wl = WORKLOADS[args.workload](args.seed, args.cores, args.work_dir)

    spark = None
    reps, rep_cpus = [], []
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        cpu = tree_cpu_s(os.getpid())
        with tracer.span("setup", rep=rep) as sp:
            with tracer.span("plans.build_session"):
                spark = session(args.work_dir, args.cores, traced)
            with tracer.span("sources.inputs"):
                wl.make_inputs(spark, tracer)
        reps.append(sp.duration)
        rep_cpus.append(tree_cpu_s(os.getpid()) - cpu)
    sc = spark.sparkContext
    app_id = sc.applicationId

    failures = []
    with tracer.span("reference"):
        wl.reference(spark, tracer)
    ops = wl.ops(spark)
    warm_calls = {op.metric: [] for op in ops}
    warm = run_round(ops, tracer, sc, "warmup", warm_calls, failures, warm=True)
    wl.after_round()
    calls = {op.metric: [] for op in ops}
    rounds = []
    # every job of the timed rounds runs in one job group (a traced run's
    # spans put their jobs in groups of their own)
    timed_group = f"{run_id}-timed"
    sc.setJobGroup(timed_group, "perfbench timed rounds")
    # a round starts only if, at the last round's wall, it ends by the
    # deadline: rounds keep getting cheaper in CPU for a while after the
    # warm-up, so a round that started just because the host ran fast
    # would lower the median by itself
    deadline = time.perf_counter() + args.seconds
    while len(rounds) < MIN_ROUNDS or time.perf_counter() + rounds[-1].duration <= deadline:
        rounds.append(run_round(ops, tracer, sc, "round", calls, failures))
        wl.after_round()
    timed_jobs = len(sc.statusTracker().getJobIdsForGroup(timed_group)) + sum(
        len(sp.attrs.get("job_ids", ())) for sps in calls.values() for sp in sps
    )
    sc.setLocalProperty("spark.jobGroup.id", None)
    checks = wl.final_checks()
    failures += [f"{name}: {detail}" for name, ok, detail in checks if not ok]

    layer, detail = {}, {}
    if traced:
        layer.update(kernel_layer(wl, spark, tracer, args.cores))
        detail.update(wl.trace_detail(spark, tracer))
    spark.stop()

    op_medians = {m: statistics.median(sp.duration for sp in sps) for m, sps in calls.items()}
    round_s = statistics.median(r.duration for r in rounds)
    round_cpu_s = statistics.median(r.attrs["cpu_s"] for r in rounds)
    ops_out = {}
    for op in ops:
        times = [sp.duration for sp in calls[op.metric]]
        ops_out[op.metric] = {
            "times_s": times, "summary": stats.summarize(times),
            "cpu_s": stats.summarize([sp.attrs["cpu_s"] for sp in calls[op.metric]]),
            "warmup_s": warm_calls[op.metric][0].duration,
            "items": op.items, "item_unit": op.item_unit,
        }
    all_calls = [sp for v in (warm_calls, calls) for sps in v.values() for sp in sps]
    attempted = len(all_calls) + len(checks)
    failed = sum(1 for sp in all_calls if not sp.attrs["ok"]) + sum(1 for c in checks if not c[1])

    # set-up = the median of the repeated session + inputs builds, plus
    # the one warm-up round that pays each operation's first-call cost;
    # in CPU seconds of the process tree, like round_cpu_s, and in wall
    # seconds for the report
    setup_s = statistics.median(rep_cpus) + warm.attrs["cpu_s"]
    setup_wall_s = statistics.median(reps) + warm.duration
    phases = {
        "plans.build_session_s": statistics.median(s.duration for s in tracer.named("plans.build_session")),
        "sources.inputs_s": statistics.median(s.duration for s in tracer.named("sources.inputs")),
        "setup.warmup_s": warm.duration,
    }
    if traced:
        single_s = layer["kernels.polygonize.single_group_s"]
        log_path = os.path.join(args.work_dir, "eventlog", app_id)
        spark_l, spark_d = spark_layer(log_path, calls, ops, len(rounds), args.cores, single_s)
        layer.update(spark_l)
        layer.update(phases)
        layer["operators.round_s"] = round_s
        layer["operators.round_cpu_s"] = round_cpu_s
        detail.update(spark_d)
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run_id": run_id,
        "setup_reps_s": reps,
        "setup_reps_cpu_s": rep_cpus,
        "warmup_cpu_s": warm.attrs["cpu_s"],
        "setup_phases": phases,
        "rounds_s": [r.duration for r in rounds],
        "rounds_cpu_s": [r.attrs["cpu_s"] for r in rounds],
        "ops": ops_out,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "failures": failures,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": setup_s,
            "round_cpu_s": round_cpu_s,
            "round_jobs": timed_jobs / len(rounds),
        },
        # wall times: printed in the report, not BENCHMARK.json metrics
        "wall": {
            "setup_s": setup_wall_s, "warmup_s": warm.duration,
            "round_s": round_s, "op_geomean_s": stats.geomean(list(op_medians.values())),
        },
        "per_layer": layer,
        "detail": detail,
    }
    if traced and args.trace_file:
        tracer.write_jsonl(args.trace_file)
        with open(args.trace_file, "a") as fh:
            fh.write(json.dumps({"run_id": run_id, "layer_metrics": {**layer, **detail}}) + "\n")
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
