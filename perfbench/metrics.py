"""Names and units of the metrics a run reports. BENCHMARK.json lists the
same names; ``perfbench/tests`` checks that the two agree."""

# printed with --trace 0: one value per run, on every workload
END_TO_END = {
    "setup_s": "s",  # CPU: median session + inputs build of 3, plus the warm-up round
    "round_cpu_s": "s",  # median CPU seconds of the process tree for one round
    "round_jobs": "count",  # Spark jobs submitted per round
    "peak_rss_mb": "MB",  # peak resident memory of the whole process tree
}

# printed with --trace 1
PER_LAYER = {
    "plans.build_session_s": "s",
    "sources.inputs_s": "s",
    "setup.warmup_s": "s",
    "kernels.noding.node_segments_s": "s",
    "kernels.noding.segments_out_per_in": "ratio",
    "kernels.graph.build_sort_prune_s": "s",
    "kernels.graph.edge_rings_s": "s",
    "kernels.graph.rings": "count",
    "kernels.rings.assemble_polygons_s": "s",
    "kernels.rings.polygons": "count",
    "kernels.polygonize.single_group_s": "s",
    "kernels.coverage.index_build_s": "s",
    "kernels.coverage.query_probes_per_s": "1/s",
    "kernels.coverage.found_share": "share",
    "operators.round_s": "s",  # wall of the traced round
    "operators.round_cpu_s": "s",  # CPU of the traced round
    # Spark's own task metrics for the operations of one round
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_over_run": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.busy_share": "share",
    "spark.task_skew": "ratio",
    "spark.gc_s": "s",  # summed over every task of the run's last session
}
