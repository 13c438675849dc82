"""Benchmark harness — prints ONE JSON line for the driver.

Headline metric: images/sec through the flagship polygonize +
spatial-join (PIP + kNN) + raster-tile pipeline over a synthesized
image+caption table sized to the scale factor (BASELINE.json metric).
Also times the reference bench workloads (grid/random polygonize,
BENCHMARKS.md) and a few oracle-checked operator analogs on the
TPC-H-ish tables.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the cores this process may run on).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _host_probe_once() -> float:
    """One pass of the memory-bandwidth calibration probe (s/pass;
    ~0.3 healthy steady-state on this box, >1 contended).

    r5 find: the FIRST timed pass in a fresh process was dominated by
    page faults + kernel zeroing of the 400 MB output allocation
    (3.72 s vs 0.27 s for the next probe in the same process) — every
    fresh-process gate reading of the r5 session carried that bias.
    One untimed warmup pass removes it; later passes reuse the freed
    malloc arena, which is also how Spark's own buffers behave."""
    import numpy as _np
    import time as _time

    _x = _np.random.rand(50_000_000)
    _np.sqrt(_x * 1.000001 + 3)  # untimed: page-fault warmup
    _t0 = _time.time()
    for _ in range(3):
        _np.sqrt(_x * 1.000001 + 3)
    return round((_time.time() - _t0) / 3, 3)


def _probe_gate() -> tuple[float, list[float], bool]:
    """r4 (VERDICT r3 #1): don't record bench numbers on a throttled
    host if waiting a bit buys a healthy window. Re-probe every 60 s
    until the probe drops under SPARK_GRAFT_PROBE_MAX (default 0.7
    s/pass) or SPARK_GRAFT_PROBE_WAIT_SEC (default 600 — bounded so a
    harness-side timeout can never swallow the whole run) elapses; if
    the deadline passes, run anyway but mark host_throttled so the
    JSON is self-describing. Set SPARK_GRAFT_PROBE_WAIT_SEC=0 to skip
    waiting (iterating locally)."""
    import time as _time

    limit = float(os.environ.get("SPARK_GRAFT_PROBE_MAX", "0.7"))
    wait = float(os.environ.get("SPARK_GRAFT_PROBE_WAIT_SEC", "600"))
    history = [_host_probe_once()]
    deadline = _time.time() + wait
    while history[-1] > limit and _time.time() < deadline:
        print(
            f"bench: host probe {history[-1]:.3f} s/pass > {limit} "
            "(bandwidth-throttled) - waiting 60s for a healthy window",
            file=sys.stderr,
            flush=True,
        )
        _time.sleep(60)
        history.append(_host_probe_once())
    return history[-1], history, history[-1] > limit


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:")) // 1024


_RUNS_LOG = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_runs.jsonl"
)


def _consolidate(result: dict) -> dict:
    """r5 (VERDICT r4 #1): min-over-runs with per-query probe context,
    emitted by bench.py itself instead of hand-built after the fact.
    Every run appends its full result to bench_runs.jsonl; each emitted
    JSON carries the best wall per query across all logged runs at the
    same (sf, cpus, MemTotal) — the host key, so rows of a different
    machine never merge (rows logged before the key carried MemTotal
    match nothing) — stamped with the probe value CLOSEST IN TIME to
    that query in the run that achieved it — so a fast number recorded
    in a throttled session and a slow number from a healthy one are
    distinguishable at a glance."""
    runs = [result]
    if os.path.exists(_RUNS_LOG):
        with open(_RUNS_LOG) as fh:
            for line in fh:
                try:
                    r = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if all(r.get(k) == result[k] for k in ("sf", "cpus", "mem_total_mb")):
                    runs.append(r)
    best: dict[str, dict] = {}
    for r in runs:
        for q, v in r.get("queries", {}).items():
            p = r.get("probe_at_query", {}).get(q, r.get("host_bandwidth_probe_sec"))
            if q not in best or v < best[q]["sec"]:
                best[q] = {"sec": v, "probe_at_query": p}
    return {"n_runs": len(runs), "best_of_runs": best}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])

    host_probe, probe_history, host_throttled = _probe_gate()

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from geo_polygonize_spark.engine import image_pipeline
    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize
    from geo_polygonize_spark.plans import build_session
    from geo_polygonize_spark.sources.fixtures import grid_lines, random_lines
    from geo_polygonize_spark.sources.images import synth_images

    spark = build_session("bench", cores=cpus, shuffle_partitions=max(cpus, 8))

    def lines_df(xs, ys):
        return spark.createDataFrame(
            [
                (i, [float(v) for v in x], [float(v) for v in y], "bench")
                for i, (x, y) in enumerate(zip(xs, ys))
            ],
            "line_id long, xs array<double>, ys array<double>, dataset string",
        )

    timings: dict[str, float] = {}
    probe_at_query: dict[str, float] = {}
    steal_at_query: dict[str, float] = {}
    current_probe = {"v": host_probe}

    def _cpu_ticks() -> tuple[int, int]:
        """(steal, total) jiffies from /proc/stat. This box is a
        Firecracker guest; the hypervisor steals CPU episodically
        (historical steal ≈ 2.4e5 ticks) and a single-thread bandwidth
        probe can land BETWEEN steal bursts — bench r5 recorded
        pip_cells at 25.3 s with a healthy 0.26 probe next to it.
        Stamping the steal share over each query's own interval
        attributes slow walls to the host decisively."""
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(v) for v in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)

    def begin_group(name: str) -> None:
        """Section boundary (r5, VERDICT r4 #1 and #5): re-probe host
        bandwidth so each query is stamped with a probe value measured
        NEAR it (the single start-of-run gate demonstrably certifies
        only the start — BENCH_r04.json passed healthy at 0.326 yet ran
        2× slower than throttled-probe sessions of identical code), and
        clear session state (cached blocks + unreferenced shuffle files
        via GC) so late heavy queries aren't taxed by the accumulated
        debris of earlier sections (the reproducible ~2× full-bench
        minhash overhead)."""
        import gc as _gc

        spark.catalog.clearCache()
        _gc.collect()  # drop py4j refs so ContextCleaner can see them
        spark._jvm.System.gc()  # ContextCleaner removes dead shuffles
        current_probe["v"] = _host_probe_once()
        probe_history.append(current_probe["v"])
        print(f"bench: section {name}: probe {current_probe['v']:.3f} s/pass",
              file=sys.stderr, flush=True)

    def timed(name, fn, repeat: int = 2, cold: bool = False):
        """min of ``repeat`` runs — comparable to the reference's
        criterion MEDIANS (rust_bench_output.txt samples each workload
        10×); a single cold run would mostly measure whole-stage
        codegen compilation of a first-seen plan, not the engine.

        ``cold`` (r5): clearCache before EVERY run. Spark's
        CacheManager matches persisted frames by logical plan, so a
        repeat of a query whose implementation persists intermediates
        (every polygonize engine) otherwise reads those intermediates
        from cache and times cache reads, not the engine — r4's
        stitched walls did exactly that. Codegen still warms on the
        first run; only the data cache is dropped."""
        best = None
        out = None
        worst_steal = 0.0
        for _ in range(repeat):
            if cold:
                spark.catalog.clearCache()
            s0, tt0 = _cpu_ticks()
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            s1, tt1 = _cpu_ticks()
            steal_pct = round(100.0 * (s1 - s0) / max(tt1 - tt0, 1), 2)
            worst_steal = max(worst_steal, steal_pct)
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 4)
        probe_at_query[name] = current_probe["v"]
        steal_at_query[name] = worst_steal
        return out

    # ---- setup (not timed in the metric): image table on parquet ----
    n_images = max(int(1_000_000 * sf), 2_000)
    img_path = f"/tmp/bench_images_sf{sf}.parquet"
    if not os.path.exists(img_path):
        synth_images(spark, n_images, partitions=max(cpus, 8)).write.mode("overwrite").parquet(
            img_path
        )
    images = spark.read.parquet(img_path)

    # warmup: spin up codegen + python workers across all partitions so
    # timed numbers aren't cold-start-skewed (workers import pandas
    # lazily per process)
    from pyspark.sql import functions as _F

    _warm = spark.range(0, cpus * 20000, numPartitions=max(cpus * 2, 16)).select(
        _F.format_string("img_%012d", "id").alias("image_id"),
        _F.lit("c").alias("caption"),
        _F.xxhash64("id").alias("phash"),
        _F.lit("png").alias("fmt"),
        _F.lit(32).alias("w"),
        _F.lit(32).alias("h"),
    )
    _wl, _wly = grid_lines(10)
    image_pipeline(
        spark, _warm, lines_df(_wl, _wly), (0.0, 0.0, 10.0, 10.0), tile_size=5.0, buffer=1.5
    ).count()

    # ---- reference workloads (grid / random polygonize) -------------
    begin_group("polygonize")
    gn = 100
    gx, gy = grid_lines(gn)
    grid_df = lines_df(gx, gy)
    c = timed(
        "tiled_polygonize_grid100",
        lambda: tiled_polygonize(
            grid_df,
            tile_size=25.0,
            buffer=1.5,
            bbox=(0.0, 0.0, float(gn), float(gn)),
            drop_collapsed=True,
        ).count(),
        cold=True,
    )
    assert c == gn * gn, f"grid100 produced {c}"

    rx, ry = random_lines(200)
    rnd_df = lines_df(rx, ry)
    timed(
        "polygonize_random200",
        lambda: tiled_polygonize(
            rnd_df, tile_size=50.0, buffer=10.0, bbox=(0.0, 0.0, 100.0, 100.0), drop_collapsed=True
        ).count(),
        cold=True,
    )

    # grid 400 (160k cells, 321k vertices): large enough that kernel
    # time dominates stage scheduling — the honest wall-vs-baseline
    # scale point (VERDICT r01 asked for a size where kernel ≥ 80%)
    g4 = 400
    g4x, g4y = grid_lines(g4)
    grid4_df = lines_df(g4x, g4y)
    c4 = timed(
        "tiled_polygonize_grid400",
        lambda: tiled_polygonize(
            grid4_df,
            tile_size=50.0,
            buffer=1.5,
            bbox=(0.0, 0.0, float(g4), float(g4)),
            drop_collapsed=True,
        ).count(),
        cold=True,
    )
    assert c4 == g4 * g4, f"grid400 produced {c4}"
    # exact stitch (the chain engine behind stitched_polygonize): one
    # trace pass; only boundary chains shuffle
    from geo_polygonize_spark.operators.chain_stitch import chain_stitched_polygonize

    timed(
        "chain_stitched_grid100",
        lambda: chain_stitched_polygonize(
            grid_df, tile_size=25.0, buffer=1.5, bbox=(0.0, 0.0, float(gn), float(gn)), drop_collapsed=True
        ).count(),
        cold=True,
    )
    timed(
        "chain_stitched_grid400",
        lambda: chain_stitched_polygonize(
            grid4_df,
            tile_size=50.0,
            buffer=1.5,
            bbox=(0.0, 0.0, float(g4), float(g4)),
            drop_collapsed=True,
        ).count(),
        cold=True,
    )

    # ---- flagship: images/sec through the full pipeline -------------
    begin_group("image_pipeline")
    n = 50
    lx, ly = grid_lines(n)
    cover_df = lines_df(lx, ly)
    bbox = (0.0, 0.0, float(n), float(n))

    def run_pipeline():
        out = image_pipeline(
            spark, images, cover_df, bbox, tile_size=10.0, buffer=1.5
        )
        return out.count()

    n_out = timed("image_pipeline", run_pipeline)
    images_per_sec = n_images / timings["image_pipeline"]

    # ---- operator analogs on the TPC-H-ish tables --------------------
    begin_group("operator_analogs")
    qs = entrymod.queries()
    for name in ("p3_p7_dedup_distinct", "o4_j2_argmin_parent", "j2_pip_rect", "o1_morton_cell"):
        timed(name, lambda name=name: qs[name](spark, sf_dir).count())

    # ---- training-data dedup at corpus scale -------------------------
    # 100k synthetic docs (40 tokens from a 5k vocab, ~330 chars) +
    # 10k ' zz' near-dup twins → shingle → minhash → narrow band join →
    # Jaccard verify → connected-components keepers, end to end
    from geo_polygonize_spark.operators.dedup import minhash_dedup_keepers

    begin_group("dedup")
    n_docs = 30_000
    # hex tokens: the char-5-gram space is huge, so unrelated docs have
    # near-zero Jaccard (a shared-prefix vocab like "tokNNN" collapses
    # the shingle space and floods the band join with real candidates —
    # that's a worst case, not a throughput benchmark)
    toks = [F.hex(F.xxhash64(F.col("id"), F.lit(j))) for j in range(20)]
    corpus_path = f"/tmp/bench_docs_hex_{n_docs}.parquet"
    if not os.path.exists(corpus_path):
        base = spark.range(n_docs).select(
            F.col("id").alias("doc_id"), F.concat_ws(" ", *toks).alias("text")
        )
        dups = base.where("doc_id % 10 = 0").select(
            (F.col("doc_id") + n_docs).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
        base.unionByName(dups).repartition(max(cpus, 8)).write.mode("overwrite").parquet(
            corpus_path
        )
    corpus = spark.read.parquet(corpus_path)
    n_corpus = corpus.count()

    # r5 (VERDICT r4 #5 root cause): the "full-bench minhash overhead"
    # was COLD-START, not accumulated session state — the first
    # execution of the dedup DAG (shingle UDFs + ~25 CC rounds) pays
    # python-worker spin-up, codegen, and broadcast warmup once
    # (measured: cold 70.9 s ≈ full-bench 71.9 s, warm 21.5 s, same
    # session, same probe). Warm the identical DAG shape on a 2k-doc
    # slice (~2 s) so the timed run measures the engine.
    minhash_dedup_keepers(
        corpus.where("doc_id % 16 = 1"), jaccard_threshold=0.8
    ).where("doc_id <> keeper").count()

    def dedup_job():
        return minhash_dedup_keepers(corpus, jaccard_threshold=0.8).where(
            "doc_id <> keeper"
        ).count()

    n_dupes = timed("minhash_keepers_33k", dedup_job, repeat=1)
    assert n_dupes >= n_docs // 10, f"dedup found only {n_dupes} dupes"
    docs_per_sec = round(n_corpus / timings["minhash_keepers_33k"], 1)

    # ---- advertised scale paths, measured at scale -------------------
    # cells-strategy PIP + exact cell-join kNN over 1M points × a
    # 40k-polygon coverage (too big to want a broadcast index) — the
    # paths a 1000-executor run takes; r2 benched only the broadcast
    # flagship (VERDICT r2 #7)
    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize as _tp
    from geo_polygonize_spark.operators.spatial_join import knn_join_cells, pip_join

    begin_group("scale_paths")
    gscale = 200  # 40k unit cells
    sx, sy = grid_lines(gscale)
    cover = _tp(
        lines_df(sx, sy),
        tile_size=25.0,
        buffer=1.5,
        bbox=(0.0, 0.0, float(gscale), float(gscale)),
        drop_collapsed=True,
    ).persist()
    assert cover.count() == gscale * gscale
    n_pts = 1_000_000
    pts = (
        spark.range(n_pts)
        .select(
            F.col("id").alias("image_id"),
            (F.pmod(F.xxhash64("id"), 2_000_000) / 10000.0).alias("x"),
            (F.pmod(F.xxhash64("id", F.lit(1)), 2_000_000) / 10000.0).alias("y"),
        )
        .persist()
    )
    pts.count()

    timed(
        "pip_join_cells_1m_x_40k",
        lambda: pip_join(
            pts, cover, x0=0.0, y0=0.0, cell_size=2.0, point_id="image_id"
        ).count(),
        repeat=1,
    )
    cents = cover.select(
        F.col("poly_id").alias("centroid_id"), F.col("cx").alias("cx"), F.col("cy").alias("cy")
    )
    timed(
        "knn_cells_1m_x_40k",
        lambda: knn_join_cells(pts, cents, k=2, point_id="image_id").count(),
        repeat=1,
    )
    cover.unpersist()
    pts.unpersist()

    result = {
        "metric": "images_per_sec_pipeline",
        "value": round(images_per_sec, 2),
        "unit": "images/sec",
        "queries": timings,
        "probe_at_query": probe_at_query,
        # hypervisor steal share (%) over each query's worst repeat —
        # a healthy bandwidth probe does NOT rule out CPU steal
        "steal_at_query": steal_at_query,
        "sf": sf,
        "cpus": cpus,
        "mem_total_mb": _mem_total_mb(),
        "n_images": n_images,
        "n_pipeline_rows": n_out,
        "dedup_docs_per_sec": docs_per_sec,
        "host_bandwidth_probe_sec": host_probe,
        # the headline's OWN probe context (VERDICT r4 #1): the probe
        # measured at the image_pipeline section boundary, not at run
        # start — this is the number the headline should be read against
        "headline_probe_sec": probe_at_query.get("image_pipeline", host_probe),
        "host_probe_history_sec": probe_history,
        "host_throttled": host_throttled,
        "recorded_at": int(time.time()),
    }
    # log the run, then emit the JSON line with the cross-run best-of
    # consolidation attached (computed over all logged runs + this one)
    result["consolidated"] = _consolidate(result)
    try:
        with open(_RUNS_LOG, "a") as fh:
            fh.write(json.dumps({k: v for k, v in result.items() if k != "consolidated"}) + "\n")
    except OSError:
        pass  # read-only checkout: still emit the line
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
