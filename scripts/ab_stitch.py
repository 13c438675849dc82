"""Probe-gated interleaved A/B of the polygonize strategies (r5,
VERDICT r4 items 2/3/7): tiled vs the chain stitch (distributed vs
fused assembly, and the auto pick) on the calibration workloads the
auto assembly rule must rank correctly — lattice grids (100/400, optionally
800 via --grid800), random coarse linework, and the sparse 60k-segment
probe from BENCH.md.

Waits for a healthy host window (same bandwidth probe as bench.py),
interleaves rounds so host drift hits every variant equally, and prints
one JSON line with per-variant min walls plus the probes bracketing the
measurement.

Usage: python scripts/ab_stitch.py [--rounds N] [--grid800] [--no-wait]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def probe() -> float:
    x = np.random.rand(50_000_000)
    t0 = time.time()
    for _ in range(3):
        np.sqrt(x * 1.000001 + 3)
    return round((time.time() - t0) / 3, 3)


def wait_healthy(limit=0.7, max_wait=900) -> float:
    p = probe()
    deadline = time.time() + max_wait
    while p > limit and time.time() < deadline:
        print(f"ab: probe {p} > {limit}, waiting 60s", file=sys.stderr, flush=True)
        time.sleep(60)
        p = probe()
    return p


def main() -> None:
    rounds = 3
    grid800 = "--grid800" in sys.argv
    no_wait = "--no-wait" in sys.argv
    for i, a in enumerate(sys.argv):
        if a == "--rounds":
            rounds = int(sys.argv[i + 1])

    p0 = probe() if no_wait else wait_healthy()

    from geo_polygonize_spark.operators.chain_stitch import chain_stitched_polygonize
    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize
    from geo_polygonize_spark.operators.stitch import stitched_polygonize
    from geo_polygonize_spark.plans import build_session
    from geo_polygonize_spark.sources.fixtures import grid_lines, random_lines

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session("ab_stitch", cores=cpus, shuffle_partitions=max(cpus, 8))

    def lines_df(xs, ys):
        return spark.createDataFrame(
            [(i, [float(v) for v in x], [float(v) for v in y], "ab")
             for i, (x, y) in enumerate(zip(xs, ys))],
            "line_id long, xs array<double>, ys array<double>, dataset string",
        )

    # sparse probe linework (BENCH.md §shuffle-volume): 60k random 5-25
    # length segments in [0,1000]² — read from parquet like production
    rng = np.random.default_rng(7)
    nl = 60_000
    pts = rng.uniform(0, 1000.0, size=(nl, 2))
    ang = rng.uniform(0, 2 * np.pi, nl)
    ln = rng.uniform(5, 25, nl)
    sparse_path = "/tmp/ab_sparse_60k.parquet"
    if not os.path.exists(sparse_path):
        spark.createDataFrame(
            [(i, [float(pts[i, 0]), float(pts[i, 0] + ln[i] * np.cos(ang[i]))],
              [float(pts[i, 1]), float(pts[i, 1] + ln[i] * np.sin(ang[i]))], "r")
             for i in range(nl)],
            "line_id long, xs array<double>, ys array<double>, dataset string",
        ).write.mode("overwrite").parquet(sparse_path)
    sparse = spark.read.parquet(sparse_path)
    sparse_bb = (0.0, 0.0, 1000.0, 1000.0)

    g1 = lines_df(*grid_lines(100))
    g4 = lines_df(*grid_lines(400))
    r2 = lines_df(*random_lines(200))
    bb1 = (0.0, 0.0, 100.0, 100.0)
    bb4 = (0.0, 0.0, 400.0, 400.0)

    jobs: dict[str, tuple] = {}

    def add(work, name, fn, expect=None):
        jobs[f"{work}:{name}"] = (fn, expect)

    add("grid100", "tiled", lambda: tiled_polygonize(
        g1, tile_size=25.0, buffer=1.5, bbox=bb1, drop_collapsed=True).count(), 10000)
    add("grid100", "chain_fused", lambda: chain_stitched_polygonize(
        g1, tile_size=25.0, buffer=1.5, bbox=bb1, drop_collapsed=True,
        assembly="fused").count(), 10000)
    add("grid400", "tiled", lambda: tiled_polygonize(
        g4, tile_size=50.0, buffer=1.5, bbox=bb4, drop_collapsed=True).count(), 160000)
    add("grid400", "chain_dist", lambda: chain_stitched_polygonize(
        g4, tile_size=50.0, buffer=1.5, bbox=bb4, drop_collapsed=True,
        assembly="distributed").count(), 160000)
    add("grid400", "chain_fused", lambda: chain_stitched_polygonize(
        g4, tile_size=50.0, buffer=1.5, bbox=bb4, drop_collapsed=True,
        assembly="fused").count(), 160000)
    add("random200", "tiled", lambda: tiled_polygonize(
        r2, tile_size=50.0, buffer=10.0, bbox=bb1, drop_collapsed=True).count())
    add("sparse60k", "tiled", lambda: tiled_polygonize(
        sparse, tile_size=100.0, buffer=30.0, bbox=sparse_bb, drop_collapsed=True).count())
    add("sparse60k", "chain_fused", lambda: chain_stitched_polygonize(
        sparse, tile_size=100.0, buffer=30.0, bbox=sparse_bb, drop_collapsed=True,
        assembly="fused").count())
    add("grid100", "auto", lambda: stitched_polygonize(
        g1, tile_size=25.0, buffer=1.5, bbox=bb1, drop_collapsed=True).count(), 10000)
    add("grid400", "auto", lambda: stitched_polygonize(
        g4, tile_size=50.0, buffer=1.5, bbox=bb4, drop_collapsed=True).count(), 160000)
    add("random200", "auto", lambda: stitched_polygonize(
        r2, tile_size=50.0, buffer=10.0, bbox=bb1, drop_collapsed=True).count())
    add("sparse60k", "auto", lambda: stitched_polygonize(
        sparse, tile_size=100.0, buffer=30.0, bbox=sparse_bb, drop_collapsed=True).count())
    if grid800:
        g8 = lines_df(*grid_lines(800))
        bb8 = (0.0, 0.0, 800.0, 800.0)
        add("grid800", "tiled", lambda: tiled_polygonize(
            g8, tile_size=100.0, buffer=1.5, bbox=bb8, drop_collapsed=True).count(), 640000)
        add("grid800", "chain_fused", lambda: chain_stitched_polygonize(
            g8, tile_size=100.0, buffer=1.5, bbox=bb8, drop_collapsed=True,
            assembly="fused").count(), 640000)

    # warm every path (codegen + python workers), verify counts
    counts = {}
    for name, (fn, expect) in jobs.items():
        c = fn()
        counts[name] = c
        if expect is not None:
            assert c == expect, f"{name}: {c} != {expect}"

    results: dict[str, list] = {n: [] for n in jobs}
    probes = [p0]
    for _ in range(rounds):
        probes.append(probe())
        for name, (fn, _) in jobs.items():
            t0 = time.time()
            fn()
            results[name].append(round(time.time() - t0, 3))
    probes.append(probe())

    out = {
        "rounds": rounds,
        "cpus": cpus,
        "probes": probes,
        "counts": counts,
        "walls": results,
        "min": {n: min(v) for n, v in results.items()},
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
