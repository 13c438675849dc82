"""COLD-plan engine A/B (r5): tiled vs the chain stitch (explicit and
through strategy="auto") on the calibration workloads, with
spark.catalog.clearCache() before every run.

Why: Spark's CacheManager matches persisted frames by LOGICAL PLAN, so
re-running an identical polygonize call in one session reads every
persisted intermediate (chain trace, rings) from cache —
interleaved warm rounds measured cache reads, not the engines. A
production coverage build is one-shot; cold is the honest number. Both
are reported in BENCH.md, labeled.

Usage: python scripts/cold_ab.py [--rounds N] [--out FILE]
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
    np.sqrt(x * 1.000001 + 3)  # untimed: page-fault warmup (r5 find)
    t0 = time.time()
    for _ in range(3):
        np.sqrt(x * 1.000001 + 3)
    return round((time.time() - t0) / 3, 3)


def main() -> None:
    rounds = 2
    out_path = "cold_ab.json"
    for i, a in enumerate(sys.argv):
        if a == "--rounds":
            rounds = int(sys.argv[i + 1])
        if a == "--out":
            out_path = sys.argv[i + 1]

    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize
    from geo_polygonize_spark.operators.stitch import stitched_polygonize
    from geo_polygonize_spark.plans import build_session
    from geo_polygonize_spark.sources.fixtures import grid_lines

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session("cold_ab", cores=cpus, shuffle_partitions=max(cpus, 8))

    def lines_df(xs, ys):
        return spark.createDataFrame(
            [
                (i, [float(v) for v in x], [float(v) for v in y], "ab")
                for i, (x, y) in enumerate(zip(xs, ys))
            ],
            "line_id long, xs array<double>, ys array<double>, dataset string",
        )

    rng = np.random.default_rng(7)
    nl = 60_000
    pts = rng.uniform(0, 1000.0, size=(nl, 2))
    ang = rng.uniform(0, 2 * np.pi, nl)
    ln = rng.uniform(5, 25, nl)
    sparse_path = "/tmp/ab_sparse_60k.parquet"
    if not os.path.exists(sparse_path):
        spark.createDataFrame(
            [
                (
                    i,
                    [float(pts[i, 0]), float(pts[i, 0] + ln[i] * np.cos(ang[i]))],
                    [float(pts[i, 1]), float(pts[i, 1] + ln[i] * np.sin(ang[i]))],
                    "r",
                )
                for i in range(nl)
            ],
            "line_id long, xs array<double>, ys array<double>, dataset string",
        ).write.mode("overwrite").parquet(sparse_path)
    sparse = spark.read.parquet(sparse_path)

    rng2 = np.random.default_rng(11)
    n_r = 200
    rpts = rng2.uniform(0, 200.0, size=(n_r, 2))
    rang = rng2.uniform(0, 2 * np.pi, n_r)
    rln = rng2.uniform(40, 160, n_r)
    random200 = lines_df(
        [[p[0], p[0] + l * np.cos(a)] for p, a, l in zip(rpts, rang, rln)],
        [[p[1], p[1] + l * np.sin(a)] for p, a, l in zip(rpts, rang, rln)],
    )

    g = {n: grid_lines(n) for n in (100, 400, 800)}
    WORK = {
        "grid100": (lambda: lines_df(*g[100]), (0.0, 0.0, 100.0, 100.0), 25.0, 10000),
        "grid400": (lambda: lines_df(*g[400]), (0.0, 0.0, 400.0, 400.0), 50.0, 160000),
        "grid800": (lambda: lines_df(*g[800]), (0.0, 0.0, 800.0, 800.0), 100.0, 640000),
        "sparse60k": (lambda: sparse, (0.0, 0.0, 1000.0, 1000.0), 100.0, None),
        "random200": (lambda: random200, None, 50.0, None),
    }
    ENGINES = {
        "tiled": lambda ln, ts, bb: tiled_polygonize(
            ln, tile_size=ts, buffer=1.5, bbox=bb, drop_collapsed=True
        ),
        "chain": lambda ln, ts, bb: stitched_polygonize(
            ln, tile_size=ts, buffer=1.5, bbox=bb, strategy="chain",
            drop_collapsed=True,
        ),
        "auto": lambda ln, ts, bb: stitched_polygonize(
            ln, tile_size=ts, buffer=1.5, bbox=bb, drop_collapsed=True
        ),
    }

    # JIT/worker warmup on a tiny input, then cleared
    for eng in ENGINES.values():
        eng(lines_df(*grid_lines(20)), 10.0, (0.0, 0.0, 20.0, 20.0)).count()
    spark.catalog.clearCache()

    res: dict = {}
    counts: dict = {}
    engine_names = list(ENGINES)
    for rnd in range(rounds):
        p = probe()
        order = engine_names[rnd % len(engine_names):] + engine_names[: rnd % len(engine_names)]
        for wname, (mk, bb, ts, want) in WORK.items():
            for ename in order:
                spark.catalog.clearCache()
                ln = mk().cache()
                ln.count()
                t0 = time.time()
                n = ENGINES[ename](ln, ts, bb).count()
                w = round(time.time() - t0, 2)
                if want is not None:
                    assert n == want, (wname, ename, n)
                # cross-engine equality holds among the EXACT stitched
                # engines everywhere; tiled participates only where the
                # fixture is pinned (grids) — on sparse60k its input
                # overhangs the declared bbox, which tiled documents as
                # dropped (bounded-window contract) and stitched must
                # recover (test_stitched_exact_when_input_overhangs_bbox)
                ck = (wname, "tiled" if (ename == "tiled" and want is None) else "exact")
                prev = counts.setdefault(ck, n)
                assert prev == n, (wname, ename, n, prev)
                res.setdefault(wname, {}).setdefault(ename, []).append(w)
                print(f"r{rnd} {wname} {ename} {w}s probe~{p}", flush=True)
    summary = {
        "mode": "cold (clearCache before every run)",
        "results_min": {
            w: {e: min(v) for e, v in d.items()} for w, d in res.items()
        },
        "results_all": res,
        "counts": {f"{w}/{e}": c for (w, e), c in counts.items()},
        "probe_last": probe(),
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary["results_min"], indent=1))


if __name__ == "__main__":
    main()
