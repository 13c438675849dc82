"""Kernel yardstick: single-threaded polygonize on the reference's own
benchmark sizes, next to the reference's Rust and shapely figures.

    python3 perfbench/yardstick.py [--repeats 5]

Grid N (N+1 horizontal and N+1 vertical lines) must give N^2 polygons
(N^2 + 1 without ``drop_collapsed``, the hull filled by its holes).
Random N uses this repository's generator (``sources.fixtures.
random_lines``: numpy seed 42, endpoints uniform in [0, 100]^2), so its
counts are pinned here; the reference's counts (281 / 1,066 / 4,266)
come from the reference's own Rust RNG and are printed for context only.
The reference figures were measured on a 2-vCPU CI host (BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geo_polygonize_spark.kernels import polygonize_lines  # noqa: E402
from geo_polygonize_spark.sources.fixtures import grid_lines, random_lines  # noqa: E402
from perfbench.kernel_layer import time_polygonize  # noqa: E402

# (rust s, shapely s, reference polygon count) from BASELINE.md
REFERENCE = {
    ("grid", 5): (0.000272, 0.000675, 25),
    ("grid", 10): (0.000620, 0.002218, 100),
    ("grid", 20): (0.001834, 0.008199, 400),
    ("grid", 50): (0.010433, 0.050715, 2_500),
    ("grid", 100): (0.045939, 0.207546, 10_000),
    ("random", 50): (0.001526, 0.008031, 281),
    ("random", 100): (0.006501, 0.025743, 1_066),
    ("random", 200): (0.025465, 0.097653, 4_266),
}

# this repository's random_lines counts: (drop_collapsed=True, False)
PINNED_RANDOM = {50: (153, 154), 100: (863, 865), 200: (3_633, 3_640)}


def expected(kind: str, n: int, drop_collapsed: bool) -> int:
    if kind == "grid":
        # without drop_collapsed the outer hull, filled by its holes, stays
        return n * n if drop_collapsed else n * n + 1
    return PINNED_RANDOM[n][0 if drop_collapsed else 1]


def run(repeats: int) -> list[dict]:
    rows = []
    for (kind, n), (rust_s, shapely_s, ref_count) in REFERENCE.items():
        xs, ys = grid_lines(n) if kind == "grid" else random_lines(n)
        times = []
        for _ in range(repeats):
            t = time.perf_counter()
            polys = polygonize_lines(xs, ys, node_input=True, drop_collapsed=True)
            times.append(time.perf_counter() - t)
        kept = len(polygonize_lines(xs, ys, node_input=True, drop_collapsed=False))
        for count, drop in ((len(polys), True), (kept, False)):
            if count != expected(kind, n, drop):
                raise AssertionError(
                    f"{kind} {n} drop_collapsed={drop}: {count} polygons, "
                    f"expected {expected(kind, n, drop)}"
                )
        stages = time_polygonize(xs, ys)
        rows.append({
            "workload": f"{kind} {n}",
            "polygons": len(polys),
            "reference_polygons": ref_count,
            "median_s": statistics.median(times),
            "repeats": repeats,
            "rust_s": rust_s,
            "shapely_s": shapely_s,
            "node_segments_s": stages["node_segments_s"],
            "build_sort_prune_s": stages["build_sort_prune_s"],
            "edge_rings_s": stages["edge_rings_s"],
            "assemble_polygons_s": stages["assemble_polygons_s"],
        })
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repeats", type=int, default=5)
    args = ap.parse_args()
    rows = run(args.repeats)
    print(f"{'workload':<11}{'polys':>7}{'ref':>7}{'ours s':>11}{'rust s':>10}{'shapely s':>11}"
          f"{'ours/rust':>10}{'ours/shp':>9}  stages: node / graph / rings / assemble s")
    for r in rows:
        print(
            f"{r['workload']:<11}{r['polygons']:>7}{r['reference_polygons']:>7}"
            f"{r['median_s']:>11.6f}{r['rust_s']:>10.6f}{r['shapely_s']:>11.6f}"
            f"{r['median_s'] / r['rust_s']:>10.2f}{r['median_s'] / r['shapely_s']:>9.2f}  "
            f"{r['node_segments_s']:.4f} / {r['build_sort_prune_s']:.4f} / "
            f"{r['edge_rings_s']:.4f} / {r['assemble_polygons_s']:.4f}"
        )
    print(json.dumps({"yardstick": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
