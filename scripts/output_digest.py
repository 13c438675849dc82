"""One sha256 per polygonize workload over the raw bits of its output.

Every output row (tile ids, poly id, shell and hole coordinates as
float64 bytes, hole count, area, centroid) is serialised, the rows are
sorted by those bytes, and the sorted rows are hashed. The hash is
blind to row order but sees every bit of every value, and the order of
the holes inside a row. Two trees produce the same outputs when every
line printed matches.

Workloads: grid-400 through the chain engine and the tiled engine as
``bench.py`` calls them; random-200 through the single-group kernel,
the single-group Spark operator, the tiled engine and the chain engine
(auto, and the fused assembly with and without collapsed shells); the
fused assembly on grid-20 with tile 5, where every core-boundary column
is merged residue (twin promotion, visitors and hull netting), and on
the nested fixture, where every ring is merged (visitors only); the
perfbench lattice operations (stitched polygonize, checkpointed tiled
polygonize into an empty store and again over the unchanged store), a
checkpointed grid-20 / tile-5 store whose every tile splits hot, and the
images workload's driver-side coverage. PIP rows (point id, polygon
key, area, x, y, containing count) come from the images workload's
point-in-polygon join on that coverage, and on the same coverage with
its hull kept, through the cells and the broadcast strategy; each
cells line must equal its broadcast line.

Usage (from the root of the tree to digest):

    python scripts/output_digest.py [--cores 4]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import struct
import sys
import tempfile

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_COLS = ("tile_i", "tile_j", "poly_id", "shell_xs", "shell_ys", "hole_xs", "hole_ys",
         "n_holes", "area", "cx", "cy")


def _f64(v) -> bytes:
    a = np.asarray(v, np.float64)
    return struct.pack("<q", a.size) + a.tobytes()


def _row_bytes(row: dict) -> bytes:
    parts = []
    for c in _COLS:
        v = row.get(c)
        if c in ("hole_xs", "hole_ys"):
            v = [] if v is None else list(v)
            parts.append(struct.pack("<q", len(v)) + b"".join(_f64(h) for h in v))
        elif c in ("shell_xs", "shell_ys"):
            parts.append(_f64(v))
        elif c in ("tile_i", "tile_j", "poly_id", "n_holes"):
            parts.append(b"-" if v is None else struct.pack("<q", int(v)))
        else:
            parts.append(struct.pack("<d", float(v)))
    return b"|".join(parts)


def _pip_row_bytes(row: dict) -> bytes:
    return struct.pack(
        "<4qd2dq", int(row["image_id"]), row["poly_tile_i"], row["poly_tile_j"], row["poly_id"],
        row["poly_area"], row["x"], row["y"], row["n_containing"],
    )


def digest(rows, row_bytes=_row_bytes) -> tuple[int, str]:
    """(row count, sha256 hex) of the rows, sorted by their bytes."""
    blobs = sorted(row_bytes(r) for r in rows)
    h = hashlib.sha256()
    for b in blobs:
        h.update(struct.pack("<q", len(b)))
        h.update(b)
    return len(blobs), h.hexdigest()


def _pdf_rows(pdf):
    return pdf.to_dict("records")


def _polygon_rows(polys):
    return [
        {"shell_xs": p.shell_xs, "shell_ys": p.shell_ys, "hole_xs": [h[0] for h in p.holes],
         "hole_ys": [h[1] for h in p.holes], "n_holes": len(p.holes), "area": p.area,
         "cx": np.nan, "cy": np.nan}
        for p in polys
    ]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize
    from geo_polygonize_spark.kernels.polygonize import (
        polygonize_lines, polygonize_segments_pdf, segmentize,
    )
    from geo_polygonize_spark.operators.chain_stitch import chain_stitched_polygonize
    from geo_polygonize_spark.operators.polygonize_op import polygonize, tiled_polygonize
    from geo_polygonize_spark.operators.stitch import stitched_polygonize
    from geo_polygonize_spark.plans import build_session
    from geo_polygonize_spark.sources.fixtures import fixture, grid_lines, random_lines
    from geo_polygonize_spark.operators.polygonize_op import POLYGON_SCHEMA
    from geo_polygonize_spark.operators.spatial_join import pip_join
    from perfbench.workloads import (
        COVER_N, JOIN_CELL, JOIN_POINTS, LATTICE_BUFFER, LATTICE_N, LATTICE_TILE, lines_frame,
    )
    from pyspark.sql import functions as F

    spark = build_session(
        "output_digest", cores=args.cores, shuffle_partitions=max(args.cores, 8),
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM") or "3g",
                    "spark.ui.showConsoleProgress": "false"},
    )

    def spark_rows(df):
        return _pdf_rows(df.toPandas())

    def report(name, rows, row_bytes=_row_bytes):
        n, h = digest(rows, row_bytes)
        print(f"{name:<34} {n:>8} {h}", flush=True)

    # grid-400 and random-200 as bench.py builds and calls them
    g4 = 400
    g4_df = lines_frame(spark, *grid_lines(g4))
    box4 = (0.0, 0.0, float(g4), float(g4))
    report("grid400_chain", spark_rows(chain_stitched_polygonize(
        g4_df, tile_size=50.0, buffer=1.5, bbox=box4, drop_collapsed=True)))
    report("grid400_tiled", spark_rows(tiled_polygonize(
        g4_df, tile_size=50.0, buffer=1.5, bbox=box4, drop_collapsed=True)))

    rx, ry = random_lines(200)
    r_df = lines_frame(spark, rx, ry)
    box_r = (0.0, 0.0, 100.0, 100.0)
    report("random200_kernel", _polygon_rows(
        polygonize_lines(rx, ry, node_input=True, drop_collapsed=True)))
    report("random200_kernel_keep", _polygon_rows(
        polygonize_lines(rx, ry, node_input=True, drop_collapsed=False)))
    report("random200_exact", spark_rows(polygonize(r_df, drop_collapsed=True)))
    report("random200_tiled", spark_rows(tiled_polygonize(
        r_df, tile_size=50.0, buffer=10.0, bbox=box_r, drop_collapsed=True)))
    report("random200_chain", spark_rows(chain_stitched_polygonize(
        r_df, tile_size=25.0, buffer=10.0, bbox=box_r, drop_collapsed=True)))
    for drop in (True, False):
        report(f"random200_chain_fused_drop{int(drop)}", spark_rows(chain_stitched_polygonize(
            r_df, tile_size=25.0, buffer=10.0, bbox=box_r, drop_collapsed=drop,
            assembly="fused")))

    # the fused assembly's merged-residue shapes: grid 20 / tile 5 as
    # the fused-assembly oracle query calls it, and the nested fixture
    g20_df = lines_frame(spark, *grid_lines(20))
    for drop in (False, True):
        report(f"grid20_fused_drop{int(drop)}", spark_rows(chain_stitched_polygonize(
            g20_df, tile_size=5.0, buffer=1.5, bbox=(0.0, 0.0, 20.0, 20.0),
            drop_collapsed=drop, assembly="fused")))
    nx, ny, _, _ = fixture("nested_holes")
    report("nested_chain_fused", spark_rows(chain_stitched_polygonize(
        lines_frame(spark, nx, ny), tile_size=10.0, buffer=2.0,
        bbox=(0.0, 0.0, 100.0, 100.0), assembly="fused")))

    # the perfbench lattice operations and the images coverage
    lx, ly = grid_lines(LATTICE_N)
    order = np.random.default_rng(7).permutation(len(lx))
    l_df = lines_frame(spark, lx, ly, order)
    box_l = (0.0, 0.0, float(LATTICE_N), float(LATTICE_N))
    report("lattice_exact", spark_rows(stitched_polygonize(
        l_df, tile_size=LATTICE_TILE, buffer=LATTICE_BUFFER, bbox=box_l,
        drop_collapsed=True, strategy="auto")))
    with tempfile.TemporaryDirectory() as tmp:
        store = os.path.join(tmp, "store")
        for name in ("lattice_checkpoint", "lattice_checkpoint_resume"):
            report(name, spark_rows(resumable_tiled_polygonize(
                spark, l_df, store, LATTICE_TILE, buffer=LATTICE_BUFFER, bbox=box_l,
                drop_collapsed=True)))
        report("grid20_checkpoint_hot", spark_rows(resumable_tiled_polygonize(
            spark, g20_df, os.path.join(tmp, "hot"), 5.0, buffer=1.5,
            bbox=(0.0, 0.0, 20.0, 20.0), drop_collapsed=True, max_segments_per_tile=10)))
    cx, cy = grid_lines(COVER_N)
    report("images_coverage", _pdf_rows(polygonize_segments_pdf(
        *segmentize(cx, cy), node_input=True, drop_collapsed=True)))

    # the images workload's PIP join (its points at seed 7)
    seed, side = 7, COVER_N * 10_000
    points = spark.range(JOIN_POINTS, numPartitions=2 * args.cores).select(
        F.col("id").alias("image_id"),
        ((F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(side)) + 0.5) / 10_000.0).alias("x"),
        ((F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(side)) + 0.5) / 10_000.0).alias("y"),
    ).persist()
    for name, drop in (("images_pip", True), ("images_hull_pip", False)):
        cover = spark.createDataFrame(polygonize_segments_pdf(
            *segmentize(cx, cy), node_input=True, drop_collapsed=drop), POLYGON_SCHEMA).persist()
        for strategy in ("cells", "broadcast"):
            report(f"{name}_{strategy}", spark_rows(pip_join(
                points, cover, 0.0, 0.0, JOIN_CELL, point_id="image_id", strategy=strategy,
            ).select("image_id", "poly_tile_i", "poly_tile_j", "poly_id", "poly_area", "x", "y",
                     "n_containing")), _pip_row_bytes)
        cover.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
