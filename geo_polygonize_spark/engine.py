"""The flagship pipeline: polygonize + spatial-join + tiling over the
image+caption table (BASELINE.json north_star).

Stages (each a documented operator elsewhere in the package):
  1. linework → tiled polygonize → polygon coverage       (1 shuffle)
  2. images → derived points (xxhash64 column exprs — deterministic,
     JVM-side; the payload `bytes` column is PROJECTED OUT here and
     re-joined by image_id at the end, so multi-KB blobs never ride
     through the geometry shuffles)
  3. Morton cell encode (column exprs) → PIP join vs coverage
  4. kNN to tile centroids (numpy broadcast, no shuffle)
  5. raster tile assignment (column arithmetic)
  6. payload re-join + caption passthrough

Every join is either broadcast or a cell-hash cogroup; the only wide
shuffles are the tile shuffle inside tiled_polygonize and, for a
coverage too large to broadcast, the cells PIP join's bucket shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.cells import morton_cell_col
from .operators.polygonize_op import tiled_polygonize
from .operators.spatial_join import pip_join, raster_tile_assign
from .operators.tiling import grid_shape


def derive_points(
    images: DataFrame, bbox: tuple[float, float, float, float], keep_cols: bool = False
) -> DataFrame:
    """Deterministic point per image: two independent xxhash64 streams
    of image_id → uniform (x, y) in bbox. Pure column exprs.
    ``keep_cols`` retains the non-geometry columns (narrow-payload
    passthrough mode)."""
    x0, y0, x1, y1 = bbox
    m = F.lit(float(1 << 40))
    hx = (F.pmod(F.xxhash64("image_id"), F.lit(1 << 40)).cast("double") / m)
    hy = (F.pmod(F.xxhash64("image_id", F.lit(1)), F.lit(1 << 40)).cast("double") / m)
    xc = (F.lit(x0) + hx * F.lit(x1 - x0)).alias("x")
    yc = (F.lit(y0) + hy * F.lit(y1 - y0)).alias("y")
    if keep_cols:
        return images.select("*", xc, yc)
    return images.select("image_id", xc, yc)


def tile_centroids(bbox, tile_size: float) -> list[tuple[int, float, float]]:
    """Centers of the raster tile grid (the kNN targets)."""
    x0, y0 = bbox[0], bbox[1]
    cols, rows = grid_shape(bbox, tile_size)
    out = []
    for j in range(rows):
        for i in range(cols):
            out.append((j * cols + i, x0 + (i + 0.5) * tile_size, y0 + (j + 0.5) * tile_size))
    return out


def image_pipeline(
    spark: SparkSession,
    images: DataFrame,
    lines_df: DataFrame,
    bbox: tuple[float, float, float, float],
    tile_size: float,
    buffer: float = 1.0,
    cell_size: float | None = None,
    polygons: DataFrame | None = None,
    drop_collapsed: bool = True,
    pip_strategy: str = "auto",
    broadcast_poly_limit: int = 2_000_000,
    payload_rejoin: bool = True,
    poly_rows: list | None = None,
    coverage_index=None,
) -> DataFrame:
    """images × linework → per-image spatial enrichment.

    Output: one row per image that falls inside the polygonized
    coverage: containing polygon (smallest), kNN tile centroids,
    raster tile, Morton cell, caption + phash passthrough.
    """
    x0, y0 = bbox[0], bbox[1]
    if cell_size is None:
        cell_size = tile_size / 4.0

    if polygons is None and poly_rows is None and coverage_index is None:
        polygons = tiled_polygonize(
            lines_df, tile_size=tile_size, buffer=buffer, bbox=bbox, drop_collapsed=drop_collapsed
        )

    # payload handling: heavy payloads (bytes) are projected out here
    # and re-joined by image_id at the end (payload_rejoin=True, the
    # default); with payload_rejoin=False the narrow columns (caption,
    # phash, ...) ride through the map-only stages instead — zero
    # extra shuffles, the right plan when no blob column exists
    src = images if payload_rejoin else images.drop("bytes")
    points = derive_points(src, bbox, keep_cols=not payload_rejoin).withColumn(
        "cell", morton_cell_col(F.col("x"), F.col("y"), x0, y0, cell_size)
    )

    # broadcast PIP when the coverage is collectible (bounded polygon
    # count), else the cells join. The size check persists + counts
    # (full task parallelism — a limit().collect() probe executes as
    # Spark's incremental limit, 1→4→20 task waves, serializing the
    # polygonize), then the broadcast path collects from cache as an
    # Arrow table; polygonize never recomputes.
    if coverage_index is not None:
        # prebuilt broadcast index (``broadcast_coverage_index``) —
        # the zero-per-batch-fixed-cost production path: no coverage
        # job, no driver index compile, no broadcast write per call
        pip_strategy = "broadcast"
    elif poly_rows is not None:
        # pre-collected coverage (production: polygonize once, stream
        # records against it) — skips every coverage-preparation job
        pip_strategy = "broadcast"
    elif pip_strategy == "auto":
        polygons = polygons.persist()
        pip_strategy = "broadcast" if polygons.count() <= broadcast_poly_limit else "cells"
    hits = pip_join(
        points, polygons, x0, y0, cell_size, strategy=pip_strategy,
        rows=poly_rows, index=coverage_index,
    )

    # nearest tile centroid: the kNN targets are a REGULAR grid, so
    # the nearest center is the containing cell — O(1) closed-form
    # column arithmetic (whole-stage codegen), no distance matrix.
    # knn_join / nearest_centroid_cols remain the operators for
    # irregular centroid sets and k > 1.
    cols, rows = grid_shape(bbox, tile_size)
    ti = F.greatest(
        F.least(F.floor((F.col("x") - F.lit(x0)) / F.lit(tile_size)), F.lit(cols - 1)), F.lit(0)
    )
    tj = F.greatest(
        F.least(F.floor((F.col("y") - F.lit(y0)) / F.lit(tile_size)), F.lit(rows - 1)), F.lit(0)
    )
    ccx = F.lit(x0) + (ti.cast("double") + 0.5) * F.lit(tile_size)
    ccy = F.lit(y0) + (tj.cast("double") + 0.5) * F.lit(tile_size)
    nn = hits.withColumn("nearest_tile", (tj * F.lit(cols) + ti).cast("long")).withColumn(
        "nearest_tile_dist",
        F.sqrt((F.col("x") - ccx) ** 2 + (F.col("y") - ccy) ** 2),
    )

    placed = raster_tile_assign(nn, x0, y0, tile_size, cols, rows)

    enriched = placed.withColumn(
        "cell", morton_cell_col(F.col("x"), F.col("y"), x0, y0, cell_size)
    )
    if not payload_rejoin:
        return enriched
    # payload re-join (broadcast the narrow enrichment if small; at
    # scale both sides hash-join on image_id, the table's natural key)
    return enriched.join(
        images.select("image_id", "caption", "phash", "fmt", "w", "h"), "image_id"
    )
