"""Distributed polygonize operators (DataFrame in → DataFrame out).

The Spark re-expression of the reference's two entry points:

* ``polygonize(lines_df)`` — whole-dataset polygonize, the analog of
  ``Polygonizer::polygonize`` (reference src/polygonizer.rs:112): one
  grouped-map Arrow UDF over a constant key. Correct for any input
  that fits one executor; the distributed path is ``tiled_polygonize``.

* ``tiled_polygonize(lines_df, ...)`` — the analog of
  ``TiledPolygonizer::polygonize`` (reference src/tiling.rs:35-125),
  built Spark-first:
    - segmentization + tile assignment are pure column expressions
      (bbox → covered tile-id ranges → ``sequence``/``explode``) — no
      join, unlike the reference's O(tiles × geoms) scan
      (src/tiling.rs:72-78);
    - buffered replication: a segment lands in every tile whose
      buffered window its bbox intersects (tiling.rs:66-78);
    - explicit skew handling the reference lacks (north_rule's
      "explicit salting of skewed cells"): tiles whose segment count
      exceeds ``max_segments_per_tile`` are split into f×f sub-tiles
      (f from the overflow ratio) with the same buffered-replication
      rule, so one hot tile cannot straggle the stage — one extra
      count scan, still a single shuffle;
    - one shuffle on the (sub-)tile key, then a grouped-map Arrow UDF
      runs the full local polygonize kernel with noding per tile
      (tiling.rs:62-85);
    - exactly-once ownership: keep polygons whose centroid lies in
      the (sub-)tile's half-open core ``[min, max)`` (tiling.rs:99-106)
      — the cores partition the plane, so no dupes and no losses —
      plus the sliver filter (area < 1e-6, tiling.rs:94-97).

Known parity limitation (shared with the reference, see
src/tiling.rs buffer semantics / SURVEY.md §3.3): a ring larger than
tile+buffer is owned by a tile that cannot see all of it. Callers
control ``tile_size``/``buffer``; the single-group ``polygonize`` is
the exact fallback.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels.polygonize import DEFAULT_SNAP_GRID, polygonize_segments_pdf
from .tiling import (
    TILE_KEY,
    assign_windows,
    grid_shape,
    hot_tile_factors,
    owned_by_core,
    repartition_tiles,
    split_hot_tiles,
)

POLYGON_SCHEMA = T.StructType(
    [
        T.StructField("tile_i", T.IntegerType()),
        T.StructField("tile_j", T.IntegerType()),
        T.StructField("poly_id", T.LongType()),
        T.StructField("shell_xs", T.ArrayType(T.DoubleType())),
        T.StructField("shell_ys", T.ArrayType(T.DoubleType())),
        T.StructField("hole_xs", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("hole_ys", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("n_holes", T.IntegerType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
    ]
)


def segmentize_df(lines_df: DataFrame) -> DataFrame:
    """lines(line_id, xs, ys) → segments(x1, y1, x2, y2).

    Pure column expressions (transform + explode run in whole-stage
    codegen; the reference does this in ``ls.lines()``,
    src/polygonizer.rs:85-100)."""
    seg = F.expr(
        "transform(slice(xs, 1, size(xs) - 1), "
        "(x, i) -> struct(x as x1, ys[i] as y1, xs[i + 1] as x2, ys[i + 1] as y2))"
    )
    return lines_df.select(F.explode(seg).alias("s")).select("s.x1", "s.y1", "s.x2", "s.y2")


def polygonize(
    lines_df: DataFrame,
    node_input: bool = True,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
) -> DataFrame:
    """Whole-dataset polygonize: one Arrow group holds all segments.

    Exact (no tiling approximation); use for modest inputs or as the
    stitch-free fallback."""
    segments = segmentize_df(lines_df)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return polygonize_segments_pdf(
            pdf["x1"].to_numpy(),
            pdf["y1"].to_numpy(),
            pdf["x2"].to_numpy(),
            pdf["y2"].to_numpy(),
            node_input=node_input,
            snap_grid=snap_grid,
            drop_collapsed=drop_collapsed,
            tile_i=-1,
            tile_j=-1,
        )

    return segments.withColumn("g", F.lit(0)).groupBy("g").applyInPandas(kernel, POLYGON_SCHEMA)


def _bbox_of_segments(segments: DataFrame) -> tuple[float, float, float, float]:
    r = segments.agg(
        F.least(F.min("x1"), F.min("x2")).alias("bx0"),
        F.least(F.min("y1"), F.min("y2")).alias("by0"),
        F.greatest(F.max("x1"), F.max("x2")).alias("bx1"),
        F.greatest(F.max("y1"), F.max("y2")).alias("by1"),
    ).collect()[0]
    return (r["bx0"], r["by0"], r["bx1"], r["by1"])


def window_assignment(
    lines_df: DataFrame,
    tile_size: float,
    buffer: float = 0.0,
    bbox: tuple[float, float, float, float] | None = None,
) -> tuple[DataFrame, float, float]:
    """lines → (unsplit window assignment, grid origin x0, y0): one row
    per (segment, tile) pair as column expressions; the grid covers
    ``bbox``, derived from the data (one aggregate job) when None."""
    segments = segmentize_df(lines_df)
    if bbox is None:
        bbox = _bbox_of_segments(segments)
    x0, y0 = float(bbox[0]), float(bbox[1])
    cols, rows = grid_shape(bbox, tile_size)
    return assign_windows(segments, x0, y0, tile_size, buffer, cols, rows), x0, y0


def tile_kernel(
    tile_size: float,
    x0: float,
    y0: float,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
):
    """The grouped-map kernel of one (sub-)tile group: noded polygonize
    of the group's segments, then the sliver filter and the half-open
    core ownership of the group's ``TILE_KEY``."""
    ts_py = float(tile_size)

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = polygonize_segments_pdf(
            pdf["x1"].to_numpy(),
            pdf["y1"].to_numpy(),
            pdf["x2"].to_numpy(),
            pdf["y2"].to_numpy(),
            node_input=True,  # per-tile noding, reference tiling.rs:62-63
            snap_grid=snap_grid,
            drop_collapsed=drop_collapsed,
            tile_i=int(key[0]),
            tile_j=int(key[1]),
        )
        # sliver filter (tiling.rs:94-97) + half-open ownership
        # (tiling.rs:99-106); cores partition the plane → exactly-once
        # across (sub-)tiles
        m = (out["area"].to_numpy() >= 1e-6) & owned_by_core(
            out["cx"].to_numpy(), out["cy"].to_numpy(), key, x0, y0, ts_py
        )
        out = out[m].reset_index(drop=True)
        out["poly_id"] = np.arange(len(out), dtype=np.int64)
        return out

    return kernel


def prepare_assigned(
    assigned: DataFrame,
    tile_size: float,
    buffer: float,
    x0: float,
    y0: float,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
    max_segments_per_tile: int | None = 200_000,
    max_split_factor: int = 16,
):
    """(kernel input, kernel) of ``tiled_polygonize`` for a window
    assignment: the skew sub-split and the ``TILE_KEY`` repartition.
    The hot-tile factors stay inside the plan, a broadcast join of one
    aggregate. The checkpoint (and through it the streaming path) does
    not come here: it collects its per-tile counts anyway, so it splits
    with driver-known factors and calls ``tile_kernel`` itself."""
    factors = None
    if max_segments_per_tile is not None:
        factors = hot_tile_factors(assigned, max_segments_per_tile, max_split_factor)
    assigned = repartition_tiles(
        split_hot_tiles(assigned, factors, x0, y0, tile_size, buffer)
    )
    return assigned, tile_kernel(tile_size, x0, y0, snap_grid, drop_collapsed)


def tiled_polygonize(
    lines_df: DataFrame,
    tile_size: float,
    buffer: float = 0.0,
    bbox: tuple[float, float, float, float] | None = None,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
    max_segments_per_tile: int | None = 200_000,
    max_split_factor: int = 16,
) -> DataFrame:
    """Distributed tiled polygonize (reference src/tiling.rs:35-125).

    One shuffle (tile key) + one grouped-map Arrow UDF; optional
    pre-shuffle skew split of hot tiles (see module docstring).

    Contract (reference-parity, src/tiling.rs:66-106): only polygons
    that FIT a tile+buffer window are produced — larger polygons, and
    polygons lying outside an explicitly-passed ``bbox`` (whose tile
    grid clips the world), are dropped. Pass ``bbox=None`` to derive
    the grid from the data, or use ``stitched_polygonize`` for exact
    unbounded output regardless of bbox staleness.
    """
    assigned, x0, y0 = window_assignment(lines_df, tile_size, buffer, bbox)
    assigned, kernel = prepare_assigned(
        assigned,
        tile_size,
        buffer,
        x0,
        y0,
        snap_grid=snap_grid,
        drop_collapsed=drop_collapsed,
        max_segments_per_tile=max_segments_per_tile,
        max_split_factor=max_split_factor,
    )
    return assigned.groupBy(*TILE_KEY).applyInPandas(kernel, POLYGON_SCHEMA)
