"""The tile grid: the only code that knows how the plane is cut into
tiles (the reference keeps the same decisions in src/tiling.rs).

* **Grid.** ``cols × rows`` square tiles of side ``tile_size``,
  anchored at the bbox's min corner (``grid_shape``).
* **Buffered windows.** A segment lands in every tile whose buffered
  window its bbox touches, boundary-INCLUSIVE (the reference's
  ``Rect::intersects`` is closed, tiling.rs:74; the exact-boundary
  fixture tiling_tests.rs:52-80 depends on it). Both range bounds clamp
  into the grid (``assign_windows``).
* **Hot tiles.** A tile whose window draws more than
  ``max_segments_per_tile`` segments splits into f×f sub-tiles, f from
  the overflow ratio (``split_factor``), with the same window rule
  inside the tile (``hot_tile_factors``, ``split_hot_tiles``, which is
  ``unsplit`` when no tile is hot).
* **Tile key.** ``TILE_KEY`` names a (sub-)tile; ``repartition_tiles``
  hash-partitions on it.
* **Claim cores.** Each (sub-)tile's core is its half-open cell
  ``[min, max)``; the cores partition the plane. ``claim_cores`` maps
  points to cores with the index CLIPPED into the grid, so a point on
  the global max edge or outside the bbox still has exactly one core.
  ``core_key`` packs a core into one int64, ``touching_cores`` lists
  every core whose closure holds a point and ``core_reach_index`` the
  cores a bbox may reach. The tiled path's ownership
  (``owned_by_core``) is the one unclipped test: polygons outside the
  grid belong to no core and are dropped. The chain engine's
  trace kernel claims half-edges with ``claim_cores`` and the fused
  assembly regroups rings with it, and the fused assembly is only
  correct if both derive the same core bit for bit — so there is one
  copy of the arithmetic.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.arrow import rows_frame

TILE_KEY = ["tile_i", "tile_j", "f", "sub_i", "sub_j"]


def grid_shape(bbox, tile_size: float) -> tuple[int, int]:
    """(cols, rows) of the tile grid over ``bbox``; at least one each."""
    x0, y0, x1, y1 = (float(v) for v in bbox)
    return (
        max(int(np.ceil((x1 - x0) / tile_size)), 1),
        max(int(np.ceil((y1 - y0) / tile_size)), 1),
    )


def _segment_bbox():
    return (
        F.least("x1", "x2"),
        F.least("y1", "y2"),
        F.greatest("x1", "x2"),
        F.greatest("y1", "y2"),
    )


def _index_range(lo, hi, lo_origin, hi_origin, side, last):
    """First and last index of the cells of width ``side`` whose window
    the span ``[lo, hi]`` touches: ``ceil(v - 1)`` includes the cell
    whose upper edge equals ``lo``. BOTH bounds clamp into
    ``[0, last]``: for a span wholly outside the grid an unclamped
    first > last makes Spark's ``sequence`` DESCEND instead of being
    empty, materializing phantom out-of-grid tiles. Clamping collapses
    out-of-grid geometry into the edge tile, where the clipped claim
    cores already put it, and it is monotone, so two intersecting
    segments still share the tile of their intersection point."""
    first = F.least(F.greatest(F.ceil((lo - lo_origin) / side - 1), F.lit(0)), last)
    end = F.greatest(F.least(F.floor((hi - hi_origin) / side), last), F.lit(0))
    return first.cast("int"), end.cast("int")


def _explode_ranges(df: DataFrame, names, i_range, j_range) -> DataFrame:
    return df.withColumn(names[0], F.explode(F.sequence(*i_range))).withColumn(
        names[1], F.explode(F.sequence(*j_range))
    )


def assign_windows(
    segments: DataFrame,
    x0: float,
    y0: float,
    tile_size: float,
    buffer: float,
    cols: int,
    rows: int,
) -> DataFrame:
    """segments(x1, y1, x2, y2) → one row per (segment, tile) pair whose
    buffered window the segment's bbox touches, as column expressions
    (``sequence``/``explode``, no join)."""
    bx1, by1, bx2, by2 = _segment_bbox()
    ts = F.lit(tile_size)
    return _explode_ranges(
        segments,
        ("tile_i", "tile_j"),
        _index_range(bx1, bx2, F.lit(x0 + buffer), F.lit(x0 - buffer), ts, F.lit(cols - 1)),
        _index_range(by1, by2, F.lit(y0 + buffer), F.lit(y0 - buffer), ts, F.lit(rows - 1)),
    )


def split_factor(count, max_segments_per_tile: int, max_split_factor: int):
    """Split factor of a hot tile whose window holds ``count`` (more
    than ``max_segments_per_tile``) segments, as a column:
    ``f = min(ceil(sqrt(count / max_segments_per_tile)), max_split_factor)``."""
    return F.least(
        F.ceil(F.sqrt(count / F.lit(max_segments_per_tile))), F.lit(max_split_factor)
    ).cast("int")


def hot_tile_factors(
    assigned: DataFrame, max_segments_per_tile: int, max_split_factor: int
) -> DataFrame:
    """(tile_i, tile_j, f) for every tile whose window holds more than
    ``max_segments_per_tile`` segments (``split_factor``)."""
    return (
        assigned.groupBy("tile_i", "tile_j")
        .count()
        .filter(F.col("count") > max_segments_per_tile)
        .select(
            "tile_i",
            "tile_j",
            split_factor(F.col("count"), max_segments_per_tile, max_split_factor).alias("f"),
        )
    )


def factors_frame(spark: SparkSession, fmap: dict) -> DataFrame | None:
    """Driver-known hot-tile factors ``{(tile_i, tile_j): f}`` as the
    ``factors`` frame of ``split_hot_tiles``; None when no tile is hot."""
    if not fmap:
        return None
    return rows_frame(
        spark, [(ti, tj, f) for (ti, tj), f in fmap.items()], "tile_i int, tile_j int, f int"
    )


def split_hot_tiles(
    assigned: DataFrame,
    factors: DataFrame | None,
    x0: float,
    y0: float,
    tile_size: float,
    buffer: float,
) -> DataFrame:
    """Tile-assigned segments → full ``TILE_KEY`` rows: each tile listed
    in ``factors`` (broadcast-joined; None = no hot tiles, ``unsplit``)
    splits into f×f sub-tiles of side ``tile_size / f``, and a segment
    lands in every sub-tile whose ``buffer``-padded window it touches."""
    if factors is None:
        return unsplit(assigned)
    assigned = assigned.join(F.broadcast(factors), ["tile_i", "tile_j"], "left").fillna(
        {"f": 1}
    )
    bx1, by1, bx2, by2 = _segment_bbox()
    ts = F.lit(tile_size)
    tile_x0 = F.lit(x0) + F.col("tile_i").cast("double") * ts
    tile_y0 = F.lit(y0) + F.col("tile_j").cast("double") * ts
    side = ts / F.col("f")
    last = F.col("f") - 1
    pad = F.lit(buffer)
    return _explode_ranges(
        assigned,
        ("sub_i", "sub_j"),
        _index_range(bx1 - pad, bx2 + pad, tile_x0, tile_x0, side, last),
        _index_range(by1 - pad, by2 + pad, tile_y0, tile_y0, side, last),
    )


def unsplit(assigned: DataFrame) -> DataFrame:
    """Tile-assigned segments → ``TILE_KEY`` rows of a grid with no hot
    tiles, as constant columns."""
    return (
        assigned.withColumn("f", F.lit(1))
        .withColumn("sub_i", F.lit(0))
        .withColumn("sub_j", F.lit(0))
    )


def repartition_tiles(assigned: DataFrame) -> DataFrame:
    """Hash-repartition on ``TILE_KEY`` before a grouped-map kernel. The
    kernel's cost is per-group CPU, not shuffle bytes, but AQE coalesces
    by bytes: a few MB of compressed segments collapse into ONE task and
    serialize the stage (measured: grid-400 polygonize 31 s in one task
    vs about 3 s spread). ``groupBy(*TILE_KEY)`` reuses this
    partitioning, so no second shuffle."""
    sc = assigned.sparkSession.sparkContext
    return assigned.repartition(max(int(sc.defaultParallelism) * 2, 16), *TILE_KEY)


def claim_cores(px, py, x0, y0, ts, cols, rows, fmap):
    """Claim core ``(ti, tj, f, si, sj)`` of each point, as int64 arrays:
    the tile by clipped floor, then, inside a hot tile of ``fmap``
    ({(ti, tj): f}), its f×f sub-cell by the same rule."""
    ti = np.clip(np.floor((px - x0) / ts).astype(np.int64), 0, cols - 1)
    tj = np.clip(np.floor((py - y0) / ts).astype(np.int64), 0, rows - 1)
    f = np.ones(px.size, dtype=np.int64)
    si = np.zeros(px.size, dtype=np.int64)
    sj = np.zeros(px.size, dtype=np.int64)
    for (hti, htj), fv in fmap.items():
        hot = (ti == hti) & (tj == htj)
        if not hot.any():
            continue
        side = ts / fv
        si[hot] = np.clip(
            np.floor((px[hot] - (x0 + hti * ts)) / side).astype(np.int64), 0, fv - 1
        )
        sj[hot] = np.clip(
            np.floor((py[hot] - (y0 + htj * ts)) / side).astype(np.int64), 0, fv - 1
        )
        f[hot] = fv
    return ti, tj, f, si, sj


def core_key(ti, tj, fv, si, sj, rows):
    """Single int64 key of a claim core (f ≤ 16, si/sj < f)."""
    return (((ti * rows + tj) * 17 + fv) * 16 + si) * 16 + sj


def touching_cores(cx, cy, x0, y0, ts, cols, rows, fmap):
    """Every claim core ``(ti, tj, f, si, sj)`` whose closure contains
    the point: its own core, plus the lower neighbour across each tile
    or hot sub-cell line the point lies on."""
    i = min(max(int(np.floor((cx - x0) / ts)), 0), cols - 1)
    j = min(max(int(np.floor((cy - y0) / ts)), 0), rows - 1)
    tis = {i}
    if cx == x0 + i * ts and i > 0:
        tis.add(i - 1)
    tjs = {j}
    if cy == y0 + j * ts and j > 0:
        tjs.add(j - 1)
    out = []
    for a in tis:
        for b in tjs:
            fv = fmap.get((a, b), 1)
            side = ts / fv
            tx0 = x0 + a * ts
            ty0 = y0 + b * ts
            u = min(max(int(np.floor((cx - tx0) / side)), 0), fv - 1)
            v = min(max(int(np.floor((cy - ty0) / side)), 0), fv - 1)
            us = {u}
            if cx == tx0 + u * side and u > 0:
                us.add(u - 1)
            vs = {v}
            if cy == ty0 + v * side and v > 0:
                vs.add(v - 1)
            for p in us:
                for q in vs:
                    out.append((a, b, fv, p, q))
    return out


CORE_REACH_MAX_SPAN = 4096


def core_reach_index(bx1, by1, bx2, by2, x0, y0, ts, cols, rows, fmap):
    """Which claim cores each bbox may reach: ``(by_core, always)`` with
    ``by_core`` = {core key: [bbox index]} over the bbox's tiles padded
    by one tile each side (a superset), and ``always`` = the bboxes
    spanning more than ``CORE_REACH_MAX_SPAN`` tiles, which every core
    tests rather than enumerating them into the index."""
    by_core: dict = {}
    always: list = []
    i_lo = np.clip(np.floor((bx1 - x0) / ts).astype(np.int64) - 1, 0, cols - 1)
    i_hi = np.clip(np.floor((bx2 - x0) / ts).astype(np.int64) + 1, 0, cols - 1)
    j_lo = np.clip(np.floor((by1 - y0) / ts).astype(np.int64) - 1, 0, rows - 1)
    j_hi = np.clip(np.floor((by2 - y0) / ts).astype(np.int64) + 1, 0, rows - 1)
    for gi in range(len(bx1)):
        span = (int(i_hi[gi]) - int(i_lo[gi]) + 1) * (int(j_hi[gi]) - int(j_lo[gi]) + 1)
        if span > CORE_REACH_MAX_SPAN:
            always.append(gi)
            continue
        for a in range(int(i_lo[gi]), int(i_hi[gi]) + 1):
            for b in range(int(j_lo[gi]), int(j_hi[gi]) + 1):
                fv = fmap.get((a, b), 1)
                for p in range(fv):
                    for q in range(fv):
                        by_core.setdefault(core_key(a, b, fv, p, q, rows), []).append(gi)
    return by_core, always


def owned_by_core(cx, cy, key, x0, y0, tile_size):
    """Mask of the points inside (sub-)tile ``key``'s half-open core
    ``[min, min + side)``, unclipped: points outside the grid belong to
    no core (the tiled path's exactly-once ownership, tiling.rs:99-106)."""
    tile_i, tile_j, f, sub_i, sub_j = (int(k) for k in key)
    side = tile_size / f
    core_x0 = x0 + tile_i * tile_size + sub_i * side
    core_y0 = y0 + tile_j * tile_size + sub_j * side
    return (cx >= core_x0) & (cx < core_x0 + side) & (cy >= core_y0) & (cy < core_y0 + side)
