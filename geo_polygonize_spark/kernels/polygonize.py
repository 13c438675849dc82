"""Partition-local polygonize kernel: linework in, polygons out.

This is the numpy core that runs inside a grouped-map pandas UDF —
one call per tile/partition. It chains the stages of the reference's
``Polygonizer::polygonize`` (reference: ``src/polygonizer.rs:62-261``):

  dedup input lines (node mode) → segmentize → [iterated snap-rounding
  noder] → planar graph bulk load → CCW angular sort → dangle pruning
  → next-CCW ring tracing → classify/promote/assign/assemble.

Everything is numpy (Arrow-columnar, no per-row Python objects) — the
Spark analog of the reference's SoA + SIMD design
(``ARCHITECTURE.md:17-24``).
"""

from __future__ import annotations

import numpy as np

from .graph import build_graph, edge_rings, prune_dangles, sort_edges
from .noding import node_segments
from .rings import Polygon, assemble_polygons

DEFAULT_SNAP_GRID = 1e-10  # reference src/polygonizer.rs:45


def segmentize(lines_xs: list[np.ndarray], lines_ys: list[np.ndarray]):
    """LineString vertex arrays → flat 2-point segment arrays
    (reference src/polygonizer.rs:85-100)."""
    x1s, y1s, x2s, y2s = [], [], [], []
    for xs, ys in zip(lines_xs, lines_ys):
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        if xs.size < 2:
            continue
        x1s.append(xs[:-1])
        y1s.append(ys[:-1])
        x2s.append(xs[1:])
        y2s.append(ys[1:])
    if not x1s:
        z = np.empty(0, np.float64)
        return z, z.copy(), z.copy(), z.copy()
    return (
        np.concatenate(x1s),
        np.concatenate(y1s),
        np.concatenate(x2s),
        np.concatenate(y2s),
    )


def dedup_lines(lines_xs: list, lines_ys: list):
    """Drop duplicate identical input LineStrings before noding
    (reference src/polygonizer.rs:75-83; full-content dedup, which is
    the stated intent of the reference's sort-by-first-coord dedup)."""
    seen = set()
    out_xs, out_ys = [], []
    for xs, ys in zip(lines_xs, lines_ys):
        key = (np.asarray(xs, np.float64).tobytes(), np.asarray(ys, np.float64).tobytes())
        if key in seen:
            continue
        seen.add(key)
        out_xs.append(xs)
        out_ys.append(ys)
    return out_xs, out_ys


def polygonize_segments(
    x1,
    y1,
    x2,
    y2,
    node_input: bool = False,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
) -> list[Polygon]:
    """Polygonize a flat set of 2-point segments (the post-segmentize
    entry; tiles call this directly)."""
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    x2 = np.asarray(x2, dtype=np.float64)
    y2 = np.asarray(y2, dtype=np.float64)
    if x1.size == 0:
        return []
    if node_input:
        x1, y1, x2, y2 = node_segments(x1, y1, x2, y2, snap_grid)
        if x1.size == 0:
            return []
    g = build_graph(x1, y1, x2, y2)
    sort_edges(g)
    prune_dangles(g)
    ring_xs, ring_ys = edge_rings(g)
    return assemble_polygons(ring_xs, ring_ys, drop_collapsed=drop_collapsed)


def polygonize_segments_pdf(
    x1,
    y1,
    x2,
    y2,
    node_input: bool = False,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
    tile_i: int = -1,
    tile_j: int = -1,
):
    """``polygonize_segments`` fused straight to the POLYGON_SCHEMA
    pandas DataFrame (``rings.assemble_polygons_pdf``) — the Spark
    kernels' path: no per-polygon Python objects between assembly and
    Arrow."""
    from .rings import assemble_polygons_pdf

    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    x2 = np.asarray(x2, dtype=np.float64)
    y2 = np.asarray(y2, dtype=np.float64)
    if node_input and x1.size:
        x1, y1, x2, y2 = node_segments(x1, y1, x2, y2, snap_grid)
    if x1.size == 0:
        return assemble_polygons_pdf([], [], drop_collapsed, tile_i, tile_j)
    g = build_graph(x1, y1, x2, y2)
    sort_edges(g)
    prune_dangles(g)
    ring_xs, ring_ys = edge_rings(g)
    return assemble_polygons_pdf(ring_xs, ring_ys, drop_collapsed, tile_i, tile_j)


def polygonize_lines(
    lines_xs: list,
    lines_ys: list,
    node_input: bool = False,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
) -> list[Polygon]:
    """Polygonize LineStrings (vertex-array pairs) — the library entry
    matching ``Polygonizer::polygonize`` (src/polygonizer.rs:112)."""
    if node_input:
        lines_xs, lines_ys = dedup_lines(lines_xs, lines_ys)
    x1, y1, x2, y2 = segmentize(lines_xs, lines_ys)
    return polygonize_segments(
        x1, y1, x2, y2, node_input=node_input, snap_grid=snap_grid, drop_collapsed=drop_collapsed
    )
