"""Single-threaded timings of the pure-numpy kernels, stage by stage.

The stages are those of ``kernels.polygonize.polygonize_lines``:
dedup + segmentize, snap-rounding noding, graph build/sort/prune, ring
tracing and polygon assembly, each timed on its own; the whole call is
then timed once more as ``single_group_s``. The coverage-index kernel is
built from the resulting polygons and probed with caller-given points.
"""

from __future__ import annotations

import time

import numpy as np

from geo_polygonize_spark.kernels import graph, noding, polygonize, rings
from geo_polygonize_spark.kernels.coverage import CoverageIndex


def time_polygonize(xs, ys, node_input: bool = True, drop_collapsed: bool = True) -> dict:
    """Stage timings (s) and counts for polygonizing one group of lines."""
    out = {}
    t = time.perf_counter()
    lx, ly = polygonize.dedup_lines(xs, ys) if node_input else (xs, ys)
    x1, y1, x2, y2 = polygonize.segmentize(lx, ly)
    out["segmentize_s"] = time.perf_counter() - t
    n_in = x1.size
    t = time.perf_counter()
    if node_input:
        x1, y1, x2, y2 = noding.node_segments(x1, y1, x2, y2, polygonize.DEFAULT_SNAP_GRID)
    out["node_segments_s"] = time.perf_counter() - t
    out["segments_out_per_in"] = x1.size / n_in if n_in else 0.0
    t = time.perf_counter()
    g = graph.build_graph(x1, y1, x2, y2)
    graph.sort_edges(g)
    graph.prune_dangles(g)
    out["build_sort_prune_s"] = time.perf_counter() - t
    t = time.perf_counter()
    ring_xs, ring_ys = graph.edge_rings(g)
    out["edge_rings_s"] = time.perf_counter() - t
    out["rings"] = len(ring_xs)
    t = time.perf_counter()
    polys = rings.assemble_polygons(ring_xs, ring_ys, drop_collapsed=drop_collapsed)
    out["assemble_polygons_s"] = time.perf_counter() - t
    out["polygons"] = len(polys)
    t = time.perf_counter()
    whole = polygonize.polygonize_lines(xs, ys, node_input=node_input, drop_collapsed=drop_collapsed)
    out["single_group_s"] = time.perf_counter() - t
    if len(whole) != len(polys):
        raise AssertionError(f"stage-by-stage {len(polys)} != polygonize_lines {len(whole)}")
    out["ring_xs"], out["ring_ys"] = ring_xs, ring_ys
    return out


def time_coverage(ring_xs, ring_ys, px, py, drop_collapsed: bool, use_f32: bool) -> dict:
    """Index build time, probe rate and share of probes found for a
    coverage index over the polygons assembled from the given rings."""
    rows = rings.assemble_polygons_pdf(ring_xs, ring_ys, drop_collapsed, 0, 0).to_dict("records")
    t = time.perf_counter()
    index = CoverageIndex(rows, use_f32=use_f32)
    build_s = time.perf_counter() - t
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    t = time.perf_counter()
    found, _, _ = index.query(px, py)
    query_s = time.perf_counter() - t
    return {
        "index_build_s": build_s,
        "query_probes_per_s": px.size / query_s,
        "found_share": float(np.mean(found)) if px.size else 0.0,
    }
