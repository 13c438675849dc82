"""Stitched polygonize — rings across partition boundaries.

This is the from-scratch distributed design the north_star asks for
and the reference lacks: its TiledPolygonizer silently LOSES any
polygon larger than tile+buffer (reference src/tiling.rs:66-106 —
the centroid-owner tile never sees the full ring; SURVEY.md §3.3).

The engine is the boundary-chain stitch in ``chain_stitch.py``: one
windowed trace pass claims every half-edge in exactly one tile core,
emits core-closed rings directly, and merges the open boundary chains
into the remaining rings by their link keys. Its module docstring
carries the correctness argument (claiming, exactness window, spur
cancellation, link keys, cycle closure); ``assembly.py`` carries the
argument for the per-core polygon assembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..kernels.polygonize import DEFAULT_SNAP_GRID
from .chain_stitch import chain_stitched_polygonize


def stitched_polygonize(
    lines_df: DataFrame,
    tile_size: float,
    buffer: float = 1.0,
    bbox: tuple[float, float, float, float] | None = None,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
    assembly: str = "auto",
    max_segments_per_tile: int | None = 200_000,
    max_split_factor: int = 16,
    strategy: str = "auto",
) -> DataFrame:
    """Exact distributed polygonize with no maximum polygon size.

    Output matches the single-group ``polygonize`` exactly (same ring
    set, same assembly semantics). Tracing and the chain merge are
    distributed; assembly runs in one task or per claim core.

    ``strategy``: "auto" (default) or "chain" — both run
    ``chain_stitch.chain_stitched_polygonize``. The chain engine beat
    the retired beacon-pruned level engine on every cold calibration
    workload (cold_ab_r5.json: grid-400 6.0 vs 8.3 s, grid-800 10.6 vs
    17.1 s, sparse-60k 6.8 vs 21.6–30.5 s, random-200 1.6 vs 3.5–5.0 s).

    ``assembly``: "auto" (single-task assembly up to
    ``chain_stitch.LOCAL_ASSEMBLY_MAX_RINGS`` (100,000) rings, the
    per-core fused assembly above), "local" (always one task) or
    "fused" (always the per-core assembly of
    ``assembly.assemble_rings_fused``); any other value raises
    ``ValueError``. Both run the one assembly rule of
    ``kernels/rings.py``.
    """
    if strategy not in ("auto", "chain"):
        raise ValueError(f"strategy must be auto|chain, got {strategy!r}")
    return chain_stitched_polygonize(
        lines_df,
        tile_size,
        buffer=buffer,
        bbox=bbox,
        snap_grid=snap_grid,
        drop_collapsed=drop_collapsed,
        assembly=assembly,
        max_segments_per_tile=max_segments_per_tile,
        max_split_factor=max_split_factor,
    )
