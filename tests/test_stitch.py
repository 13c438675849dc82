"""Stitched polygonize: exactness where plain tiling
fails (polygons larger than tile+buffer) and equivalence elsewhere."""

import numpy as np
import pytest

from geo_polygonize_spark.operators.polygonize_op import polygonize, tiled_polygonize
from geo_polygonize_spark.operators.stitch import stitched_polygonize
from geo_polygonize_spark.sources.fixtures import fixture, grid_lines, random_lines

from .conftest import lines_to_df


def keyset(rows):
    # round(6): the stitched path canonicalizes ring rotation, so its
    # centroid summation order differs from the global trace by ~1e-9
    return sorted((round(r["cx"], 6), round(r["cy"], 6), round(r["area"], 6), r["n_holes"]) for r in rows)


def test_stitched_recovers_big_polygons(spark):
    # nested_holes: rings of size 100/60/20 versus tile_size 10 +
    # buffer 2 — the reference-parity tiled path LOSES the big rings
    # (src/tiling.rs flaw); the stitched path must recover all 3 exactly
    xs, ys, node, snap = fixture("nested_holes")
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, 100.0, 100.0)

    lossy = tiled_polygonize(df, tile_size=10.0, buffer=2.0, bbox=bbox).collect()
    assert len(lossy) < 3  # demonstrates the flaw being fixed

    # pin BOTH assembly strategies (auto picks local at this size)
    for assembly in ("local", "fused"):
        got = stitched_polygonize(
            df, tile_size=10.0, buffer=2.0, bbox=bbox, assembly=assembly
        ).collect()
        want = polygonize(df, node_input=node, snap_grid=snap).collect()
        assert sorted(round(r["area"], 6) for r in got) == [400.0, 3200.0, 6400.0]
        assert keyset(got) == keyset(want)
        donut = next(r for r in got if abs(r["area"] - 6400.0) < 1e-6)
        assert donut["n_holes"] == 1


def test_stitched_equals_global_on_grid(spark):
    n = 12
    xs, ys = grid_lines(n)
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, float(n), float(n))
    got = stitched_polygonize(df, tile_size=4.0, buffer=1.5, bbox=bbox, drop_collapsed=True).collect()
    want = polygonize(df, node_input=True, drop_collapsed=True).collect()
    assert keyset(got) == keyset(want)
    assert len(got) == n * n


def test_stitched_equals_global_on_random(spark):
    xs, ys = random_lines(300)
    df = lines_to_df(spark, xs, ys)
    got = stitched_polygonize(
        df, tile_size=25.0, buffer=5.0, bbox=(0.0, 0.0, 100.0, 100.0), drop_collapsed=True
    ).collect()
    want = polygonize(df, node_input=True, drop_collapsed=True).collect()
    assert keyset(got) == keyset(want)


def test_stitched_mixed_scales(spark):
    # a giant ring enclosing a small grid: the giant ring closes only
    # through the chain merge while grid cells close inside their tile
    # cores; the giant shell must receive the grid's outer CW ring as a
    # hole
    n = 8
    gx, gy = grid_lines(n)
    # shift grid to (20..28) inside a 0..60 giant square
    gx = [x + 20.0 for x in gx]
    gy = [y + 20.0 for y in gy]
    giant_x = np.array([0.0, 60.0, 60.0, 0.0, 0.0])
    giant_y = np.array([0.0, 0.0, 60.0, 60.0, 0.0])
    df = lines_to_df(spark, gx + [giant_x], gy + [giant_y])
    bbox = (0.0, 0.0, 60.0, 60.0)
    got = stitched_polygonize(df, tile_size=4.0, buffer=1.5, bbox=bbox).collect()
    want = polygonize(df, node_input=True).collect()
    assert keyset(got) == keyset(want)
    # the giant square face is empty of holes (the grid's cells belong
    # to the grid hull, which nets to 0 with 64 holes)
    giant = next(r for r in got if abs(r["area"] - 3600.0) < 1e-6)
    assert giant["n_holes"] == 0
    hull = next(r for r in got if abs(r["area"]) < 1e-6)
    assert hull["n_holes"] == 64


def test_stitched_with_skew_subsplit_equals_global(spark):
    """Force hot-tile sub-splits (tiny max_segments_per_tile): rings
    that fit a tile but not its claiming sub-cell must close through
    the chain merge and still come out exactly once."""
    n = 10
    xs, ys = grid_lines(n)
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, float(n), float(n))
    got = stitched_polygonize(
        df,
        tile_size=5.0,
        buffer=1.5,
        bbox=bbox,
        drop_collapsed=True,
        max_segments_per_tile=10,
        max_split_factor=4,
    ).collect()
    want = polygonize(df, node_input=True, drop_collapsed=True).collect()
    assert keyset(got) == keyset(want)
    assert len(got) == n * n


def test_stitched_subsplit_recovers_big_polygons(spark):
    # sub-splits + big rings together: the nested_holes rings cannot
    # fit any claiming sub-cell, so every one closes through the merge
    xs, ys, node, snap = fixture("nested_holes")
    df = lines_to_df(spark, xs, ys)
    got = stitched_polygonize(
        df,
        tile_size=10.0,
        buffer=2.0,
        bbox=(0.0, 0.0, 100.0, 100.0),
        max_segments_per_tile=4,
        max_split_factor=3,
    ).collect()
    assert sorted(round(r["area"], 6) for r in got) == [400.0, 3200.0, 6400.0]


def test_stitched_far_from_origin(spark):
    """Grid shifted to 1e9: the vectorized batch_ring_stats recentres
    per ring before the shoelace (a naive x·y shoelace returns 0.0 out
    there), and canonical rotation must stay bit-deterministic."""
    n = 6
    xs, ys = grid_lines(n)
    off = 1.0e9
    xs = [[v + off for v in x] for x in xs]
    ys = [[v + off for v in y] for y in ys]
    df = lines_to_df(spark, xs, ys)
    bbox = (off, off, off + n, off + n)
    got = stitched_polygonize(
        df, tile_size=3.0, buffer=1.5, bbox=bbox, drop_collapsed=True
    ).collect()
    assert len(got) == n * n
    assert all(abs(r["area"] - 1.0) < 1e-5 for r in got)


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_cross_engine_equivalence_random(spark, seed):
    """r6 (VERDICT r5 #3): the generic cross-engine instrument that
    caught the r5 bbox-overhang bug, promoted from scripts/cold_ab.py
    into CI. Random linework with a randomized segment-length regime
    and bbox overhang (the r5 bug's trigger class); single-group ground
    truth vs the chain engine's local (auto) and fused assemblies on
    value-level canonical keys,
    and tiled's deficit must consist ONLY of polygons its owner-tile
    buffered window provably cannot produce (the documented
    bounded-window contract, reference src/tiling.rs:66-106)."""
    from collections import Counter

    rng = np.random.default_rng(seed)
    nl = 600
    scale = float(rng.choice([6.0, 18.0, 40.0]))  # segment-length regime
    over = float(rng.choice([0.0, 30.0]))  # input overhang past the bbox
    pts = rng.uniform(-over, 120.0 + over, size=(nl, 2))
    ang = rng.uniform(0, 2 * np.pi, nl)
    ln = rng.uniform(0.3 * scale, scale, nl)
    xs = [[p[0], p[0] + l * np.cos(a)] for p, a, l in zip(pts, ang, ln)]
    ys = [[p[1], p[1] + l * np.sin(a)] for p, a, l in zip(pts, ang, ln)]
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, 120.0, 120.0)
    ts_, buf = 24.0, 1.5

    want_rows = polygonize(df, node_input=True, drop_collapsed=True).collect()
    want = keyset(want_rows)
    assert want, "degenerate fixture: ground truth produced no polygons"

    # auto picks the local assembly at this size; fused is forced
    for kwargs in ({"strategy": "auto"}, {"assembly": "fused"}):
        got = stitched_polygonize(
            df, tile_size=ts_, buffer=buf, bbox=bbox, drop_collapsed=True, **kwargs
        ).collect()
        assert keyset(got) == want, (kwargs, seed, scale, over)

    tiled_rows = tiled_polygonize(
        df, tile_size=ts_, buffer=buf, bbox=bbox, drop_collapsed=True
    ).collect()
    tset = keyset(tiled_rows)
    # tiled never invents polygons the global trace lacks
    assert not (Counter(tset) - Counter(want)), (seed, scale, over)

    def key_of(r):
        return (round(r["cx"], 6), round(r["cy"], 6), round(r["area"], 6), r["n_holes"])

    x0b, y0b, x1b, y1b = bbox
    cols = int(np.ceil((x1b - x0b) / ts_))
    rows_n = int(np.ceil((y1b - y0b) / ts_))
    by_key: dict = {}
    for r in want_rows:
        by_key.setdefault(key_of(r), []).append(r)
    missing = Counter(want) - Counter(tset)
    for k_, cnt in missing.items():
        for r in by_key[k_][:cnt]:
            sx = np.asarray(r["shell_xs"], np.float64)
            sy = np.asarray(r["shell_ys"], np.float64)
            i = int(np.floor((r["cx"] - x0b) / ts_))
            j = int(np.floor((r["cy"] - y0b) / ts_))
            in_grid = 0 <= i < cols and 0 <= j < rows_n
            fits_owner_window = (
                in_grid
                and sx.min() >= x0b + i * ts_ - buf
                and sx.max() <= x0b + (i + 1) * ts_ + buf
                and sy.min() >= y0b + j * ts_ - buf
                and sy.max() <= y0b + (j + 1) * ts_ + buf
            )
            assert not fits_owner_window, (
                "tiled dropped a polygon its owner window fully contains",
                k_, seed, scale, over,
            )


def test_stitched_dangle_only_input(spark):
    # open segments only: no rings anywhere; every trace either prunes
    # or escapes, assembly of an empty ring set must return cleanly
    xs = [[0.0, 4.0], [1.0, 5.0], [2.0, 2.0]]
    ys = [[0.0, 0.5], [2.0, 2.5], [3.0, 4.0]]
    df = lines_to_df(spark, xs, ys)
    for assembly in ("local", "fused"):
        got = stitched_polygonize(
            df, tile_size=2.0, buffer=1.0, bbox=(0.0, 0.0, 6.0, 6.0), assembly=assembly
        ).collect()
        assert got == []


def test_stitched_exact_when_input_overhangs_bbox(spark):
    """Segments extending past the DECLARED bbox (stale bbox metadata,
    the production hazard at catalog scale) — every stitched engine
    must still match the global single-group result exactly: segments
    wholly outside the bbox clamp into the edge tiles, whose claiming
    cores extend unbounded outward."""
    rng = np.random.default_rng(7)
    nl = 3000
    pts = rng.uniform(0, 200.0, size=(nl, 2))
    ang = rng.uniform(0, 2 * np.pi, nl)
    ln = rng.uniform(5, 25, nl)
    xs = [[p[0], p[0] + l * np.cos(a)] for p, a, l in zip(pts, ang, ln)]
    ys = [[p[1], p[1] + l * np.sin(a)] for p, a, l in zip(pts, ang, ln)]
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, 200.0, 200.0)  # does NOT cover the overhang
    want = polygonize(df, node_input=True, drop_collapsed=True).collect()
    # the fixture must actually exercise the hazard
    assert any(
        r["cx"] < 0 or r["cy"] < 0 or r["cx"] > 200 or r["cy"] > 200 for r in want
    )
    for kwargs in ({"strategy": "chain"}, {"strategy": "auto"}):
        got = stitched_polygonize(
            df, tile_size=20.0, buffer=1.5, bbox=bbox, drop_collapsed=True, **kwargs
        ).collect()
        assert keyset(got) == keyset(want), kwargs

