"""Boundary-chain stitched polygonize (operators/chain_stitch.py):
equivalence with the global single-group polygonize, plus
chain-specific edge cases
(rings decomposed across many tiles, cross-tile dangles/spurs)."""

import numpy as np

from geo_polygonize_spark.operators import chain_stitch
from geo_polygonize_spark.operators.chain_stitch import chain_stitched_polygonize
from geo_polygonize_spark.operators.polygonize_op import polygonize
from geo_polygonize_spark.sources.fixtures import fixture, grid_lines, random_lines

from .conftest import lines_to_df
from .test_stitch import keyset


def test_chain_equals_global_on_grid(spark):
    n = 12
    xs, ys = grid_lines(n)
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, float(n), float(n))
    got = chain_stitched_polygonize(
        df, tile_size=4.0, buffer=1.5, bbox=bbox, drop_collapsed=True
    ).collect()
    want = polygonize(df, node_input=True, drop_collapsed=True).collect()
    assert keyset(got) == keyset(want)
    assert len(got) == n * n


def test_chain_recovers_big_polygons(spark):
    """nested_holes rings (100/60/20) vs tile 10: every big ring spans
    many tiles and must reassemble from boundary chains."""
    xs, ys, node, snap = fixture("nested_holes")
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, 100.0, 100.0)
    for assembly in ("local", "fused"):
        got = chain_stitched_polygonize(
            df, tile_size=10.0, buffer=2.0, bbox=bbox, assembly=assembly
        ).collect()
        want = polygonize(df, node_input=node, snap_grid=snap).collect()
        assert sorted(round(r["area"], 6) for r in got) == [400.0, 3200.0, 6400.0]
        assert keyset(got) == keyset(want)
        donut = next(r for r in got if abs(r["area"] - 6400.0) < 1e-6)
        assert donut["n_holes"] == 1


def test_chain_equals_global_on_random(spark):
    """Random linework: dangles, crossings, cross-tile rings — the
    spur-cancellation path (no local pruning) must match the pruned
    global trace exactly."""
    xs, ys = random_lines(300)
    df = lines_to_df(spark, xs, ys)
    got = chain_stitched_polygonize(
        df, tile_size=25.0, buffer=5.0, bbox=(0.0, 0.0, 100.0, 100.0), drop_collapsed=True
    ).collect()
    want = polygonize(df, node_input=True, drop_collapsed=True).collect()
    assert keyset(got) == keyset(want)


def test_chain_mixed_scales(spark):
    n = 8
    gx, gy = grid_lines(n)
    gx = [x + 20.0 for x in gx]
    gy = [y + 20.0 for y in gy]
    giant_x = np.array([0.0, 60.0, 60.0, 0.0, 0.0])
    giant_y = np.array([0.0, 0.0, 60.0, 60.0, 0.0])
    df = lines_to_df(spark, gx + [giant_x], gy + [giant_y])
    bbox = (0.0, 0.0, 60.0, 60.0)
    got = chain_stitched_polygonize(df, tile_size=4.0, buffer=1.5, bbox=bbox).collect()
    want = polygonize(df, node_input=True).collect()
    assert keyset(got) == keyset(want)
    giant = next(r for r in got if abs(r["area"] - 3600.0) < 1e-6)
    assert giant["n_holes"] == 0
    hull = next(r for r in got if abs(r["area"]) < 1e-6)
    assert hull["n_holes"] == 64


def test_chain_far_from_origin(spark):
    n = 6
    xs, ys = grid_lines(n)
    off = 1.0e9
    xs = [[v + off for v in x] for x in xs]
    ys = [[v + off for v in y] for y in ys]
    df = lines_to_df(spark, xs, ys)
    bbox = (off, off, off + n, off + n)
    got = chain_stitched_polygonize(
        df, tile_size=3.0, buffer=1.5, bbox=bbox, drop_collapsed=True
    ).collect()
    assert len(got) == n * n
    assert all(abs(r["area"] - 1.0) < 1e-5 for r in got)


def test_chain_dangle_only_input(spark):
    xs = [[0.0, 4.0], [1.0, 5.0], [2.0, 2.0]]
    ys = [[0.0, 0.5], [2.0, 2.5], [3.0, 4.0]]
    df = lines_to_df(spark, xs, ys)
    for assembly in ("local", "fused"):
        got = chain_stitched_polygonize(
            df, tile_size=2.0, buffer=1.0, bbox=(0.0, 0.0, 6.0, 6.0), assembly=assembly
        ).collect()
        assert got == []


def test_chain_cross_tile_dangle_spur(spark):
    """A ring with a dangle crossing a tile boundary: the dangle's
    spur excursion spans two tiles' chains and must cancel exactly
    after the merge."""
    # square 3..7 with a whisker from (7,5) to (9,5): tile_size 5 puts
    # the boundary at x=5, the whisker crosses x=5? no - whisker at
    # x 7..9 crosses nothing; boundary crossing comes from the square.
    sq_x = [3.0, 7.0, 7.0, 3.0, 3.0]
    sq_y = [3.0, 3.0, 7.0, 7.0, 3.0]
    whisk_x = [7.0, 9.0]
    whisk_y = [5.0, 5.0]
    df = lines_to_df(spark, [sq_x, whisk_x], [sq_y, whisk_y])
    got = chain_stitched_polygonize(
        df, tile_size=5.0, buffer=2.5, bbox=(0.0, 0.0, 10.0, 10.0)
    ).collect()
    want = polygonize(df, node_input=True).collect()
    assert keyset(got) == keyset(want)
    # the square's CW ring is the CCW shell's twin (never promoted),
    # and the whisker cancels — exactly one polygon
    assert sorted(round(r["area"], 6) for r in got) == [16.0]


def test_chain_island_with_cross_core_dangle(spark):
    """An off-centre island in a big square, with a dangle on the
    island's outer side crossing the core boundary x=5. The island's
    CW face ring closes in its core, while its CCW twin carries the
    spur and closes through the merge: twin promotion must see the
    merged twin (else the island comes out twice). The big square's
    polygon has the island as an off-centre hole, so its centroid is
    not its shell's."""
    xs = [[0.0, 20.0, 20.0, 0.0, 0.0], [1.0, 4.0, 4.0, 1.0, 1.0], [4.0, 7.0]]
    ys = [[0.0, 0.0, 20.0, 20.0, 0.0], [1.0, 1.0, 4.0, 4.0, 1.0], [2.0, 2.0]]
    df = lines_to_df(spark, xs, ys)
    want = polygonize(df, node_input=True).collect()
    assert sorted((round(r["area"], 6), r["n_holes"]) for r in want) == [(9.0, 0), (391.0, 1)]
    for assembly in ("local", "fused"):
        got = chain_stitched_polygonize(
            df, tile_size=5.0, buffer=1.5, bbox=(0.0, 0.0, 20.0, 20.0), assembly=assembly
        ).collect()
        assert keyset(got) == keyset(want), assembly


def test_chain_long_buffer_segments(spark):
    """Segments longer than the user buffer: buffer_eff must expand to
    the max segment length so one step out of a core stays exact."""
    # long horizontal strips crossing many tiles
    rows = []
    for j in range(4):
        rows.append(([0.0, 40.0], [float(j * 3), float(j * 3)]))
    # verticals closing strips into rectangles
    cols = [([0.0, 0.0], [0.0, 9.0]), ([40.0, 40.0], [0.0, 9.0])]
    xs = [r[0] for r in rows + cols]
    ys = [r[1] for r in rows + cols]
    df = lines_to_df(spark, xs, ys)
    got = chain_stitched_polygonize(
        df, tile_size=5.0, buffer=0.5, bbox=(0.0, 0.0, 40.0, 9.0), drop_collapsed=True
    ).collect()
    want = polygonize(df, node_input=True, drop_collapsed=True).collect()
    assert keyset(got) == keyset(want)
    assert len(got) == 3  # three 40x3 strips


def test_chain_distributed_merge_equals_local(spark, monkeypatch):
    """LOCAL_CHAIN_MERGE_MAX=0 forces the CC + partition-walk merge;
    results must equal the one-task merge and the global trace."""
    monkeypatch.setattr(chain_stitch, "LOCAL_CHAIN_MERGE_MAX", 0)
    xs, ys, node, snap = fixture("nested_holes")
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, 100.0, 100.0)
    got = chain_stitched_polygonize(df, tile_size=10.0, buffer=2.0, bbox=bbox).collect()
    want = polygonize(df, node_input=node, snap_grid=snap).collect()
    assert keyset(got) == keyset(want)
    assert sorted(round(r["area"], 6) for r in got) == [400.0, 3200.0, 6400.0]


def test_chain_with_skew_subsplit_equals_global(spark):
    """Hot-tile f×f claiming sub-split (tiny max_segments_per_tile):
    chains now also cross SUB-cell boundaries and must merge exactly —
    in the chain protocol sub-splitting is only a finer claiming
    partition."""
    n = 10
    xs, ys = grid_lines(n)
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, float(n), float(n))
    got = chain_stitched_polygonize(
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


def test_chain_subsplit_big_rings_and_dangles(spark):
    """Sub-splits + cross-tile rings + dangles together: nested boxes
    (span every sub-window) with a whisker, forced tiny sub-cells."""
    xs, ys, node, snap = fixture("nested_holes")
    xs = xs + [[50.0, 120.0]]
    ys = ys + [[50.0, 50.0]]
    df = lines_to_df(spark, xs, ys)
    got = chain_stitched_polygonize(
        df,
        tile_size=10.0,
        buffer=2.0,
        bbox=(0.0, 0.0, 120.0, 100.0),
        max_segments_per_tile=4,
        max_split_factor=3,
    ).collect()
    want = polygonize(df, node_input=True).collect()
    assert keyset(got) == keyset(want)
    # nested boxes + the whisker's net-0 promoted hull (present in the
    # global trace too — keyset above pins the full equivalence)
    assert sorted(round(r["area"], 6) for r in got) == [0.0, 400.0, 3200.0, 6400.0]


def test_chain_fused_assembly_equals_global(spark):
    """assembly="fused" (per-core assembly over the trace output):
    covers merged shells adopting holes that have no core parent
    (nested_holes) and a plain lattice with no merged residue at all."""
    xs, ys, node, snap = fixture("nested_holes")
    df = lines_to_df(spark, xs, ys)
    got = chain_stitched_polygonize(
        df, tile_size=10.0, buffer=2.0, bbox=(0.0, 0.0, 100.0, 100.0),
        assembly="fused",
    ).collect()
    want = polygonize(df, node_input=node, snap_grid=snap).collect()
    assert keyset(got) == keyset(want)
    donut = next(r for r in got if abs(r["area"] - 6400.0) < 1e-6)
    assert donut["n_holes"] == 1

    n = 12
    xs, ys = grid_lines(n)
    df = lines_to_df(spark, xs, ys)
    got = chain_stitched_polygonize(
        df, tile_size=4.0, buffer=1.5, bbox=(0.0, 0.0, float(n), float(n)),
        drop_collapsed=True, assembly="fused",
    ).collect()
    want = polygonize(df, node_input=True, drop_collapsed=True).collect()
    assert keyset(got) == keyset(want) and len(got) == n * n


def test_chain_fused_visitor_routing(spark):
    """Mixed scales under the fused assembly: the net-zero promoted
    hull is a merged shell that must adopt the 64 one-cell CW holes,
    from core tasks and merged visitors alike, and the giant merged
    ring must stay hole-free."""
    n = 8
    gx, gy = grid_lines(n)
    gx = [x + 20.0 for x in gx]
    gy = [y + 20.0 for y in gy]
    giant_x = np.array([0.0, 60.0, 60.0, 0.0, 0.0])
    giant_y = np.array([0.0, 0.0, 60.0, 60.0, 0.0])
    df = lines_to_df(spark, gx + [giant_x], gy + [giant_y])
    bbox = (0.0, 0.0, 60.0, 60.0)
    got = chain_stitched_polygonize(
        df, tile_size=4.0, buffer=1.5, bbox=bbox, assembly="fused"
    ).collect()
    want = polygonize(df, node_input=True).collect()
    assert keyset(got) == keyset(want)
    assert next(r for r in got if abs(r["area"] - 3600.0) < 1e-6)["n_holes"] == 0
    assert next(r for r in got if abs(r["area"]) < 1e-6)["n_holes"] == 64
    # drop_collapsed must also drop a MERGED net-zero polygon
    got2 = chain_stitched_polygonize(
        df, tile_size=4.0, buffer=1.5, bbox=bbox, assembly="fused",
        drop_collapsed=True,
    ).collect()
    assert all(r["area"] > 1e-6 for r in got2)
    assert len(got2) == len(got) - 1


def test_chain_fused_subsplit_and_dist_merge(spark, monkeypatch):
    """Fused assembly under forced f×f claiming sub-splits AND the
    forced distributed chain merge: both alternate code paths feed the
    same fused finish."""
    xs, ys, node, snap = fixture("nested_holes")
    xs = xs + [[50.0, 120.0]]
    ys = ys + [[50.0, 50.0]]
    df = lines_to_df(spark, xs, ys)
    want = polygonize(df, node_input=True).collect()
    got = chain_stitched_polygonize(
        df, tile_size=10.0, buffer=2.0, bbox=(0.0, 0.0, 120.0, 100.0),
        max_segments_per_tile=4, max_split_factor=3, assembly="fused",
    ).collect()
    assert keyset(got) == keyset(want)
    monkeypatch.setattr(chain_stitch, "LOCAL_CHAIN_MERGE_MAX", 0)
    got_dm = chain_stitched_polygonize(
        df, tile_size=10.0, buffer=2.0, bbox=(0.0, 0.0, 120.0, 100.0), assembly="fused",
    ).collect()
    assert keyset(got_dm) == keyset(want)


def test_stitched_strategy_chain_dispatch(spark):
    """stitched_polygonize(strategy="chain") delegates to the chain
    engine and matches the default strategy exactly; retired
    selections are rejected."""
    import pytest

    from geo_polygonize_spark.operators.stitch import stitched_polygonize

    xs, ys = grid_lines(8)
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, 8.0, 8.0)
    got = stitched_polygonize(
        df, tile_size=3.0, buffer=1.5, bbox=bbox, drop_collapsed=True, strategy="chain"
    ).collect()
    want = stitched_polygonize(
        df, tile_size=3.0, buffer=1.5, bbox=bbox, drop_collapsed=True
    ).collect()
    assert keyset(got) == keyset(want) and len(got) == 64
    with pytest.raises(ValueError, match="strategy must be"):
        stitched_polygonize(df, tile_size=3.0, strategy="nope")
    for retired in ("split", "distributed"):
        with pytest.raises(ValueError, match="assembly must be"):
            stitched_polygonize(df, tile_size=3.0, assembly=retired)
    with pytest.raises(TypeError, match="escalation"):
        stitched_polygonize(df, tile_size=3.0, escalation="pruned")
