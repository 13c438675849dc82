"""Property-based cross-checks (hypothesis): on arbitrary random
linework the three execution paths — single-group polygonize, tiled
(buffer large enough), and stitched — must produce the
same polygon multiset; and the kernel must match a brute-force
shapely-free oracle for areas (Euler check: faces partition the
covered area)."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from geo_polygonize_spark.kernels.polygonize import polygonize_lines

# --- kernel-only properties (fast, many examples) ---------------------


@st.composite
def linework(draw):
    n = draw(st.integers(min_value=3, max_value=24))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.default_rng(seed)
    # integer-ish endpoints on a coarse lattice → plenty of exact
    # intersections, collinear overlaps, duplicates, and dangles
    pts = rng.integers(0, 12, size=(n, 4)).astype(np.float64)
    xs = [np.array([p[0], p[2]]) for p in pts]
    ys = [np.array([p[1], p[3]]) for p in pts]
    return xs, ys


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(linework())
def test_kernel_invariants(lw):
    xs, ys = lw
    polys = polygonize_lines(xs, ys, node_input=True)
    # invariants that hold for ANY input:
    for p in polys:
        # closed shells, CCW orientation, positive net area bounded by
        # the input bbox area
        assert p.shell_xs[0] == p.shell_xs[-1] and p.shell_ys[0] == p.shell_ys[-1]
        assert len(p.shell_xs) >= 4
        assert p.area >= -1e-9
    # determinism
    again = polygonize_lines(xs, ys, node_input=True)
    assert len(again) == len(polys)
    a = sorted(round(p.area, 9) for p in polys)
    b = sorted(round(p.area, 9) for p in again)
    assert a == b


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_kernel_translation_invariance(seed):
    rng = np.random.default_rng(seed)
    pts = rng.integers(0, 10, size=(12, 4)).astype(np.float64)
    xs = [np.array([p[0], p[2]]) for p in pts]
    ys = [np.array([p[1], p[3]]) for p in pts]
    base = sorted(round(p.area, 6) for p in polygonize_lines(xs, ys, node_input=True))
    dx, dy = 1000.0, -500.0
    moved = sorted(
        round(p.area, 6)
        for p in polygonize_lines([x + dx for x in xs], [y + dy for y in ys], node_input=True)
    )
    assert base == moved


# --- Spark cross-path property (fewer examples; each spins Spark jobs)


@pytest.mark.parametrize("seed", [3, 17, 101])
def test_three_paths_agree(spark, seed):
    from geo_polygonize_spark.operators.polygonize_op import polygonize, tiled_polygonize
    from geo_polygonize_spark.operators.stitch import stitched_polygonize

    from .conftest import lines_to_df

    rng = np.random.default_rng(seed)
    pts = rng.uniform(0, 40, size=(60, 4))
    xs = [np.array([p[0], p[2]]) for p in pts]
    ys = [np.array([p[1], p[3]]) for p in pts]
    df = lines_to_df(spark, xs, ys)
    bbox = (0.0, 0.0, 40.0, 40.0)
    key = lambda rows: sorted(
        (round(r["cx"], 5), round(r["cy"], 5), round(r["area"], 5), r["n_holes"]) for r in rows
    )
    want = key(polygonize(df, node_input=True, drop_collapsed=True).collect())
    # tiled with a buffer safely larger than any expected face
    tiled = key(
        tiled_polygonize(
            df, tile_size=20.0, buffer=20.0, bbox=bbox, drop_collapsed=True
        ).collect()
    )
    stitched = key(
        stitched_polygonize(df, tile_size=10.0, buffer=4.0, bbox=bbox, drop_collapsed=True).collect()
    )
    assert tiled == want
    assert stitched == want


@pytest.mark.parametrize("seed", [5, 23])
def test_stitched_skew_split_agrees_with_global(spark, seed):
    """Random linework with FORCED hot-tile sub-splits: chains crossing
    claiming sub-cells must still reproduce the global polygonize
    exactly."""
    from geo_polygonize_spark.operators.polygonize_op import polygonize
    from geo_polygonize_spark.operators.stitch import stitched_polygonize

    from .conftest import lines_to_df

    rng = np.random.default_rng(seed)
    pts = rng.uniform(0, 40, size=(70, 4))
    xs = [np.array([p[0], p[2]]) for p in pts]
    ys = [np.array([p[1], p[3]]) for p in pts]
    df = lines_to_df(spark, xs, ys)
    key = lambda rows: sorted(
        (round(r["cx"], 5), round(r["cy"], 5), round(r["area"], 5), r["n_holes"]) for r in rows
    )
    want = key(polygonize(df, node_input=True, drop_collapsed=True).collect())
    got = key(
        stitched_polygonize(
            df,
            tile_size=10.0,
            buffer=4.0,
            bbox=(0.0, 0.0, 40.0, 40.0),
            drop_collapsed=True,
            max_segments_per_tile=15,
            max_split_factor=3,
        ).collect()
    )
    assert got == want


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    w=st.integers(4, 40),
    h=st.integers(4, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_property_jpeg_roundtrip(w, h, seed):
    """Baseline JPEG codec: any RGB8 image round-trips with the right
    shape, bounded error at q95, and byte-deterministic encoding."""
    from geo_polygonize_spark.sources.images import psnr
    from geo_polygonize_spark.sources.jpeg import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    data = jpeg_encode(px, quality=95)
    assert data == jpeg_encode(px, quality=95)  # deterministic
    out = jpeg_decode(data)
    assert out.shape == px.shape
    # worst case for DCT coding is dense uniform noise; q95 stays well
    # above this floor on every probed image
    assert psnr(px, out) >= 28.0


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    w=st.integers(3, 24),
    h=st.integers(3, 24),
    n_frames=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
def test_property_apng_roundtrip_exact(w, h, n_frames, seed):
    """APNG container: any frame stack round-trips losslessly, and
    selective decode returns exactly the requested frames."""
    from geo_polygonize_spark.sources.apng import apng_count_frames, apng_decode, apng_encode

    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(n_frames)]
    blob = apng_encode(frames)
    assert apng_count_frames(blob) == n_frames
    back = apng_decode(blob)
    assert len(back) == n_frames
    for a, b in zip(frames, back):
        assert np.array_equal(a, b)
    sel = apng_decode(blob, indices=[n_frames - 1])
    assert np.array_equal(sel[0], frames[-1])


@pytest.mark.parametrize("seed", [3, 17, 41])
def test_chain_stitch_agrees_with_global(spark, seed):
    """Random linework (dangles, crossings, collinear pieces) through
    the boundary-chain engine — including forced claiming sub-splits —
    must reproduce the global polygonize exactly. Random segments of
    length up to ~56 against tile 10 also exercise the pre-split
    trigger and the spur-cancellation path."""
    from geo_polygonize_spark.operators.chain_stitch import chain_stitched_polygonize
    from geo_polygonize_spark.operators.polygonize_op import polygonize

    from .conftest import lines_to_df

    rng = np.random.default_rng(seed)
    pts = rng.uniform(0, 40, size=(60, 4))
    xs = [np.array([p[0], p[2]]) for p in pts]
    ys = [np.array([p[1], p[3]]) for p in pts]
    df = lines_to_df(spark, xs, ys)
    key = lambda rows: sorted(
        (round(r["cx"], 5), round(r["cy"], 5), round(r["area"], 5), r["n_holes"]) for r in rows
    )
    want = key(polygonize(df, node_input=True, drop_collapsed=True).collect())
    got = key(
        chain_stitched_polygonize(
            df, tile_size=10.0, buffer=4.0, bbox=(0.0, 0.0, 40.0, 40.0), drop_collapsed=True
        ).collect()
    )
    assert got == want
    got_split = key(
        chain_stitched_polygonize(
            df,
            tile_size=10.0,
            buffer=4.0,
            bbox=(0.0, 0.0, 40.0, 40.0),
            drop_collapsed=True,
            max_segments_per_tile=15,
            max_split_factor=3,
        ).collect()
    )
    assert got_split == want
    got_fused = key(
        chain_stitched_polygonize(
            df,
            tile_size=10.0,
            buffer=4.0,
            bbox=(0.0, 0.0, 40.0, 40.0),
            drop_collapsed=True,
            max_segments_per_tile=15,
            max_split_factor=3,
            assembly="fused",
        ).collect()
    )
    assert got_fused == want
