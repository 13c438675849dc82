"""Kernel unit tests — mirror the reference's graph/noding unit suite
(reference: src/graph/tests.rs, src/noding tests; FIXTURES.md §2)."""

import numpy as np
import pytest

from geo_polygonize_spark.kernels.graph import (
    build_graph,
    edge_rings,
    prune_dangles,
    sort_edges,
)
from geo_polygonize_spark.kernels.intersect import (
    COLLINEAR_OVERLAP,
    NONE,
    SINGLE_POINT,
    orient2d_sign,
    segment_intersections,
)
from geo_polygonize_spark.kernels.morton import cell_morton, part1by1, z_order_index
from geo_polygonize_spark.kernels.noding import node_segments
from geo_polygonize_spark.kernels.rings import (
    canonicalize_ring,
    centroid,
    point_in_ring,
    points_in_ring,
    signed_area,
)


def arr(*v):
    return np.asarray(v, dtype=np.float64)


class TestOrient2d:
    def test_basic(self):
        s = orient2d_sign(arr(0), arr(0), arr(1), arr(0), arr(0.5), arr(1))
        assert s[0] == 1  # c left of a->b
        s = orient2d_sign(arr(0), arr(0), arr(1), arr(0), arr(0.5), arr(-1))
        assert s[0] == -1
        s = orient2d_sign(arr(0), arr(0), arr(1), arr(0), arr(2), arr(0))
        assert s[0] == 0

    def test_nearly_collinear_exact(self):
        # classic Shewchuk stress: points nearly on a line; naive f64
        # may return 0/wrong sign, the exact fallback must not.
        ax, ay = 0.5, 0.5
        bx, by = 12.0, 12.0
        cx = 24.0
        cy = float(np.nextafter(24.0, np.inf))  # 1 ulp above the diagonal
        s = orient2d_sign(arr(ax), arr(ay), arr(bx), arr(by), arr(cx), arr(cy))
        # c is strictly above the line a-b → (a, b, c) is CCW →
        # cross(a-c, b-c) must be strictly positive... determine sign
        # via the exact rational oracle inline:
        from fractions import Fraction

        det = (Fraction(ax) - Fraction(cx)) * (Fraction(by) - Fraction(cy)) - (
            Fraction(ay) - Fraction(cy)
        ) * (Fraction(bx) - Fraction(cx))
        expect = (det > 0) - (det < 0)
        assert expect != 0
        assert s[0] == expect


class TestSegmentIntersections:
    def test_proper_cross(self):
        kind, x, y, *_ = segment_intersections(
            arr(0), arr(0), arr(10), arr(10), arr(0), arr(10), arr(10), arr(0)
        )
        assert kind[0] == SINGLE_POINT
        assert x[0] == pytest.approx(5.0) and y[0] == pytest.approx(5.0)

    def test_endpoint_touch(self):
        kind, x, y, *_ = segment_intersections(
            arr(0), arr(0), arr(10), arr(0), arr(10), arr(0), arr(10), arr(10)
        )
        assert kind[0] == SINGLE_POINT
        assert (x[0], y[0]) == (10.0, 0.0)

    def test_disjoint(self):
        kind, *_ = segment_intersections(
            arr(0), arr(0), arr(1), arr(0), arr(5), arr(5), arr(6), arr(5)
        )
        assert kind[0] == NONE

    def test_parallel(self):
        kind, *_ = segment_intersections(
            arr(0), arr(0), arr(10), arr(0), arr(0), arr(1), arr(10), arr(1)
        )
        assert kind[0] == NONE

    def test_collinear_overlap(self):
        kind, x1, y1, x2, y2 = segment_intersections(
            arr(0), arr(0), arr(10), arr(0), arr(5), arr(0), arr(15), arr(0)
        )
        assert kind[0] == COLLINEAR_OVERLAP
        assert (x1[0], x2[0]) == (5.0, 10.0)

    def test_collinear_touch(self):
        kind, x1, y1, *_ = segment_intersections(
            arr(0), arr(0), arr(10), arr(0), arr(10), arr(0), arr(20), arr(0)
        )
        assert kind[0] == SINGLE_POINT
        assert x1[0] == 10.0

    def test_collinear_disjoint(self):
        kind, *_ = segment_intersections(
            arr(0), arr(0), arr(1), arr(0), arr(5), arr(0), arr(6), arr(0)
        )
        assert kind[0] == NONE


class TestNoding:
    def test_cross_splits_to_four(self):
        x1, y1, x2, y2 = node_segments(
            arr(0, 0), arr(0, 10), arr(10, 10), arr(10, 0), grid=1e-10
        )
        assert x1.size == 4

    def test_collinear_overlap_noding(self):
        # reference polygonizer_tests.rs:83-115 input (first two lines)
        x1, y1, x2, y2 = node_segments(
            arr(0, 5), arr(0, 0), arr(10, 15), arr(0, 0), grid=1e-10
        )
        segs = sorted(zip(x1, y1, x2, y2))
        assert (0.0, 0.0, 5.0, 0.0) in segs
        assert (5.0, 0.0, 10.0, 0.0) in segs
        assert (10.0, 0.0, 15.0, 0.0) in segs
        assert len(segs) == 3  # dup middle removed

    def test_idempotent_when_noded(self):
        x1, y1, x2, y2 = node_segments(arr(0, 1), arr(0, 0), arr(1, 2), arr(0, 0), grid=1e-10)
        assert x1.size == 2


class TestCandidatePairs:
    def test_hot_cell_chunked_fallback_equivalence(self):
        """A degenerate cell (hundreds of mutually-overlapping segments
        in one bin) must produce the SAME candidate pair set through
        the chunked hot-cell path as through the vectorized path, with
        bounded peak memory."""
        from geo_polygonize_spark.kernels.noding import _candidate_pairs

        rng = np.random.default_rng(0)
        n = 300
        # all segments cross the unit square center → one shared bin
        x1 = rng.uniform(0.0, 0.4, n)
        y1 = rng.uniform(0.0, 0.4, n)
        x2 = rng.uniform(0.6, 1.0, n)
        y2 = rng.uniform(0.6, 1.0, n)
        i_big, j_big = _candidate_pairs(x1, y1, x2, y2, max_pairs_per_cell=10**9)
        i_hot, j_hot = _candidate_pairs(x1, y1, x2, y2, max_pairs_per_cell=64)
        big = set(zip(i_big.tolist(), j_big.tolist()))
        hot = set(zip(i_hot.tolist(), j_hot.tolist()))
        assert big == hot
        assert len(big) > 0


class TestGraph:
    def test_construction_counts(self):
        # reference src/graph/tests.rs:7-22 — two segments from origin
        g = build_graph(arr(0, 0), arr(0, 0), arr(1, 0), arr(0, 1))
        assert g.n_nodes == 3
        assert g.n_edges == 2
        assert g.de_src.size == 4
        assert g.degree[np.flatnonzero((g.nx == 0) & (g.ny == 0))[0]] == 2

    def test_ccw_sort_order(self):
        # reference src/graph/tests.rs:25-65 — 4 rays: Right, Up, Left, Down
        g = build_graph(arr(0, 0, 0, 0), arr(0, 0, 0, 0), arr(1, 0, -1, 0), arr(0, 1, 0, -1))
        sort_edges(g)
        origin = int(np.flatnonzero((g.nx == 0) & (g.ny == 0))[0])
        lo, hi = g.adj_offsets[origin], g.adj_offsets[origin + 1]
        fan = g.adj_de[lo:hi]
        dirs = [(g.nx[g.de_dst[e]], g.ny[g.de_dst[e]]) for e in fan]
        assert dirs == [(1.0, 0.0), (0.0, 1.0), (-1.0, 0.0), (0.0, -1.0)]

    def test_prune_dangles(self):
        # reference src/graph/tests.rs:68-85 — triangle + dangle (10,0)-(20,0)
        g = build_graph(
            arr(0, 10, 5, 10), arr(0, 0, 5, 0), arr(10, 5, 0, 20), arr(0, 5, 0, 0)
        )
        sort_edges(g)
        n10 = int(np.flatnonzero((g.nx == 10) & (g.ny == 0))[0])
        assert g.degree[n10] == 3
        removed = prune_dangles(g)
        assert removed == 1
        assert g.degree[n10] == 2

    def test_triangle_two_rings(self):
        # reference src/graph/tests.rs:88-99 — triangle → CCW + CW ring
        g = build_graph(arr(0, 10, 5), arr(0, 0, 5), arr(10, 5, 0), arr(0, 5, 0))
        sort_edges(g)
        prune_dangles(g)
        xs, ys = edge_rings(g)
        assert len(xs) == 2
        areas = sorted(signed_area(x, y) for x, y in zip(xs, ys))
        assert areas[0] == pytest.approx(-25.0)
        assert areas[1] == pytest.approx(25.0)

    def test_long_dangle_chain(self):
        # chain of 3 collinear segments — all pruned in cascading rounds
        g = build_graph(arr(0, 1, 2), arr(0, 0, 0), arr(1, 2, 3), arr(0, 0, 0))
        sort_edges(g)
        assert prune_dangles(g) == 3
        assert edge_rings(g) == ([], [])


class TestRings:
    def test_signed_area_centroid(self):
        xs = arr(0, 4, 4, 0, 0)
        ys = arr(0, 0, 4, 4, 0)
        assert signed_area(xs, ys) == pytest.approx(16.0)
        assert signed_area(xs[::-1], ys[::-1]) == pytest.approx(-16.0)
        assert centroid(xs, ys) == (pytest.approx(2.0), pytest.approx(2.0))

    def test_point_in_ring(self):
        xs = arr(0, 10, 10, 0, 0)
        ys = arr(0, 0, 10, 10, 0)
        assert point_in_ring(5, 5, xs, ys)
        assert not point_in_ring(15, 5, xs, ys)
        got = points_in_ring(arr(5, 15, -1, 9.99), arr(5, 5, 5, 9.99), xs, ys)
        assert got.tolist() == [True, False, False, True]

    def test_canonicalize(self):
        xs = arr(4, 0, 0, 4, 4)
        ys = arr(4, 4, 0, 0, 4)
        cx, cy = canonicalize_ring(xs, ys)
        assert (cx[0], cy[0]) == (0.0, 0.0)
        assert signed_area(cx, cy) == pytest.approx(signed_area(xs, ys))

    def test_rotation_tiebreak_pinch_ring(self):
        """A pinched (figure-eight) face boundary visits its minimum
        vertex twice; the canonical rotation must be identical no
        matter which storage rotation the tracer produced (ADVICE r2:
        divergent rotations broke the cross-tile bit-identity
        contract)."""
        from geo_polygonize_spark.kernels.rings import batch_ring_stats

        # closed ring pinched at (0,0): two lobes
        px = arr(0, 2, 2, 0, 0, 1, 0)
        py = arr(0, 0, 1, 0, 2, 2, 0)

        def rotate_closed(xs, ys, k):
            xo, yo = xs[:-1], ys[:-1]
            rx, ry = np.roll(xo, -k), np.roll(yo, -k)
            return np.concatenate([rx, rx[:1]]), np.concatenate([ry, ry[:1]])

        outs = []
        for k in range(6):
            rx, ry = rotate_closed(px, py, k)
            xr, yr, off, L, *_rest = batch_ring_stats([rx], [ry])
            outs.append((xr.tobytes(), yr.tobytes(), tuple(_rest[-3][:1])))
        assert all(o == outs[0] for o in outs[1:])
        # canonicalize_ring agrees with the batch kernel's choice
        c1 = canonicalize_ring(*rotate_closed(px, py, 2))
        c2 = canonicalize_ring(*rotate_closed(px, py, 5))
        assert c1[0].tolist() == c2[0].tolist() and c1[1].tolist() == c2[1].tolist()


class TestMorton:
    def test_part1by1(self):
        assert part1by1(np.array([0b1011], dtype=np.uint64))[0] == 0b1000101

    def test_order_preserved(self):
        x = arr(-5.0, -1.0, 0.0, 1.0, 5.0)
        b = z_order_index(x, np.zeros_like(x))
        assert b.dtype == np.uint64

    def test_cell_morton_locality(self):
        c = cell_morton(arr(0.5, 0.6, 99.0), arr(0.5, 0.6, 99.0), 0.0, 0.0, 1.0)
        assert c[0] == c[1]
        assert c[0] != c[2]


def test_coverage_index_f32_mirror_bit_identical():
    """r6 memory diet (kernels/coverage.py): the f32 ring-local ray
    cast + certified exact fallback must agree with the pure-f64
    evaluation on EVERY probe — including adversarial probes on or
    within a few ulps of edges/vertices, where the certification must
    route to the exact path rather than guess."""
    import numpy as np
    from geo_polygonize_spark.kernels.coverage import CoverageIndex

    rng = np.random.default_rng(11)
    polys = []
    pid = 0
    # unit-cell lattice patch, far from origin to stress cancellation
    X0 = 1000.0
    for i in range(12):
        for j in range(12):
            x, y = X0 + i, X0 + j
            polys.append(dict(
                tile_i=0, tile_j=0, poly_id=pid, area=1.0,
                shell_xs=[x, x + 1, x + 1, x, x],
                shell_ys=[y, y, y + 1, y + 1, y],
                hole_xs=None, hole_ys=None))
            pid += 1
    # a big ring with a hole (large extent -> larger f32 error scale)
    polys.append(dict(
        tile_i=0, tile_j=0, poly_id=pid, area=140.0,
        shell_xs=[X0 - 20, X0 - 2, X0 - 2, X0 - 20, X0 - 20],
        shell_ys=[X0, X0, X0 + 10, X0 + 10, X0],
        hole_xs=[[X0 - 15, X0 - 8, X0 - 8, X0 - 15, X0 - 15]],
        hole_ys=[[X0 + 2, X0 + 2, X0 + 7, X0 + 7, X0 + 2]]))

    idx = CoverageIndex(polys)
    ref = CoverageIndex(polys)
    # force the reference instance onto the pure-f64 path
    ref._ray_cast_pairs_fast = (
        lambda px, py, ridx, fx, fy, off, length, *rest:
        ref._ray_cast_pairs(px, py, ridx, fx, fy, off, length)
    )

    probes = [rng.uniform(X0 - 22, X0 + 13, size=(20000, 2))]
    # adversarial: on/near edges and vertices at several ulp scales
    edges_x = X0 + np.arange(13, dtype=np.float64)
    near = []
    for ex in edges_x[:6]:
        for d in (0.0, 1e-13, 1e-9, 1e-7, -1e-13, -1e-9, -1e-7):
            near.append([ex + d, X0 + 3.5])
            near.append([X0 + 3.5, ex - X0 + X0 + d])
            near.append([ex + d, ex - X0 + X0 + d])  # vertex-ish
    probes.append(np.asarray(near))
    pts = np.concatenate(probes)
    f1, i1, n1 = idx.query(pts[:, 0].copy(), pts[:, 1].copy())
    f2, i2, n2 = ref.query(pts[:, 0].copy(), pts[:, 1].copy())
    assert np.array_equal(f1, f2)
    assert np.array_equal(n1, n2)
    assert np.array_equal(i1[f1], i2[f2])


def test_coverage_index_f32_overflow_falls_back_to_f64():
    """Rings spanning ~6e19 around 1e19: the f32 cross products
    overflow to inf (and inf - inf to NaN), which no finite threshold
    certifies, so those rows must take the exact f64 ray cast."""
    import numpy as np
    from geo_polygonize_spark.kernels.coverage import CoverageIndex

    X0, S = 1e19, 3e19
    polys = [
        dict(tile_i=0, tile_j=0, poly_id=0, area=4 * S * S,
             shell_xs=[X0 - S, X0 + S, X0 + S, X0 - S, X0 - S],
             shell_ys=[X0 - S, X0 - S, X0 + S, X0 + S, X0 - S],
             hole_xs=[[X0 - S / 2, X0 + S / 3, X0 - S / 2]],
             hole_ys=[[X0 - S / 2, X0 - S / 4, X0 + S / 2]]),
        dict(tile_i=0, tile_j=0, poly_id=1, area=S * S / 4,
             shell_xs=[X0, X0 + 0.9 * S, X0 + 0.2 * S, X0],
             shell_ys=[X0 - 0.8 * S, X0, X0 + 0.7 * S, X0 - 0.8 * S],
             hole_xs=None, hole_ys=None),
    ]
    idx = CoverageIndex(polys)
    assert idx.use_f32
    ref = CoverageIndex(polys)
    ref._ray_cast_pairs_fast = (
        lambda px, py, ridx, fx, fy, off, length, *rest:
        ref._ray_cast_pairs(px, py, ridx, fx, fy, off, length)
    )
    pts = np.random.default_rng(3).uniform(X0 - 1.2 * S, X0 + 1.2 * S, size=(20000, 2))
    f1, i1, n1 = idx.query(pts[:, 0].copy(), pts[:, 1].copy())
    f2, i2, n2 = ref.query(pts[:, 0].copy(), pts[:, 1].copy())
    assert 0 < f2.sum() < len(pts) and n2.max() == 2  # both polygons and the hole are hit
    assert np.array_equal(f1, f2)
    assert np.array_equal(n1, n2)
    assert np.array_equal(i1[f1], i2[f2])
