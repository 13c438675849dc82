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
    assemble_polygons_pdf,
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

    def test_bounded_faces_are_cw(self):
        # the tracer returns every bounded face CW and the unbounded
        # face CCW, so a lattice's cells are all CW rings
        from geo_polygonize_spark.kernels.polygonize import DEFAULT_SNAP_GRID, segmentize
        from geo_polygonize_spark.sources.fixtures import grid_lines

        g = build_graph(*node_segments(*segmentize(*grid_lines(3)), DEFAULT_SNAP_GRID))
        sort_edges(g)
        prune_dangles(g)
        areas = sorted(signed_area(x, y) for x, y in zip(*edge_rings(g)))
        assert areas == [-1.0] * 9 + [9.0]

    def test_ccw_rings_hold_a_cw_ring(self):
        # the vertices of a CCW ring's faces lie inside its hull: every
        # nondegenerate CCW ring's bbox holds some CW ring's bbox
        from geo_polygonize_spark.kernels.polygonize import DEFAULT_SNAP_GRID, segmentize
        from geo_polygonize_spark.kernels.rings import batch_ring_stats
        from geo_polygonize_spark.sources.fixtures import random_lines

        g = build_graph(*node_segments(*segmentize(*random_lines(50)), DEFAULT_SNAP_GRID))
        sort_edges(g)
        prune_dangles(g)
        *_, bx1, by1, bx2, by2, area, _, _ = batch_ring_stats(*edge_rings(g))
        ccw = np.flatnonzero(area >= 1e-9)
        cw = np.flatnonzero(area < 0.0)
        assert ccw.size and cw.size
        for i in ccw:
            inside = (bx1[cw] >= bx1[i]) & (by1[cw] >= by1[i]) & (bx2[cw] <= bx2[i]) & (
                by2[cw] <= by2[i]
            )
            assert inside.any(), i

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

    def test_ray_cast_pairs_paths_and_oracle(self, monkeypatch):
        """``ray_cast_pairs`` on CSR rings of 4-400 vertices plus one ring
        heavy enough for the y-bucketed index: forcing either path gives
        the same bits on every probe (vertices, edge midpoints,
        horizontal lines through vertices, far outside, NaN); the
        dispatched call equals per-ring calls; and it equals the
        division-form oracle ``points_in_ring`` away from the edges."""
        from geo_polygonize_spark.kernels import rings

        rng = np.random.default_rng(7)
        ring_list = []
        for k in range(60):
            n = 3000 if k == 0 else int(rng.integers(3, 400))
            t = np.sort(rng.uniform(0, 2 * np.pi, n))
            r = rng.uniform(0.5, 1.5, n)
            c = rng.uniform(0, 20, 2)
            xs = np.round(c[0] + r * np.cos(t), 2)
            ys = np.round(c[1] + r * np.sin(t), 2)
            ring_list.append((np.append(xs, xs[0]), np.append(ys, ys[0])))
        lens = np.array([x.size for x, _ in ring_list])
        off = np.concatenate(([0], np.cumsum(lens)))
        fx = np.concatenate([x for x, _ in ring_list])
        fy = np.concatenate([y for _, y in ring_list])

        m = 20_000
        ridx = rng.integers(0, len(ring_list), m)
        ridx[:2000] = 0  # 2000 pairs × 3001 vertices > _PAIR_BUDGET
        assert 2000 * lens[0] > rings._PAIR_BUDGET
        v = off[ridx] + rng.integers(0, 1 << 30, m) % (lens[ridx] - 1)
        px = rng.uniform(-1, 21, m)
        py = rng.uniform(-1, 21, m)
        q = m // 5
        px[:q], py[:q] = fx[v[:q]], fy[v[:q]]  # on vertices
        e = slice(q, 2 * q)
        px[e], py[e] = (fx[v[e]] + fx[v[e] + 1]) / 2, (fy[v[e]] + fy[v[e] + 1]) / 2
        py[2 * q : 3 * q] = fy[v[2 * q : 3 * q]]  # horizontal line through a vertex
        px[3 * q : 3 * q + 50] = 1e6  # outside every bbox
        px[-50:-25] = np.nan
        py[-25:] = np.nan

        got = rings.ray_cast_pairs(px, py, ridx, fx, fy, off)
        assert got.any() and not got.all()
        for budget in (0, 1 << 62):  # every ring bucketed / every ring dense
            monkeypatch.setattr(rings, "_PAIR_BUDGET", budget)
            assert np.array_equal(rings.ray_cast_pairs(px, py, ridx, fx, fy, off), got)
        monkeypatch.undo()

        per_ring = np.zeros(m, dtype=bool)
        for r in np.unique(ridx):
            rows = np.flatnonzero(ridx == r)
            per_ring[rows] = rings.ray_cast_pairs(px[rows], py[rows], ridx[rows], fx, fy, off)
        assert np.array_equal(per_ring, got)

        # oracle on finite probes at least 1e-9 from every edge of their ring
        oracle = np.zeros(m, dtype=bool)
        clear = np.isfinite(px) & np.isfinite(py)
        for r in np.unique(ridx):
            rows = np.flatnonzero((ridx == r) & clear)
            xs, ys = ring_list[r]
            ax, ay, bx, by = xs[:-1], ys[:-1], xs[1:], ys[1:]
            dx, dy = bx - ax, by - ay
            qx, qy = px[rows][:, None], py[rows][:, None]
            # projection onto each edge; a zero-length edge (a vertex
            # repeated after rounding) projects to its start
            num, den = (qx - ax) * dx + (qy - ay) * dy, dx * dx + dy * dy
            t = np.clip(np.divide(num, den, out=np.zeros_like(num), where=den > 0), 0, 1)
            dist = np.hypot(qx - ax - t * dx, qy - ay - t * dy).min(axis=1)
            clear[rows] = dist >= 1e-9
            oracle[rows] = points_in_ring(px[rows], py[rows], xs, ys)
        assert clear.sum() > m // 4 and oracle[clear].any()
        assert np.array_equal(got[clear], oracle[clear])

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


def box_ring(x1, y1, x2, y2, cw=False):
    """Closed axis-aligned rectangle, CCW (or CW)."""
    xs, ys = arr(x1, x2, x2, x1, x1), arr(y1, y1, y2, y2, y1)
    return (xs[::-1].copy(), ys[::-1].copy()) if cw else (xs, ys)


def notched_square(cut, cw=False):
    """The unit square with its (1, 1) corner cut off by a right
    triangle of legs ``cut``: the same bbox, area 1 − cut²/2."""
    xs = arr(0, 1, 1, 1 - cut, 0, 0)
    ys = arr(0, 0, 1 - cut, 1, 1, 0)
    return (xs[::-1].copy(), ys[::-1].copy()) if cw else (xs, ys)


def parents(ring_list, tie=None):
    """The assembly rule of ``kernels.rings`` over hand-built rings:
    (promoted mask, {hole ring: parent ring}). Holes are queried by
    their bbox and probed at their centroid, as in the single-group
    assembly; ``tie`` (per ring) breaks equal-area candidates, default
    the ring index."""
    from geo_polygonize_spark.kernels.rings import (
        _parent_candidates, _promoted, _smallest_parent, bbox,
    )

    area = np.array([signed_area(x, y) for x, y in ring_list])
    box = [np.array(c) for c in zip(*(bbox(x, y) for x, y in ring_list))]
    cx, cy = (np.array(c) for c in zip(*(centroid(x, y) for x, y in ring_list)))
    off = np.concatenate(([0], np.cumsum([x.size for x, _ in ring_list])))
    fx = np.concatenate([x for x, _ in ring_list])
    fy = np.concatenate([y for _, y in ring_list])
    prom = _promoted(area, *box)
    sh = np.flatnonzero((area > 0) | prom)
    ho = np.flatnonzero(area < 0)
    si, hj = _parent_candidates(
        tuple(c[sh] for c in box), np.abs(area[sh]), sh, tuple(c[ho] for c in box),
        cx[ho], cy[ho], -area[ho], fx, fy, off,
    )
    tie = np.arange(area.size) if tie is None else np.asarray(tie)
    win = _smallest_parent(si, hj, np.abs(area[sh]), tie[sh])
    return prom, dict(zip(ho[hj[win]].tolist(), sh[si[win]].tolist()))


class TestAssemblyRule:
    """Twin promotion and hole→parent selection (polygonizer.rs:152-249),
    written once in ``kernels.rings`` for every numpy assembly."""

    @pytest.mark.parametrize("cut, promoted", [(1e-3, False), (2e-3, True)])
    def test_twin_area_threshold(self, cut, promoted):
        # exactly equal bboxes; |Δarea| = cut²/2 = 5e-7 (a twin) or 2e-6
        prom, got = parents([box_ring(0, 0, 1, 1), notched_square(cut, cw=True)])
        assert prom.tolist() == [False, promoted]
        # a twin is no parent either: it is not 1e-6 larger
        assert got == ({1: 0} if promoted else {})
        assert len(assemble_polygons_pdf(*zip(box_ring(0, 0, 1, 1),
                                              notched_square(cut, cw=True)))) == 1 + promoted

    @pytest.mark.parametrize(
        "hole_cut, ccw_cuts, promoted",
        [
            (0.0, (0.5, 0.1, 2e-3, 1e-3), False),  # 1e-3: 5e-7 below
            (0.0, (0.5, 0.1, 2e-3), True),
            (1e-3, (0.5, 2e-3, 0.0), False),  # the full square: 5e-7 above
            (1e-3, (0.5, 0.1, 2e-3), True),
        ],
    )
    def test_twin_among_ccw_rings_of_one_bbox(self, hole_cut, ccw_cuts, promoted):
        # every ring spans the unit square; a cut of 0 is the square
        def ring(cut, cw=False):
            return box_ring(0, 0, 1, 1, cw) if cut == 0.0 else notched_square(cut, cw)

        prom, _ = parents([ring(c) for c in ccw_cuts] + [ring(hole_cut, cw=True)])
        assert prom.tolist() == [False] * len(ccw_cuts) + [promoted]

    def test_promoted_hull_is_also_a_hole(self):
        rl = [box_ring(0, 0, 10, 10), box_ring(2, 2, 4, 4, cw=True)]
        prom, got = parents(rl)
        assert prom.tolist() == [False, True] and got == {1: 0}
        pdf = assemble_polygons_pdf(*zip(*rl))
        assert pdf["n_holes"].tolist() == [1, 0]
        assert pdf["area"].tolist() == [96.0, 4.0]
        # the promoted shell is re-wound CCW
        assert signed_area(pdf["shell_xs"][1], pdf["shell_ys"][1]) == 4.0

    def test_nested_shells_smallest_strictly_larger_wins(self):
        rl = [box_ring(0, 0, 10, 10), box_ring(2, 2, 8, 8), box_ring(1, 1, 9, 9),
              box_ring(4, 4, 6, 6), box_ring(4, 4, 6, 6, cw=True)]
        prom, got = parents(rl)
        # the hole's CCW twin (ring 3) is not strictly larger; ring 1 is
        # the smallest shell that is
        assert not prom.any() and got == {4: 1}

    @pytest.mark.parametrize("grow, parent", [(1e-7, 0), (1e-6, 1)])
    def test_container_within_1e6_is_no_parent(self, grow, parent):
        # container (ring 1) of area 1 + grow around a hole of area
        # 1 - 5e-7; within 1e-6 the next larger shell takes the hole
        rl = [box_ring(-1, -1, 3, 3), box_ring(0, 0, 1 + grow, 1),
              notched_square(1e-3, cw=True)]
        prom, got = parents(rl)
        assert prom.tolist() == [False, False, True]  # bboxes differ: no twin
        assert got == {2: parent}

    def test_equal_area_tie_goes_to_tie_key(self):
        rl = [box_ring(0, 0, 4, 2), box_ring(0, 0, 2, 4), box_ring(0.5, 0.5, 1.5, 1.5, cw=True)]
        assert parents(rl, tie=[0, 1, 2])[1] == {2: 0}
        assert parents(rl, tie=[1, 0, 2])[1] == {2: 1}

    def test_per_core_call_matches_single_group(self):
        """The fused kernel's per-core assembly, run as ONE core over
        every ring with no merged shells, picks the same shells and
        the same parent for every hole as ``assemble_polygons_pdf``."""
        from geo_polygonize_spark.kernels.polygonize import DEFAULT_SNAP_GRID, segmentize
        from geo_polygonize_spark.kernels.rings import batch_ring_stats
        from geo_polygonize_spark.operators.assembly import _core_local_assembly, _ring_csr
        from geo_polygonize_spark.sources.fixtures import random_lines

        x1, y1, x2, y2 = node_segments(*segmentize(*random_lines(200)), DEFAULT_SNAP_GRID)
        g = build_graph(x1, y1, x2, y2)
        sort_edges(g)
        prune_dangles(g)
        ring_xs, ring_ys = edge_rings(g)
        _, _, _, _, bx1, by1, bx2, by2, area, cx, cy = batch_ring_stats(ring_xs, ring_ys)
        keep = np.flatnonzero(np.abs(area) >= 1e-9)
        ring_xs = [ring_xs[i] for i in keep]
        ring_ys = [ring_ys[i] for i in keep]
        area, cx, cy, box = area[keep], cx[keep], cy[keep], tuple(
            c[keep] for c in (bx1, by1, bx2, by2))
        fx, fy, off = _ring_csr(ring_xs, ring_ys)
        z = np.empty(0)
        no_merged = {"rid": np.empty(0, np.int64), "area": z, "ccw": np.empty(0, bool),
                     "bx1": z, "by1": z, "bx2": z, "by2": z, "fx": z, "fy": z,
                     "off": np.zeros(1, np.int64)}
        sh, _, ho, h, w, _, _ = _core_local_assembly(
            area, np.arange(area.size), cx, cy, box, fx, fy, off, np.arange(area.size),
            no_merged, np.empty(0, np.int64),
        )
        assert (w < sh.size).all()
        fused = dict(zip(ho[h].tolist(), sh[w].tolist()))

        pdf = assemble_polygons_pdf(ring_xs, ring_ys)
        ring_of = {}
        for i, (x, y) in enumerate(zip(ring_xs, ring_ys)):
            ring_of[x.tobytes() + y.tobytes()] = i
            ring_of[x[::-1].tobytes() + y[::-1].tobytes()] = i  # a promoted shell
        single = {}
        shells = []
        for sx, sy, hxs, hys in zip(pdf["shell_xs"], pdf["shell_ys"], pdf["hole_xs"], pdf["hole_ys"]):
            shells.append(ring_of[sx.tobytes() + sy.tobytes()])
            for hx, hy in zip(hxs, hys):
                single[ring_of[hx.tobytes() + hy.tobytes()]] = shells[-1]
        assert sorted(shells) == sorted(sh.tolist())
        assert len(single) > 100 and fused == single


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
    ref = CoverageIndex(polys, use_f32=False)  # the pure-f64 path

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
    ref = CoverageIndex(polys, use_f32=False)
    pts = np.random.default_rng(3).uniform(X0 - 1.2 * S, X0 + 1.2 * S, size=(20000, 2))
    f1, i1, n1 = idx.query(pts[:, 0].copy(), pts[:, 1].copy())
    f2, i2, n2 = ref.query(pts[:, 0].copy(), pts[:, 1].copy())
    assert 0 < f2.sum() < len(pts) and n2.max() == 2  # both polygons and the hole are hit
    assert np.array_equal(f1, f2)
    assert np.array_equal(n1, n2)
    assert np.array_equal(i1[f1], i2[f2])


def test_coverage_index_arrow_equals_list():
    """The index reads its list columns through Arrow offsets. A
    coverage as a list of dicts and the same coverage as a chunked,
    sliced Arrow table give bit-identical index arrays, and the flat
    rings equal a per-polygon concatenation. Empty and null hole lists
    count as no holes; an empty coverage finds nothing."""
    import numpy as np
    import pyarrow as pa
    from geo_polygonize_spark.kernels.coverage import INDEX_SCHEMA, CoverageIndex

    def box(x, y, s):
        return [x, x + s, x + s, x, x], [y, y, y + s, y + s, y]

    polys = []
    for k, holes in enumerate(([], None, [(1.0, 1.0, 1.0), (3.0, 3.0, 1.0)], [], [(0.5, 0.5, 0.5)])):
        sx, sy = box(10.0 * k, 0.0, 6.0)
        hx = None if holes is None else [box(10.0 * k + a, b, s)[0] for a, b, s in holes]
        hy = None if holes is None else [box(10.0 * k + a, b, s)[1] for a, b, s in holes]
        polys.append(dict(tile_i=k % 2, tile_j=1, poly_id=100 + k, area=36.0 - k,
                          shell_xs=sx, shell_ys=sy, hole_xs=hx, hole_ys=hy, n_holes=0))
    cols = {f.name: pa.array([p[f.name] for p in polys], f.type) for f in INDEX_SCHEMA}
    whole = pa.table(cols)
    table = pa.concat_tables([whole.slice(0, 2), whole.slice(2, 1), whole.slice(3)])
    assert table.column("shell_xs").num_chunks == 3

    a, b = CoverageIndex(polys), CoverageIndex(table)
    arrays = {k: v for k, v in vars(a).items() if isinstance(v, np.ndarray)}
    assert set(arrays) == {k for k, v in vars(b).items() if isinstance(v, np.ndarray)}
    for k, v in arrays.items():
        w = getattr(b, k)
        assert v.dtype == w.dtype and v.tobytes() == w.tobytes(), k
    assert np.array_equal(a.sx, np.concatenate([p["shell_xs"] for p in polys]))
    rings = [(i, h) for i, p in enumerate(polys) for h in (p["hole_ys"] or [])]
    assert np.array_equal(a.hole_poly, [i for i, _ in rings])
    assert np.array_equal(a.hy, np.concatenate([h for _, h in rings]))
    assert np.array_equal(a.hoff, np.concatenate(([0], np.cumsum([len(h) for _, h in rings]))))
    found, idx, ncont = a.query(np.array([21.5, 21.5, 40.7, 0.5]), np.array([1.5, 0.5, 0.7, 0.5]))
    assert found.tolist() == [False, True, False, True]
    assert a.poly_id[idx[found]].tolist() == [102, 100]

    empty = CoverageIndex([])
    assert empty.n == 0 and CoverageIndex(INDEX_SCHEMA.empty_table()).n == 0
    for k, v in vars(empty).items():
        if isinstance(v, np.ndarray):
            w = getattr(CoverageIndex(INDEX_SCHEMA.empty_table()), k)
            assert v.dtype == w.dtype and v.tobytes() == w.tobytes(), k
    assert not empty.query(np.array([0.5]), np.array([0.5]))[0].any()
