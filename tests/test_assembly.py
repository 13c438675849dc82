"""Ring assembly (operators/assembly.py): the local and fused finishes
against each other and against the single-group ``polygonize`` on real
coverages, plus direct synthetic-ring probes of the fused assembly's
rare protocol paths (on-gridline visitors, core-shell winner patches,
promoted rings that are also holes), checked against the single-group
kernel ``kernels.rings.assemble_polygons_pdf``."""

import numpy as np
import pytest

from geo_polygonize_spark.kernels.rings import assemble_polygons_pdf
from geo_polygonize_spark.operators.assembly import assemble_rings_fused
from geo_polygonize_spark.operators.chain_stitch import (
    CHAIN_SCHEMA,
    RING_SCHEMA,
    chain_stitched_polygonize,
)
from geo_polygonize_spark.operators.polygonize_op import polygonize
from geo_polygonize_spark.operators.stitch import stitched_polygonize
from geo_polygonize_spark.sources.fixtures import fixture, grid_lines, random_lines

from .conftest import lines_to_df
from .test_stitch import keyset


def canon(rows):
    """Bit-exact polygon set: shell coords + sorted hole coord sets."""
    out = []
    for r in rows:
        holes = sorted(
            (tuple(hx), tuple(hy)) for hx, hy in zip(r["hole_xs"], r["hole_ys"])
        )
        out.append(
            (
                round(r["area"], 9),
                r["n_holes"],
                tuple(r["shell_xs"]),
                tuple(r["shell_ys"]),
                tuple(holes),
            )
        )
    return sorted(out)


def ring_row(x1, y1, x2, y2, cw=False, cx=None, cy=None):
    """Closed axis-aligned rectangle ring as a RING_SCHEMA row.
    ``cx``/``cy`` override the centroid — the assembly trusts ring-stat
    columns, so synthetic centroids let tests steer routing/PIP
    deterministically (a concave ring's true centroid can sit anywhere
    inside its bbox, including inside an unrelated shell — this
    emulates that without drawing the concave geometry)."""
    xs = [x1, x2, x2, x1, x1]
    ys = [y1, y1, y2, y2, y1]
    if cw:
        xs, ys = xs[::-1], ys[::-1]
    area = (x2 - x1) * (y2 - y1) * (-1.0 if cw else 1.0)
    return (
        [float(v) for v in xs], [float(v) for v in ys], float(area),
        float(x1), float(y1), float(x2), float(y2),
        float((x1 + x2) / 2 if cx is None else cx),
        float((y1 + y2) / 2 if cy is None else cy),
    )


class TestSplitEquivalence:
    def test_grid_both_strategies_both_modes(self, spark):
        n = 20
        xs, ys = grid_lines(n)
        df = lines_to_df(spark, xs, ys)
        bbox = (0.0, 0.0, float(n), float(n))
        for dc in (False, True):
            fused = chain_stitched_polygonize(
                df, tile_size=5.0, bbox=bbox, drop_collapsed=dc, assembly="fused",
            ).collect()
            local = stitched_polygonize(
                df, tile_size=5.0, bbox=bbox, drop_collapsed=dc, assembly="local",
            ).collect()
            want = keyset(polygonize(df, node_input=True, drop_collapsed=dc).collect())
            assert canon(fused) == canon(local)
            assert keyset(fused) == keyset(local) == want

    def test_random_lines(self, spark):
        xs, ys = random_lines(60)
        df = lines_to_df(spark, xs, ys)
        bbox = (0.0, 0.0, 100.0, 100.0)
        fused, local = (
            chain_stitched_polygonize(
                df, tile_size=25.0, buffer=10.0, bbox=bbox,
                drop_collapsed=True, assembly=mode,
            ).collect()
            for mode in ("fused", "local")
        )
        want = keyset(polygonize(df, node_input=True, drop_collapsed=True).collect())
        assert canon(fused) == canon(local)
        assert keyset(fused) == keyset(local) == want

    def test_nested_holes_vs_global(self, spark):
        """Cross-tile shells (100/60/20 rings vs tile 10) land in the
        merged residue and must still assign their holes exactly."""
        xs, ys, node, snap = fixture("nested_holes")
        df = lines_to_df(spark, xs, ys)
        got = chain_stitched_polygonize(
            df, tile_size=10.0, buffer=2.0, bbox=(0.0, 0.0, 100.0, 100.0),
            assembly="fused",
        ).collect()
        want = polygonize(df, node_input=node, snap_grid=snap).collect()
        assert keyset(got) == keyset(want)


class TestAutoStrategy:
    def test_auto_matches_global_both_regimes(self, spark):
        """strategy='auto' runs the chain engine and stays exact on both
        sides of its long-segment presplit trigger
        ((l_max/tile)² ≥ 32 → presplit first)."""
        n = 24
        xs, ys = grid_lines(n)
        df = lines_to_df(spark, xs, ys)
        bb = (0.0, 0.0, float(n), float(n))
        want = keyset(polygonize(df, node_input=True, drop_collapsed=True).collect())
        # tile 8 → (24/8)² = 9 < 32 → no presplit
        a = stitched_polygonize(df, tile_size=8.0, bbox=bb, drop_collapsed=True)
        assert keyset(a.collect()) == want
        # tile 4 → (24/4)² = 36 ≥ 32 → presplit
        b = stitched_polygonize(df, tile_size=4.0, bbox=bb, drop_collapsed=True)
        assert keyset(b.collect()) == want

    def test_explicit_strategies_still_accepted(self, spark):
        xs, ys = grid_lines(8)
        df = lines_to_df(spark, xs, ys)
        bb = (0.0, 0.0, 8.0, 8.0)
        for strat in ("chain", "auto"):
            got = stitched_polygonize(
                df, tile_size=4.0, bbox=bb, drop_collapsed=True, strategy=strat
            ).count()
            assert got == 64
        for strat in ("bogus", "level"):
            with pytest.raises(ValueError, match="strategy"):
                stitched_polygonize(df, tile_size=4.0, bbox=bb, strategy=strat).count()


def _claim_core(x, y, ts, cols, rows):
    """The chain kernel's clipped half-open claiming core of a vertex."""
    return (
        min(max(int(np.floor(x / ts)), 0), cols - 1),
        min(max(int(np.floor(y / ts)), 0), rows - 1),
    )


class TestSplitProtocol:
    """Direct probes of assemble_rings_fused over synthetic rings, split
    the way the chain engine splits them: a ring whose vertices all lie
    in one claiming core is a kind-0 trace row, every other ring is a
    merged (chain-closed) ring. The ground truth is the single-group
    kernel ``assemble_polygons_pdf`` on the SAME ring coordinates: the
    same polygons bit for bit (``canon``) and the same centroids
    (``keyset``)."""

    def _both(self, spark, rows, ts, drop_collapsed=False):
        ext = max(max(r[5], r[6]) for r in rows)
        cols = rows_n = max(int(np.ceil(ext / ts)), 1)
        core, merged = [], []
        for r in rows:
            cores = {_claim_core(x, y, ts, cols, rows_n) for x, y in zip(r[0], r[1])}
            (core if len(cores) == 1 else merged).append(r)
        # one partition: the trace output's partitions hold whole claim
        # groups, which a round-robin createDataFrame would not
        trace = spark.createDataFrame(
            [(0, r[0], r[1], 0, 0) + r[2:] for r in core], CHAIN_SCHEMA
        ).coalesce(1)
        mdf = spark.createDataFrame(merged, RING_SCHEMA) if merged else None
        fused = assemble_rings_fused(
            trace, mdf, 0.0, 0.0, ts, cols, rows_n, {},
            drop_collapsed=drop_collapsed,
        ).collect()
        kernel = assemble_polygons_pdf(
            [np.asarray(r[0]) for r in rows], [np.asarray(r[1]) for r in rows],
            drop_collapsed,
        ).to_dict("records")
        return fused, kernel, len(core), len(merged)

    @staticmethod
    def _assert_same(fused, kernel):
        assert canon(fused) == canon(kernel)
        assert keyset(fused) == keyset(kernel)

    def test_deferred_on_gridline_visitor(self, spark):
        """A merged CW hole straddling the x=10 gridline with centroid
        exactly ON it probes both touching cores and is resolved by the
        finish min — winner is the enclosing merged shell."""
        rows = [
            ring_row(0, 0, 20, 12),             # merged shell (spans cores)
            ring_row(9, 4, 11, 6, cw=True),     # merged hole, centroid (10, 5)
            ring_row(1, 1, 5, 5),               # unrelated core shell
        ]
        assert rows[1][7] == 10.0  # centroid IS on the ts=10 gridline
        fused, kernel, n_core, n_merged = self._both(spark, rows, 10.0)
        assert (n_core, n_merged) == (1, 2)
        self._assert_same(fused, kernel)
        assert [r[:2] for r in canon(fused)] == [(4.0, 0), (16.0, 0), (236.0, 1)]

    def test_local_shell_wins_visitor_hole(self, spark):
        """Concave-emulating case: a merged CW ring whose centroid lies
        inside a CORE shell strictly smaller than the merged container
        — the core shell must win and its already-emitted polygon is
        patched. The kernel recomputes centroids from coordinates, so
        the expected polygons are written out here; the fused assembly
        takes every centroid from the ring rows."""
        rows = [
            ring_row(0, 0, 24, 24),                      # merged shell, 576
            ring_row(2, 2, 8, 8),                        # core shell, 36
            # CW ring crossing x=10 but with (synthetic, concave-style)
            # centroid (5,5) inside core shell 2
            ring_row(9, 20, 12, 22, cw=True, cx=5.0, cy=5.0),
        ]
        fused, _, n_core, n_merged = self._both(spark, rows, 10.0)
        assert (n_core, n_merged) == (1, 2)
        # the twinless CW ring is promoted (6, re-wound CCW), its hole
        # patches core shell 2 (36 - 6), and the merged shell keeps none
        hole = (tuple(rows[2][0]), tuple(rows[2][1]))
        assert keyset(fused) == [(5.0, 5.0, 6.0, 0), (5.0, 5.0, 30.0, 1), (12.0, 12.0, 576.0, 0)]
        assert canon(fused) == [
            (6.0, 0, tuple(rows[2][0][::-1]), tuple(rows[2][1][::-1]), ()),
            (30.0, 1, tuple(rows[1][0]), tuple(rows[1][1]), (hole,)),
            (576.0, 0, tuple(rows[0][0]), tuple(rows[0][1]), ()),
        ]

    def test_promoted_ring_is_also_a_hole(self, spark):
        """A CW ring with no CCW twin is promoted to a shell AND still
        absorbed as a hole by its smallest strictly-larger container
        (how a filled grid's hull nets to zero) — both for a core ring
        (member promotion in the kernel) and a merged ring (driver-side
        promotion, visitor hole)."""
        rows = [
            ring_row(0, 0, 30, 30),              # big merged shell
            ring_row(2, 2, 6, 6, cw=True),       # twinless core CW
            ring_row(17, 3, 21, 7, cw=True),     # twinless merged CW
        ]
        for dc in (False, True):
            fused, kernel, n_core, n_merged = self._both(
                spark, rows, 10.0, drop_collapsed=dc
            )
            assert (n_core, n_merged) == (1, 2)
            self._assert_same(fused, kernel)
            assert [r[:2] for r in canon(fused)] == [(16.0, 0), (16.0, 0), (868.0, 2)]

    def test_tile_edge_touching_rings_stay_local(self, spark):
        """Rings on an aligned lattice touch core edges: cells whose
        vertices sit on their core's lower-left edges (or the clipped
        outer edge) stay core rings, cells touching an inner upper edge
        close through the merge. Both kinds plus the merged hull must
        assemble exactly."""
        rows = [ring_row(i * 5, j * 5, i * 5 + 5, j * 5 + 5)
                for i in range(4) for j in range(4)]
        rows.append(ring_row(0, 0, 20, 20, cw=True))  # hull
        fused, kernel, n_core, n_merged = self._both(
            spark, rows, 10.0, drop_collapsed=True
        )
        assert (n_core, n_merged) == (9, 8)
        self._assert_same(fused, kernel)
        # 16 CCW cells + the promoted hull (CCW cells are shells, not
        # holes — nothing absorbs into the hull in this construction,
        # so its net stays 400 and it survives drop_collapsed)
        assert len(fused) == 17
