"""The tile grid's claim-core arithmetic (operators/tiling.py): where
the clipped claim puts points on, near and outside core boundaries,
and that a point on a core boundary touches every core on either side
of it."""

import math

import numpy as np

from geo_polygonize_spark.operators.tiling import (
    claim_cores,
    touching_cores,
)

# a 4 × 3 grid of side 2.5 over [-3, 7) × [2, 9.5)
X0, Y0, TS, COLS, ROWS = -3.0, 2.0, 2.5, 4, 3


def _axis_probes(o, n):
    lines = [o + k * TS for k in range(n + 1)]  # incl. the bbox min and max edges
    near = [np.nextafter(v, d) for v in lines for d in (-np.inf, np.inf)]  # 1 ulp off
    outside = [o - 7.0, o + n * TS + 7.0]
    mids = [o + (k + 0.5) * TS for k in range(n)]
    return np.array(lines + near + outside + mids)


def test_claim_cores_boundaries():
    ax, ay = _axis_probes(X0, COLS), _axis_probes(Y0, ROWS)
    px = np.repeat(ax, ay.size)
    py = np.tile(ay, ax.size)
    ti, tj, f, si, sj = claim_cores(px, py, X0, Y0, TS, COLS, ROWS, {})

    # every probe, the 1-ulp ones included, takes the scalar IEEE
    # quotient, floor and clip
    def clipped(v, o, n):
        return min(max(math.floor((v - o) / TS), 0), n - 1)

    assert ti.tolist() == [clipped(x, X0, COLS) for x in px.tolist()]
    assert tj.tolist() == [clipped(y, Y0, ROWS) for y in py.tolist()]

    # a point on an interior line belongs to the core above it (so may
    # a point 1 ulp below it: x - x0 can round onto the line); the
    # global max edge and everything outside clip to the edge cores
    tile = dict(zip(zip(px.tolist(), py.tolist()), zip(ti.tolist(), tj.tolist())))
    assert tile[(X0 + TS, Y0 + TS)] == (1, 1)
    assert tile[(X0 + COLS * TS, Y0 + ROWS * TS)] == (COLS - 1, ROWS - 1)
    assert tile[(X0 - 7.0, Y0 + ROWS * TS + 7.0)] == (0, ROWS - 1)
    assert (f == 1).all() and (si == 0).all() and (sj == 0).all()


def test_claim_cores_hot_subcells():
    fmap = {(1, 1): 2}  # tile (1, 1) splits into 2 × 2 sub-cells of side 1.25
    sub_line = X0 + TS + TS / 2
    px = np.array([sub_line, X0 + TS + TS / 4, X0 + 0.5])
    py = np.full(3, Y0 + TS + 0.3)
    ti, tj, f, si, sj = claim_cores(px, py, X0, Y0, TS, COLS, ROWS, fmap)
    assert list(zip(ti, tj, f, si, sj)) == [(1, 1, 2, 1, 0), (1, 1, 2, 0, 0), (0, 1, 1, 0, 0)]


def test_touching_cores_on_lines():
    y = Y0 + 0.5
    # on the interior line between tiles 1 and 2
    assert sorted(touching_cores(X0 + 2 * TS, y, X0, Y0, TS, COLS, ROWS, {})) == [
        (1, 0, 1, 0, 0),
        (2, 0, 1, 0, 0),
    ]
    # on the sub-cell line inside hot tile (1, 0)
    fmap = {(1, 0): 2}
    assert sorted(touching_cores(X0 + 1.5 * TS, y, X0, Y0, TS, COLS, ROWS, fmap)) == [
        (1, 0, 2, 0, 0),
        (1, 0, 2, 1, 0),
    ]
    # on the tile line between plain tile 0 and hot tile 1
    assert sorted(touching_cores(X0 + TS, y, X0, Y0, TS, COLS, ROWS, fmap)) == [
        (0, 0, 1, 0, 0),
        (1, 0, 2, 0, 0),
    ]
    # a corner touches all four tiles; the bbox min edge only its own
    assert len(touching_cores(X0 + TS, Y0 + TS, X0, Y0, TS, COLS, ROWS, {})) == 4
    assert touching_cores(X0, Y0, X0, Y0, TS, COLS, ROWS, {}) == [(0, 0, 1, 0, 0)]
