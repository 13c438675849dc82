"""Ring geometry + shell/hole logic, vectorized.

Reproduces the reference's post-tracing stages
(reference: ``src/polygonizer.rs:124-261`` and ``src/utils/simd.rs``):

* shoelace signed area; |area| < 1e-9 rings dropped
  (polygonizer.rs:131-149)
* CCW → shell, CW → hole classification (polygonizer.rs:142-148)
* hole promotion: a CW ring with no CCW twin of ~equal area (1e-6)
  and *exactly* equal bbox becomes a shell, re-wound CCW
  (polygonizer.rs:152-185)
* hole assignment: candidate shells by bbox intersection, even-odd
  ray-cast PIP on the hole's centroid, parent = smallest shell with
  area > hole_area + 1e-6 (polygonizer.rs:192-249)
* assembly: polygon net area (shell - holes) must exceed 1e-6
  (polygonizer.rs:251-259)
* the promotion and parent rules live in one place, ``_promoted``,
  ``_parent_candidates`` and ``_smallest_parent``: the single-group
  assembly (``assemble_polygons_pdf``; ``assemble_polygons`` is a view
  of its rows) and the fused per-core assembly
  (``operators/assembly.py``) both call them
* ``ray_cast_pairs`` is the package's one point-in-ring test, the
  numpy analog of the SIMD ray cast (simd.rs:31-79): hole→parent
  assignment, the coverage index and both PIP joins call it.
  ``point_in_ring`` / ``points_in_ring`` keep the division form of the
  same crossing condition as an independent oracle for tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .bboxjoin import bbox_join


def signed_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Shoelace signed area of a closed ring (first == last).
    Positive = CCW (matches geo::Area used at polygonizer.rs:136).

    The ring is recentred on its first vertex before the shoelace —
    translation-invariant, and avoids the catastrophic cancellation a
    naive x·y shoelace hits far from the origin (found by probing a
    unit square at offset 1e9, where the naive sum returns 0.0).
    """
    x = np.asarray(xs, dtype=np.float64) - xs[0]
    y = np.asarray(ys, dtype=np.float64) - ys[0]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def centroid(xs: np.ndarray, ys: np.ndarray):
    """Polygon (area-weighted) centroid of a closed ring; falls back
    to the first vertex when degenerate (polygonizer.rs:211-214).
    Computed in a first-vertex-local frame (see signed_area)."""
    x0 = float(xs[0])
    y0 = float(ys[0])
    x = np.asarray(xs, dtype=np.float64) - x0
    y = np.asarray(ys, dtype=np.float64) - y0
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    a = 0.5 * float(np.sum(cross))
    if abs(a) < 1e-300:
        return x0, y0
    cx = float(np.sum((x[:-1] + x[1:]) * cross)) / (6.0 * a)
    cy = float(np.sum((y[:-1] + y[1:]) * cross)) / (6.0 * a)
    return cx + x0, cy + y0


def polygon_centroid(shell_xs, shell_ys, holes=()):
    """Area-weighted centroid of a polygon with holes (the probe the
    reference takes from geo's Centroid for tile ownership,
    src/tiling.rs:89-91). Falls back to the shell centroid when the
    net area degenerates to ~0 (reference skips such polys; keeping
    the shell centroid keeps ownership exactly-once instead)."""
    a0 = abs(signed_area(shell_xs, shell_ys))
    cx0, cy0 = centroid(shell_xs, shell_ys)
    num_x = a0 * cx0
    num_y = a0 * cy0
    den = a0
    for hxs, hys in holes:
        ah = abs(signed_area(hxs, hys))
        chx, chy = centroid(hxs, hys)
        num_x -= ah * chx
        num_y -= ah * chy
        den -= ah
    # RELATIVE degeneracy test: for a shell fully filled by its holes
    # the true den is 0 but FP leaves a ~1e-9 residual — dividing by it
    # throws the centroid far outside the polygon (observed: a net-0
    # hull reporting (-15, -46) for data in [0, 50]²)
    if abs(den) < max(a0 * 1e-9, 1e-12):
        return cx0, cy0
    return num_x / den, num_y / den


def bbox(xs: np.ndarray, ys: np.ndarray):
    return float(np.min(xs)), float(np.min(ys)), float(np.max(xs)), float(np.max(ys))


def batch_ring_stats(rxs: list, rys: list):
    """Vectorized per-ring geometry for a BATCH of closed rings
    (first == last): canonical rotation (start at the lexicographically
    smallest vertex — same convention as ``canonicalize_ring``), bbox,
    recentred shoelace area, and area-weighted centroid, all computed
    with ``reduceat`` over flat arrays — no per-ring Python.

    The chain-stitch trace and merge kernels process every ring through
    this path; a per-ring loop here anti-scales (5+ numpy calls × 10⁵
    rings measured as the dominant wall cost).

    Determinism contract: two tiles tracing the same ring (different
    rotation) get BIT-IDENTICAL outputs — rotation is normalized before
    any accumulation, and every accumulation is reduceat (fixed order).

    Returns (xr, yr, off, L, bx1, by1, bx2, by2, area, cx, cy):
    ``xr, yr`` flat rotated OPEN rings, ring i at
    ``xr[off[i] : off[i] + L[i]]``; close it by re-appending its first
    point.
    """
    n = len(rxs)
    if n == 0:
        z = np.empty(0)
        zi = np.empty(0, np.int64)
        return z, z, zi, zi, z, z, z, z, z, z, z
    lens = np.fromiter((len(r) for r in rxs), dtype=np.int64, count=n)
    L = lens - 1  # open lengths
    xc = np.concatenate(rxs)
    yc = np.concatenate(rys)
    occ = np.concatenate(([0], np.cumsum(lens)))
    keep = np.ones(xc.size, dtype=bool)
    keep[occ[1:] - 1] = False  # drop each ring's closing duplicate
    xo = xc[keep]
    yo = yc[keep]
    off = np.concatenate(([0], np.cumsum(L)))
    total = int(off[-1])
    grp = np.repeat(np.arange(n, dtype=np.int64), L)

    # canonical start: per-ring argmin of (x, y)
    order = np.lexsort((yo, xo, grp))
    grp_starts = off[:-1]
    first_sorted = order[grp_starts]  # first element of each group
    k = first_sorted - off[:-1]

    # rotation tie-break: when the minimum vertex occurs MORE THAN ONCE
    # in a ring (pinch/bowtie face boundaries, which planar tracing
    # does produce), the stable lexsort above picks the first
    # occurrence in STORAGE order — which differs between two tiles
    # that traced the same ring from different starts, breaking the
    # bit-identical-output contract. Among tied minimum vertices, pick
    # the occurrence whose full rotated sequence is lexicographically
    # smallest — a storage-order-independent canonical form. Ties are
    # rare (simple rings have none), so the per-ring fixup loop is off
    # the hot path; detection is vectorized.
    minx_r = np.repeat(xo[first_sorted], L)
    miny_r = np.repeat(yo[first_sorted], L)
    tie_cnt = np.add.reduceat((xo == minx_r) & (yo == miny_r), off[:-1])
    for g in np.flatnonzero(tie_cnt > 1):
        o, l = off[g], L[g]
        xs_g, ys_g = xo[o : o + l], yo[o : o + l]
        cands = np.flatnonzero((xs_g == xs_g[k[g] + 0]) & (ys_g == ys_g[k[g]]))
        best = int(cands[0])
        bx_rot = np.roll(xs_g, -best)
        by_rot = np.roll(ys_g, -best)
        for c in cands[1:]:
            cx_rot = np.roll(xs_g, -int(c))
            cy_rot = np.roll(ys_g, -int(c))
            neq = np.flatnonzero((bx_rot != cx_rot) | (by_rot != cy_rot))
            if neq.size and (cx_rot[neq[0]], cy_rot[neq[0]]) < (bx_rot[neq[0]], by_rot[neq[0]]):
                best, bx_rot, by_rot = int(c), cx_rot, cy_rot
        k[g] = best

    # rotation gather: rel = (pos + k) mod L, built without division
    pos = np.arange(total, dtype=np.int64) - np.repeat(off[:-1], L)
    rel = pos + np.repeat(k, L)
    wrap = rel >= np.repeat(L, L)
    rel[wrap] -= np.repeat(L, L)[wrap]
    idx = np.repeat(off[:-1], L) + rel
    xr = xo[idx]
    yr = yo[idx]

    # bbox (rotation-invariant)
    bx1 = np.minimum.reduceat(xo, off[:-1])
    by1 = np.minimum.reduceat(yo, off[:-1])
    bx2 = np.maximum.reduceat(xo, off[:-1])
    by2 = np.maximum.reduceat(yo, off[:-1])

    # recentred shoelace on the ROTATED arrays (translation-invariant,
    # cancellation-safe far from the origin — see signed_area)
    nxt = np.arange(total, dtype=np.int64) + 1
    nxt[off[1:] - 1] = off[:-1]
    fx = np.repeat(xr[off[:-1]], L)
    fy = np.repeat(yr[off[:-1]], L)
    dx = xr - fx
    dy = yr - fy
    cross = dx * dy[nxt] - dx[nxt] * dy
    area = 0.5 * np.add.reduceat(cross, off[:-1])

    sx = np.add.reduceat((dx + dx[nxt]) * cross, off[:-1])
    sy = np.add.reduceat((dy + dy[nxt]) * cross, off[:-1])
    ok = np.abs(area) >= 1e-300
    cx = np.where(ok, sx / np.where(ok, 6.0 * area, 1.0), 0.0) + xr[off[:-1]]
    cy = np.where(ok, sy / np.where(ok, 6.0 * area, 1.0), 0.0) + yr[off[:-1]]
    return xr, yr, off[:-1], L, bx1, by1, bx2, by2, area, cx, cy


def point_in_ring(px: float, py: float, xs: np.ndarray, ys: np.ndarray) -> bool:
    """Even-odd ray cast, numpy-broadcast over all ring segments at
    once — the vectorized analog of SimdRing::contains (simd.rs:31-79),
    with the identical crossing condition:
      (y1 > py) != (y2 > py)  and  px < (x2-x1)(py-y1)/(y2-y1) + x1
    """
    x1 = xs[:-1]
    y1 = ys[:-1]
    x2 = xs[1:]
    y2 = ys[1:]
    straddle = (y1 > py) != (y2 > py)
    if not np.any(straddle):
        return False
    x1s = x1[straddle]
    y1s = y1[straddle]
    x2s = x2[straddle]
    y2s = y2[straddle]
    xint = (x2s - x1s) * (py - y1s) / (y2s - y1s) + x1s
    return bool(np.count_nonzero(px < xint) % 2)


def points_in_ring(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Batched many-points × one-ring even-odd ray cast in the division
    form of ``point_in_ring``. No operator calls it: it is the tests'
    independent oracle for ``ray_cast_pairs``."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1 = xs[None, :-1]
    y1 = ys[None, :-1]
    x2 = xs[None, 1:]
    y2 = ys[None, 1:]
    straddle = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    crossings = np.count_nonzero(straddle & (px < xint), axis=1)
    return (crossings % 2).astype(bool)


# Work budget of one dense cast block, in (pair, edge) cells. A ring
# whose pairs would not fit one block (pairs × length above it) is
# probed through its y-bucketed edge index instead. Near 2^18 cells the
# two paths cost the same on rings of 257-65,537 vertices, and blocks
# of this size stay in cache (4M-cell blocks ran up to 1.8× slower).
_PAIR_BUDGET = 1 << 18


def _odd_crossings(px, py, x1, y1, x2, y2):
    """Even-odd parity per row: probes ``(px, py)`` (column vectors)
    against the edges ``(x1, y1) → (x2, y2)`` in the columns. The
    crossing condition of SimdRing::contains (simd.rs:31-79) in
    division-free form: px < xint(py) ⇔ (px-x1)(y2-y1) <> (x2-x1)(py-y1)
    by the sign of (y2-y1), so axis-aligned edges never divide by
    zero."""
    straddle = (y1 > py) != (y2 > py)
    lhs = (px - x1) * (y2 - y1)
    rhs = (x2 - x1) * (py - y1)
    return np.count_nonzero(straddle & ((lhs < rhs) == (y2 > y1)), axis=1) % 2 == 1


def _dense_pairs(px, py, ridx, fx, fy, off):
    """Pairs grouped by ring length L: each group gathers its rings into
    dense (pairs × L) blocks of at most ``_PAIR_BUDGET`` cells — no
    padding, so one long ring does not widen the short ones."""
    inside = np.zeros(ridx.size, dtype=bool)
    pl = off[ridx + 1] - off[ridx]
    for L in np.unique(pl):
        sel_all = np.flatnonzero(pl == L)
        step = max(int(_PAIR_BUDGET // max(L, 1)), 64)
        for s0 in range(0, sel_all.size, step):
            sel = sel_all[s0 : s0 + step]
            base = off[ridx[sel]][:, None] + np.arange(L)[None, :]
            X = fx[base]
            Y = fy[base]
            inside[sel] = _odd_crossings(
                px[sel][:, None], py[sel][:, None], X[:, :-1], Y[:, :-1], X[:, 1:], Y[:, 1:]
            )
    return inside


def _pip_many_vs_ring(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray):
    """Even-odd containment of MANY probe points vs ONE closed ring,
    via a y-bucketed edge index: a horizontal ray at ``py`` can only
    cross edges whose y-span straddles ``py``, so each probe tests the
    ~E/B edges of its bucket instead of all E. Turns the
    hull-vs-all-holes assignment (the dominant assembly cost on grid
    inputs: 10⁵ probes × 10⁵-vertex hull) from O(P·E) into
    O(E + P·E/B). Bucketing is monotone in y, so every straddling edge
    lands in its probe's bucket: the result equals the dense cast's."""
    x1, y1 = xs[:-1], ys[:-1]
    x2, y2 = xs[1:], ys[1:]
    e = x1.size
    ymin = np.minimum(y1, y2)
    ymax = np.maximum(y1, y2)
    ylo = float(ymin.min())
    yhi = float(ymax.max())
    nb = max(min(int(e // 16), 1 << 20), 1)
    h = max((yhi - ylo) / nb, 1e-300)
    b1 = np.clip(((ymin - ylo) / h).astype(np.int64), 0, nb - 1)
    b2 = np.clip(((ymax - ylo) / h).astype(np.int64), 0, nb - 1)
    cnt = b2 - b1 + 1
    off = np.concatenate(([0], np.cumsum(cnt)))
    eidx = np.repeat(np.arange(e, dtype=np.int64), cnt)
    rel = np.arange(off[-1], dtype=np.int64) - np.repeat(off[:-1], cnt)
    ebkt = np.repeat(b1, cnt) + rel
    order_e = np.argsort(ebkt, kind="stable")
    eidx_s = eidx[order_e]
    estarts = np.searchsorted(ebkt[order_e], np.arange(nb + 1))

    out = np.zeros(px.size, dtype=bool)
    inb = (py >= ylo) & (py <= yhi)
    pid = np.flatnonzero(inb)
    if pid.size == 0:
        return out
    pb = np.clip(((py[pid] - ylo) / h).astype(np.int64), 0, nb - 1)
    order_p = np.argsort(pb, kind="stable")
    pid_s = pid[order_p]
    pb_s = pb[order_p]
    bstarts = np.flatnonzero(np.concatenate(([True], pb_s[1:] != pb_s[:-1])))
    bends = np.concatenate((bstarts[1:], [pb_s.size]))
    for s0, s1 in zip(bstarts.tolist(), bends.tolist()):
        b = pb_s[s0]
        es = eidx_s[estarts[b] : estarts[b + 1]]
        if es.size == 0:
            continue
        rows = pid_s[s0:s1]
        out[rows] = _odd_crossings(
            px[rows][:, None], py[rows][:, None],
            x1[es][None, :], y1[es][None, :], x2[es][None, :], y2[es][None, :],
        )
    return out


def ray_cast_pairs(px, py, ridx, fx, fy, off) -> np.ndarray:
    """Even-odd containment of probe ``(px[k], py[k])`` in ring
    ``ridx[k]``, per pair. Rings are CSR: ring r is the closed ring
    ``fx[off[r] : off[r + 1]]``, ``fy[...]``; orientation does not
    matter. The package's one point-in-ring test (SimdRing::contains,
    simd.rs:31-79).

    Each ring picks its path from its own load: a ring whose pairs ×
    length exceed ``_PAIR_BUDGET`` (a coverage hull probed by every
    hole) goes through its y-bucketed edge index, O(E + P·E/B); every
    other pair joins the length-grouped dense cast. Both evaluate
    ``_odd_crossings`` on every edge that can straddle the probe, so
    the path never changes a result."""
    cnt = np.bincount(ridx)
    is_heavy = cnt * np.diff(off[: cnt.size + 1]) > _PAIR_BUDGET
    if not is_heavy.any():
        return _dense_pairs(px, py, ridx, fx, fy, off)
    inside = np.zeros(ridx.size, dtype=bool)
    # heavy pairs grouped by ring with one sort, so many heavy rings
    # cost O(pairs log pairs), not a scan of every pair per ring
    heavy = np.flatnonzero(is_heavy[ridx])
    heavy = heavy[np.argsort(ridx[heavy], kind="stable")]
    for rows in np.split(heavy, np.flatnonzero(np.diff(ridx[heavy])) + 1):
        ring = slice(off[ridx[rows[0]]], off[ridx[rows[0]] + 1])
        inside[rows] = _pip_many_vs_ring(px[rows], py[rows], fx[ring], fy[ring])
    light = np.flatnonzero(~is_heavy[ridx])
    inside[light] = _dense_pairs(px[light], py[light], ridx[light], fx, fy, off)
    return inside


@dataclass
class Polygon:
    shell_xs: np.ndarray
    shell_ys: np.ndarray
    holes: list = field(default_factory=list)  # list of (xs, ys)
    area: float = 0.0  # net unsigned area (shell - holes)


def assemble_polygons(
    ring_xs: list, ring_ys: list, drop_collapsed: bool = False
) -> list[Polygon]:
    """Classification → promotion → hole assignment → assembly
    (polygonizer.rs:124-261) as ``Polygon`` objects: a view over the
    rows of ``assemble_polygons_pdf``. Input: closed rings from ring
    tracing.

    ``drop_collapsed`` — the reference source carries a final
    ``unsigned_area() > 1e-6`` filter (polygonizer.rs:255-258) that
    drops shells completely filled by their holes (e.g. the outer hull
    of a bowtie / grid). The reference's own artifacts disagree about
    it: the robustness bowtie test (tests/robustness.rs:29) asserts the
    filtered behavior (2 polys), while the committed goldens
    (examples/output/complex_bowtie.geojson: 3 features,
    touching_polys.geojson: 3) and the frame test
    (src/polygonizer_tests.rs:79: 5 polys incl. a net-area-0 frame) and
    overlapping_circles (= 8 incl. hull) require the UNfiltered
    behavior. Both cannot hold at once, so the filter is a flag:
    default False matches the goldens + frame + circles; True matches
    the shipped filter and GEOS's faces-only polygon counts (used for
    the grid/random benchmark oracles).
    """
    pdf = assemble_polygons_pdf(ring_xs, ring_ys, drop_collapsed)
    return [
        Polygon(np.ascontiguousarray(sx), np.ascontiguousarray(sy), list(zip(hx, hy)), a)
        for sx, sy, hx, hy, a in zip(
            pdf["shell_xs"], pdf["shell_ys"], pdf["hole_xs"], pdf["hole_ys"],
            pdf["area"].tolist(),
        )
    ]


# --- the shell/hole rule: every assembly calls these three, and no
# other code restates it ------------------------------------------------


def _promoted(area, bx1, by1, bx2, by2) -> np.ndarray:
    """Twin promotion (polygonizer.rs:152-185), per ring: True for a CW
    ring (area < 0) with no CCW ring of exactly equal bbox and area
    within 1e-6. A promoted ring becomes a shell, re-wound CCW, and
    stays a hole too (a coverage hull nets to zero that way).

    One sort by (bbox, |area|) puts every equal-bbox group in a run; a
    CW ring has a twin iff the nearest CCW ring below or above it in
    its run is within 1e-6. Runs split wherever a bbox value differs
    by ``==``, so -0.0 meets 0.0 and a NaN bbox has no twin."""
    n = area.size
    o = np.lexsort((np.abs(area), by2, bx2, by1, bx1))
    a, ccw = np.abs(area[o]), area[o] > 0.0
    pos = np.arange(n)
    same = np.logical_and.reduce([k[o][1:] == k[o][:-1] for k in (bx1, by1, bx2, by2)])
    run_lo = np.maximum.accumulate(np.where(np.r_[False, same], 0, pos))
    run_hi = np.minimum.accumulate(np.where(np.r_[same, False], n, pos + 1)[::-1])[::-1]
    below = np.maximum.accumulate(np.where(ccw, pos, -1))
    above = np.minimum.accumulate(np.where(ccw, pos, n)[::-1])[::-1]

    def twin(j):  # CCW ring j is in the run and within 1e-6
        return (j >= run_lo) & (j < run_hi) & (np.abs(a[np.clip(j, 0, n - 1)] - a) < 1e-6)

    out = np.zeros(n, dtype=bool)
    out[o] = (area[o] < 0.0) & ~twin(below) & ~twin(above)
    return out


def _parent_candidates(s_box, s_area, s_ring, q_box, px, py, h_area, fx, fy, off):
    """Hole→parent candidates (polygonizer.rs:192-249): pairs (si, hj),
    sorted by si, where shell si's bbox meets hole hj's query box
    ``q_box``, the shell is strictly larger (polygonizer.rs:226), and
    the probe ``(px[hj], py[hj])`` lies in ring ``s_ring[si]`` of the
    CSR rings ``(fx, fy, off)``. ``s_box`` and ``q_box`` are
    ``(x1, y1, x2, y2)`` arrays.

    Holes that no shell can be strictly larger than never enter the
    bbox join. This is not just an early filter: the largest ring (a
    promoted coverage hull) has a world-spanning bbox, and joining it
    against every shell was measured as ~80% of assembly time on grid
    coverages, for candidates the area rule then discarded."""
    if s_area.size == 0 or h_area.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    ch = np.flatnonzero(h_area < float(s_area.max()) - 1e-6)
    si, hj = bbox_join(*s_box, *(q[ch] for q in q_box))
    hj = ch[hj]
    bigger = s_area[si] > h_area[hj] + 1e-6
    si, hj = si[bigger], hj[bigger]
    inside = ray_cast_pairs(px[hj], py[hj], s_ring[si], fx, fy, off)
    return si[inside], hj[inside]


def _smallest_parent(si, hj, s_area, tie) -> np.ndarray:
    """The parent of each hole: positions into the pairs ``(si, hj)`` of
    the candidate with the least (``s_area``, ``tie``) of its shell,
    one per hole, in hole order."""
    o = np.lexsort((tie[si], s_area[si], hj))
    return o[np.diff(hj[o], prepend=-1) != 0]


def assemble_polygons_pdf(
    ring_xs: list,
    ring_ys: list,
    drop_collapsed: bool = False,
    tile_i: int = -1,
    tile_j: int = -1,
):
    """Classification → promotion → hole assignment → assembly
    (polygonizer.rs:124-261) straight into the POLYGON_SCHEMA pandas
    DataFrame, vectorized over flat ragged arrays: no per-polygon
    Python objects (at 160k rings that detour cost ~10 s of pure
    Python). Polygon centroids follow ``polygon_centroid`` (same
    formulas, same degeneracy fallbacks); ``drop_collapsed`` as in
    ``assemble_polygons``."""
    import pandas as pd

    def frame(shell_x, shell_y, hole_x, hole_y, n_holes, area, cx, cy):
        obj = lambda v: pd.Series(v, dtype=object)
        m = len(shell_x)
        return pd.DataFrame(
            {
                "tile_i": np.full(m, tile_i, dtype=np.int32),
                "tile_j": np.full(m, tile_j, dtype=np.int32),
                "poly_id": np.arange(m, dtype=np.int64),
                "shell_xs": obj(shell_x),
                "shell_ys": obj(shell_y),
                "hole_xs": obj(hole_x),
                "hole_ys": obj(hole_y),
                "n_holes": n_holes,
                "area": area,
                "cx": cx,
                "cy": cy,
            }
        )

    n_rings = len(ring_xs)
    if n_rings == 0:
        z = np.empty(0)
        return frame([], [], [], [], np.empty(0, np.int32), z, z, z)

    # --- per-ring area / bbox / centroid in one reduceat pass ---------
    lens = np.fromiter((len(x) for x in ring_xs), dtype=np.int64, count=n_rings)
    offs = np.concatenate(([0], np.cumsum(lens)))
    fx = np.concatenate(ring_xs)
    fy = np.concatenate(ring_ys)
    # recentre each ring on its first vertex (precision; see signed_area)
    fx0 = fx - np.repeat(fx[offs[:-1]], lens)
    fy0 = fy - np.repeat(fy[offs[:-1]], lens)
    cross = fx0[:-1] * fy0[1:] - fx0[1:] * fy0[:-1]
    sumx = fx0[:-1] + fx0[1:]
    sumy = fy0[:-1] + fy0[1:]
    cross[offs[1:-1] - 1] = 0.0  # zero the wrap term between rings
    areas = 0.5 * np.add.reduceat(cross, offs[:-1])
    cxn = np.add.reduceat(sumx * cross, offs[:-1])
    cyn = np.add.reduceat(sumy * cross, offs[:-1])
    with np.errstate(divide="ignore", invalid="ignore"):
        cent_x = np.where(np.abs(areas) < 1e-300, 0.0, cxn / (6.0 * areas)) + fx[offs[:-1]]
        cent_y = np.where(np.abs(areas) < 1e-300, 0.0, cyn / (6.0 * areas)) + fy[offs[:-1]]
    bxs1 = np.minimum.reduceat(fx, offs[:-1])
    bxs2 = np.maximum.reduceat(fx, offs[:-1])
    bys1 = np.minimum.reduceat(fy, offs[:-1])
    bys2 = np.maximum.reduceat(fy, offs[:-1])

    # --- classification: degenerate filter (polygonizer.rs:138-140),
    # CCW → shell, CW → hole, promoted CW → also a shell --------------
    classed = np.where(np.abs(areas) >= 1e-9, areas, 0.0)
    hole_ids = np.flatnonzero(classed < 0.0)
    pf = np.flatnonzero(_promoted(classed, bxs1, bys1, bxs2, bys2)[hole_ids])
    src = np.concatenate((np.flatnonzero(classed > 0.0), hole_ids[pf]))  # ring of each shell
    n_orig = src.size - pf.size
    s_area = np.abs(areas[src])
    h_area = np.abs(areas[hole_ids])

    # --- hole assignment: the reference's envelope query on the hole
    # bbox (polygonizer.rs:205), ray cast on the hole centroid --------
    si, hj = _parent_candidates(
        (bxs1[src], bys1[src], bxs2[src], bys2[src]), s_area, src,
        (bxs1[hole_ids], bys1[hole_ids], bxs2[hole_ids], bys2[hole_ids]),
        cent_x[hole_ids], cent_y[hole_ids], h_area, fx, fy, offs,
    )
    # bbox_join returns pairs sorted by shell, so the shell position as
    # tie-break keeps the first of equal-area candidates
    win = _smallest_parent(si, hj, s_area, np.arange(src.size))
    win_s, win_h = si[win], hj[win]
    hole_area_sum = np.zeros(src.size)
    np.add.at(hole_area_sum, win_s, h_area[win_h])
    net_area = s_area - hole_area_sum

    # polygon centroid (area-weighted shell − holes; polygon_centroid
    # semantics incl. the RELATIVE degeneracy fallback), vectorized
    cx0 = cent_x[src]
    cy0 = cent_y[src]
    num_x = s_area * cx0
    num_y = s_area * cy0
    np.add.at(num_x, win_s, -h_area[win_h] * cent_x[hole_ids[win_h]])
    np.add.at(num_y, win_s, -h_area[win_h] * cent_y[hole_ids[win_h]])
    degen = np.abs(net_area) < np.maximum(s_area * 1e-9, 1e-12)
    safe = np.where(degen, 1.0, net_area)
    cx = np.where(degen, cx0, num_x / safe)
    cy = np.where(degen, cy0, num_y / safe)

    sel = np.flatnonzero(net_area > 1e-6) if drop_collapsed else np.arange(src.size)
    # winner pairs remapped to kept-shell output positions
    out_pos = np.full(src.size, -1, dtype=np.int64)
    out_pos[sel] = np.arange(sel.size)

    shell_x_col: list = [None] * sel.size
    shell_y_col: list = [None] * sel.size
    hole_x_col: list = [[] for _ in range(sel.size)]
    hole_y_col: list = [[] for _ in range(sel.size)]
    n_holes_out = np.zeros(sel.size, dtype=np.int32)
    for o, (i, r) in enumerate(zip(sel.tolist(), src[sel].tolist())):
        if i < n_orig:
            shell_x_col[o] = ring_xs[r]
            shell_y_col[o] = ring_ys[r]
        else:
            shell_x_col[o] = np.ascontiguousarray(ring_xs[r][::-1])
            shell_y_col[o] = np.ascontiguousarray(ring_ys[r][::-1])
    for o, r in zip(out_pos[win_s].tolist(), hole_ids[win_h].tolist()):
        if o < 0:
            continue
        hole_x_col[o].append(ring_xs[r])
        hole_y_col[o].append(ring_ys[r])
        n_holes_out[o] += 1

    return frame(
        shell_x_col, shell_y_col, hole_x_col, hole_y_col, n_holes_out,
        net_area[sel], cx[sel], cy[sel],
    )


def canonicalize_ring(xs: np.ndarray, ys: np.ndarray):
    """Rotate a closed ring to start at its lexicographically smallest
    vertex (orientation preserved) — for order-insensitive golden
    comparison (the reference asserts on counts/areas instead;
    FIXTURES.md §1 asks for this canonical form)."""
    x = np.asarray(xs, dtype=np.float64)[:-1]
    y = np.asarray(ys, dtype=np.float64)[:-1]
    k = int(np.lexsort((y, x))[0])
    # same tie-break as batch_ring_stats: among repeated minimum
    # vertices pick the lexicographically-smallest full rotation
    cands = np.flatnonzero((x == x[k]) & (y == y[k]))
    if cands.size > 1:
        bx, by = np.roll(x, -k), np.roll(y, -k)
        for c in cands:
            cx_rot, cy_rot = np.roll(x, -int(c)), np.roll(y, -int(c))
            neq = np.flatnonzero((bx != cx_rot) | (by != cy_rot))
            if neq.size and (cx_rot[neq[0]], cy_rot[neq[0]]) < (bx[neq[0]], by[neq[0]]):
                k, bx, by = int(c), cx_rot, cy_rot
    rx = np.roll(x, -k)
    ry = np.roll(y, -k)
    return np.concatenate([rx, rx[:1]]), np.concatenate([ry, ry[:1]])
