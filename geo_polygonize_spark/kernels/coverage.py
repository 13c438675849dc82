"""In-memory polygon coverage index for the broadcast PIP join.

The numpy analog of the reference's shell R-tree + SIMD PIP probe
(reference: ``src/polygonizer.rs:188-231``, ``src/utils/simd.rs``) —
a uniform cell grid over polygon bboxes with CSR buckets, flat ring
coordinate arrays, and a fully vectorized batched query:

  cells → candidate (point, polygon) pairs → bbox filter →
  ``kernels.rings.ray_cast_pairs`` (shell, then holes of hits) →
  smallest-area winner per point.

The index is built from Arrow list columns. Both PIP strategies of
``operators/spatial_join.py`` use it: the broadcast join builds it once
on the driver and ships it as a ``SparkContext.broadcast`` (once per
executor, not per task); the cells join, for coverages too large to
broadcast, builds one per cell-hash bucket inside the task.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .rings import ray_cast_pairs

_U32 = float(2.0**-24)  # f32 unit roundoff


def _local_f32(fx, fy, off, bx1, bx2, by1, by2):
    """Ring-local float32 mirror: per-ring f64 bbox centers, f32
    center-relative coordinates, and a per-ring extent bound E (max
    |local coord|, f64) that drives the certification thresholds."""
    cx = (bx1 + bx2) * 0.5
    cy = (by1 + by2) * 0.5
    n = bx1.size
    lens = np.diff(off)
    ring_of = np.repeat(np.arange(n, dtype=np.int64), lens)
    lx = fx - cx[ring_of]
    ly = fy - cy[ring_of]
    E = np.maximum((bx2 - bx1), (by2 - by1)) * 0.5 + 1e-300
    return cx, cy, lx.astype(np.float32), ly.astype(np.float32), E


# The columns the index reads, with the Arrow types a coverage frame
# (``operators.polygonize_op.POLYGON_SCHEMA``) carries.
INDEX_SCHEMA = pa.schema(
    [
        ("tile_i", pa.int32()),
        ("tile_j", pa.int32()),
        ("poly_id", pa.int64()),
        ("shell_xs", pa.list_(pa.float64())),
        ("shell_ys", pa.list_(pa.float64())),
        ("hole_xs", pa.list_(pa.list_(pa.float64()))),
        ("hole_ys", pa.list_(pa.list_(pa.float64()))),
        ("area", pa.float64()),
    ]
)


def _csr(lists):
    """(offsets from 0, flat child values) of a list array; a null list
    counts as empty (``flatten`` skips it and honours a slice)."""
    lens = _numpy(lists.value_lengths().fill_null(0), np.int64)
    return np.concatenate(([0], np.cumsum(lens))), lists.flatten()


def _numpy(values, dtype=np.float64) -> np.ndarray:
    return np.asarray(values.to_numpy(zero_copy_only=False), dtype=dtype)


class CoverageIndex:
    def __init__(self, polys, cell_size: float | None = None, use_f32: bool | None = None):
        """polys: the coverage as a ``pyarrow.Table`` or ``RecordBatch``
        with the ``INDEX_SCHEMA`` columns (others are ignored), or as a
        list of dicts with those keys, which is converted to one. The
        list columns are read through their offsets and values: no
        Python object per polygon. A null hole list counts as no holes.

        ``use_f32``: evaluate the ray cast on the f32
        ring-local mirror with the certified exact fallback — results
        are bit-identical either way, only the traffic/compute balance
        differs. Measured (64M-record stream, pinned, interleaved):
        f32 wins ~1.4× at 32 cores (bandwidth-ceiling regime) and
        LOSES ~1.4× at 8 pinned cores (compute-bound — the
        certification arithmetic roughly doubles the instruction
        count). None = auto: callers that know the deployment's
        parallelism (broadcast_coverage_index / pip_join) resolve it
        as parallelism ≥ 16; a bare constructor defaults to the
        wide-deployment choice (True)."""
        if isinstance(polys, list):
            polys = pa.Table.from_pylist(polys, schema=INDEX_SCHEMA)

        def col(name):
            c = polys.column(name)
            return c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c

        n = polys.num_rows
        self.n = n
        self.use_f32 = True if use_f32 is None else bool(use_f32)
        self.tile_i = _numpy(col("tile_i"), np.int32)
        self.tile_j = _numpy(col("tile_j"), np.int32)
        self.poly_id = _numpy(col("poly_id"), np.int64)
        self.area = _numpy(col("area"))
        # the winner among equal areas is the least (tile_i, tile_j,
        # poly_id), so no answer depends on the order polygons arrive in
        self.rank = np.empty(n, dtype=np.int64)
        self.rank[np.lexsort((self.poly_id, self.tile_j, self.tile_i, self.area))] = np.arange(n)

        self.soff, sx = _csr(col("shell_xs"))
        self.sx, self.sy = _numpy(sx), _numpy(_csr(col("shell_ys"))[1])
        self.slen = np.diff(self.soff)

        # holes: flat rings + the polygon each ring belongs to; hole_ys
        # shares hole_xs's layout
        poly_rings, rings_x = _csr(col("hole_xs"))
        self.hole_poly = np.repeat(np.arange(n, dtype=np.int64), np.diff(poly_rings))
        self.hoff, hx = _csr(rings_x)
        self.hx, self.hy = _numpy(hx), _numpy(_csr(_csr(col("hole_ys"))[1])[1])
        self.hlen = np.diff(self.hoff)

        # bboxes
        if n:
            self.bx1 = np.minimum.reduceat(self.sx, self.soff[:-1])
            self.bx2 = np.maximum.reduceat(self.sx, self.soff[:-1])
            self.by1 = np.minimum.reduceat(self.sy, self.soff[:-1])
            self.by2 = np.maximum.reduceat(self.sy, self.soff[:-1])
        else:
            self.bx1 = self.bx2 = self.by1 = self.by2 = np.empty(0)

        # r6 memory diet (8v32 scaling: the 32-core stream is
        # bandwidth-ceiling-bound, BENCH_SCALING r5): a float32
        # RING-LOCAL mirror of the coordinates halves the ray cast's
        # gather + arithmetic traffic. Coordinates are stored relative
        # to each ring's bbox center, so rounding error scales with the
        # RING extent, not the global extent; the query evaluates the
        # f32 mirror first and re-evaluates only pairs whose decision
        # is not CERTIFIED (any edge term within a conservative error
        # bound) with the exact same f64 expression as before — results
        # are bit-identical to the pure-f64 path by construction.
        self.scx, self.scy, self.sx32, self.sy32, self.sE = _local_f32(
            self.sx, self.sy, self.soff, self.bx1, self.bx2, self.by1, self.by2
        )
        if self.hx.size:
            hb1 = np.minimum.reduceat(self.hx, self.hoff[:-1])
            hb2 = np.maximum.reduceat(self.hx, self.hoff[:-1])
            hc1 = np.minimum.reduceat(self.hy, self.hoff[:-1])
            hc2 = np.maximum.reduceat(self.hy, self.hoff[:-1])
            self.hcx, self.hcy, self.hx32, self.hy32, self.hE = _local_f32(
                self.hx, self.hy, self.hoff, hb1, hb2, hc1, hc2
            )
        else:
            self.hcx = self.hcy = np.empty(0)
            self.hx32 = self.hy32 = np.empty(0, np.float32)
            self.hE = np.empty(0)

        # cell grid (CSR buckets of polygon ids per covered cell)
        if n:
            self.gx0 = float(self.bx1.min())
            self.gy0 = float(self.by1.min())
            gx1 = float(self.bx2.max())
            gy1 = float(self.by2.max())
            span = max(gx1 - self.gx0, gy1 - self.gy0, 1e-300)
            if cell_size is None:
                med = float(np.median(np.maximum(self.bx2 - self.bx1, self.by2 - self.by1)))
                cell_size = max(span / max(int(np.sqrt(n)), 1), med, span * 1e-9)
            self.cell = float(cell_size)
            self.ncols = int(np.floor((gx1 - self.gx0) / self.cell)) + 2
            ci1 = np.floor((self.bx1 - self.gx0) / self.cell).astype(np.int64)
            ci2 = np.floor((self.bx2 - self.gx0) / self.cell).astype(np.int64)
            cj1 = np.floor((self.by1 - self.gy0) / self.cell).astype(np.int64)
            cj2 = np.floor((self.by2 - self.gy0) / self.cell).astype(np.int64)
            nx = ci2 - ci1 + 1
            ncells = nx * (cj2 - cj1 + 1)
            pid = np.repeat(np.arange(n, dtype=np.int64), ncells)
            offs = np.concatenate(([0], np.cumsum(ncells)))
            k = np.arange(offs[-1], dtype=np.int64) - np.repeat(offs[:-1], ncells)
            di = k % np.repeat(nx, ncells)
            dj = k // np.repeat(nx, ncells)
            keys = (np.repeat(cj1, ncells) + dj) * self.ncols + np.repeat(ci1, ncells) + di
            order = np.argsort(keys, kind="stable")
            self.bucket_keys = keys[order]
            self.bucket_polys = pid[order]
        else:
            self.cell = 1.0
            self.gx0 = self.gy0 = 0.0
            self.ncols = 1
            self.bucket_keys = np.empty(0, np.int64)
            self.bucket_polys = np.empty(0, np.int64)

    # -- query ---------------------------------------------------------

    @np.errstate(over="ignore", invalid="ignore")  # overflowed rows are uncertain
    def _ray_cast_pairs_fast(
        self, px, py, ridx, flat_x, flat_y, off, length, cx, cy, lx32, ly32, E
    ):
        """f32 ring-local ray cast with a certified error filter.

        Terms are evaluated on the float32 center-relative mirror, so
        every input magnitude is bounded by B = max(ring half-extent,
        |local probe|); a comparison can disagree with the f64
        evaluation only when the compared quantities lie within a few
        ulps of each other at that scale. Conservative thresholds
        (8·u·B for the linear terms, 64·u·B² for the cross-product
        comparison, u = 2^-24 — both ≥ 2× a worst-case forward error
        analysis of the f32 expressions vs the f64 ones) route every
        uncertain PAIR to the exact f64 path, so the combined result is
        bit-identical to ``ray_cast_pairs`` on all inputs. Probes more
        than ~B·5e-7 from every edge (every realistic probe — snapped
        coverages and quantized probe grids sit orders of magnitude
        further) never take the fallback, and the hot loop moves half
        the bytes of the f64 path."""
        inside = np.zeros(ridx.size, dtype=bool)
        if ridx.size == 0:
            return inside
        pl = length[ridx]
        pxl64 = px - cx[ridx]
        pyl64 = py - cy[ridx]
        B = np.maximum(np.maximum(np.abs(pxl64), np.abs(pyl64)), E[ridx])
        pxl = pxl64.astype(np.float32)
        pyl = pyl64.astype(np.float32)
        unc_rows = []
        for L in np.unique(pl):
            sel_all = np.flatnonzero(pl == L)
            step = max(int(8_000_000 // max(L, 1)), 64)
            for s0 in range(0, sel_all.size, step):
                sel = sel_all[s0 : s0 + step]
                base = off[ridx[sel]][:, None] + np.arange(L)[None, :]
                X = lx32[base]
                Y = ly32[base]
                x1, x2 = X[:, :-1], X[:, 1:]
                y1, y2 = Y[:, :-1], Y[:, 1:]
                pyv = pyl[sel][:, None]
                pxv = pxl[sel][:, None]
                dy = y2 - y1
                straddle = (y1 > pyv) != (y2 > pyv)
                lhs = (pxv - x1) * dy
                rhs = (x2 - x1) * (pyv - y1)
                cross = straddle & ((lhs < rhs) == (dy > np.float32(0.0)))
                inside[sel] = (np.count_nonzero(cross, axis=1) % 2).astype(bool)
                Bv = B[sel][:, None].astype(np.float32)
                ty = np.float32(8.0 * _U32) * Bv
                tau = np.float32(64.0 * _U32) * Bv * Bv
                unc_edge = (
                    (np.abs(y1 - pyv) <= ty)
                    | (np.abs(y2 - pyv) <= ty)
                    | (np.abs(dy) <= ty)
                    | (np.abs(lhs - rhs) <= tau)
                    | ~np.isfinite(lhs - rhs)  # f32 overflow: exact path decides
                )
                u_rows = sel[unc_edge.any(axis=1)]
                if u_rows.size:
                    unc_rows.append(u_rows)
        if unc_rows:
            ur = np.concatenate(unc_rows)
            inside[ur] = ray_cast_pairs(px[ur], py[ur], ridx[ur], flat_x, flat_y, off)
        return inside

    def query(self, px: np.ndarray, py: np.ndarray):
        """Smallest containing polygon per point (even-odd incl. holes,
        argmin by area — reference polygonizer.rs:200-249 semantics).

        Returns (found, idx, n_containing): ``found`` bool per point,
        ``idx`` index into the polygon arrays (valid where found),
        ``n_containing`` count of containing polygons per point.

        Probes are processed SORTED BY CELL KEY (results scattered back
        to input order): random points spray gathers across the whole
        index (~20 MB at a 160k-polygon coverage), and with one index
        copy per Python worker the aggregate working set evicts the
        shared L3 — the 32-core pipeline level was memory-ceiling-bound
        (BENCH_SCALING.md). Sorted probes touch each bucket/ring run
        consecutively; the argsort is ~2 ms per 65k batch.
        """
        m = px.size
        found = np.zeros(m, dtype=bool)
        idx = np.zeros(m, dtype=np.int64)
        ncont = np.zeros(m, dtype=np.int64)
        if self.n == 0 or m == 0:
            return found, idx, ncont

        keys = (
            np.floor((py - self.gy0) / self.cell).astype(np.int64) * self.ncols
            + np.floor((px - self.gx0) / self.cell).astype(np.int64)
        )
        order = np.argsort(keys, kind="stable")
        px, py, keys = px[order], py[order], keys[order]
        lo = np.searchsorted(self.bucket_keys, keys, side="left")
        hi = np.searchsorted(self.bucket_keys, keys, side="right")
        cnt = hi - lo
        total = int(cnt.sum())
        if total == 0:
            return found, idx, ncont
        prow = np.repeat(np.arange(m, dtype=np.int64), cnt)
        pos = (
            np.arange(total, dtype=np.int64)
            - np.repeat(np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt)
            + np.repeat(lo, cnt)
        )
        pcol = self.bucket_polys[pos]

        # bbox filter
        keep = (
            (px[prow] >= self.bx1[pcol])
            & (px[prow] <= self.bx2[pcol])
            & (py[prow] >= self.by1[pcol])
            & (py[prow] <= self.by2[pcol])
        )
        prow, pcol = prow[keep], pcol[keep]
        if prow.size == 0:
            return found, idx, ncont

        # shell ray cast (f32 mirror + certified exact fallback, unless
        # the index was built f64-only)
        if self.use_f32:
            inside = self._ray_cast_pairs_fast(
                px[prow], py[prow], pcol, self.sx, self.sy, self.soff, self.slen,
                self.scx, self.scy, self.sx32, self.sy32, self.sE,
            )
        else:
            inside = ray_cast_pairs(px[prow], py[prow], pcol, self.sx, self.sy, self.soff)
        prow, pcol = prow[inside], pcol[inside]
        if prow.size and self.hole_poly.size:
            # hole exclusion: pairs (point, hole ring) for polys with holes
            has_holes = np.isin(pcol, self.hole_poly)
            hp = np.flatnonzero(has_holes)
            if hp.size:
                # expand each (point, poly) to its hole rings
                horder = np.argsort(self.hole_poly, kind="stable")
                hsorted = self.hole_poly[horder]
                h_lo = np.searchsorted(hsorted, pcol[hp], side="left")
                h_hi = np.searchsorted(hsorted, pcol[hp], side="right")
                h_cnt = h_hi - h_lo
                tot = int(h_cnt.sum())
                src = np.repeat(hp, h_cnt)
                hpos = (
                    np.arange(tot, dtype=np.int64)
                    - np.repeat(np.concatenate(([0], np.cumsum(h_cnt)[:-1])), h_cnt)
                    + np.repeat(h_lo, h_cnt)
                )
                hridx = horder[hpos]
                if self.use_f32:
                    in_hole = self._ray_cast_pairs_fast(
                        px[prow[src]], py[prow[src]], hridx,
                        self.hx, self.hy, self.hoff, self.hlen,
                        self.hcx, self.hcy, self.hx32, self.hy32, self.hE,
                    )
                else:
                    in_hole = ray_cast_pairs(
                        px[prow[src]], py[prow[src]], hridx, self.hx, self.hy, self.hoff
                    )
                bad = np.zeros(prow.size, dtype=bool)
                bad[src[in_hole]] = True
                prow, pcol = prow[~bad], pcol[~bad]

        if prow.size == 0:
            return found, idx, ncont
        # scatter back to INPUT positions (prow indexes the sorted view)
        np.add.at(ncont, order[prow], 1)
        # smallest-area winner per point
        owin = np.lexsort((self.rank[pcol], prow))
        first = np.concatenate(([True], prow[owin][1:] != prow[owin][:-1]))
        wrow = order[prow[owin][first]]
        wcol = pcol[owin][first]
        found[wrow] = True
        idx[wrow] = wcol
        return found, idx, ncont
