"""Ring assembly for the stitched polygonize: ring set in, polygons out.

Two finishes share the reference semantics of
``kernels.rings.assemble_polygons_pdf`` (reference
polygonizer.rs:124-261) — degenerate filter, exact-bbox twin promotion
(polygonizer.rs:152-185), strictly-larger min-area parent rule
(polygonizer.rs:226), final unsigned-area filter
(polygonizer.rs:255-258):

* ``_assemble_rings_local`` — the numpy kernel over the whole ring set
  in one task (small ring sets);
* ``assemble_rings_fused`` — per claim core, over the chain engine's
  cached trace output, with no extra shuffle of ring data (large ring
  sets; protocol below).

Neither states the rule itself: twin promotion, the hole→parent
candidate search and the min-(area, tie) parent choice are
``kernels.rings._promoted``, ``_parent_candidates`` and
``_smallest_parent``. The fused assembly calls them for a core's own
shells and the broadcast merged shells (one reduction over both), the
visitor probes, and the driver's merged residue. Every containment test
is ``kernels.rings.ray_cast_pairs``.

Protocol of the fused assembly
------------------------------
The chain engine emits two kinds of rings: *core* rings, closed inside
one claim core (tile, or hot-tile sub-cell) of its trace kernel, and
*merged* rings, closed by the chain merge.

1. **Core of a core ring.** Every core ring's vertices are half-edge
   tails claimed by one core, so its bbox corner identifies that core
   BIT-EXACTLY and orientation-invariantly:
   ``ti = clip(floor((bx1-x0)/ts))`` — the min-x vertex is in the core,
   and two core rings of one vertex set always co-derive. The trace
   output's partitions hold whole claim groups, so an in-pandas groupby
   inside each partition reproduces the per-core grouping without an
   exchange.
2. **Merged residue (driver).** The merged rings are collected with one
   ``toPandas()``: on grid-400 they are 11,228 rings and 46,260
   coordinates, and each closes from at least two chains.
   Promotion runs driver-side among them, yielding the *merged
   shells*. A merged CW ring has no core twin: it bounds a face, so
   its spurs lie inside its bbox, and a CCW core twin of the same bbox
   would put every vertex of the CW ring in that twin's core, closing
   it there. The merged shells are broadcast (meta + coords, with a
   per-core reach index) to every task. Every merged CW ring (promoted
   or not: promotion adds shell-hood, it does not remove hole-hood — a
   promoted hull is still absorbed by any strictly larger container)
   becomes a *visitor* hole that probes the cores whose closure
   contains its centroid; its merged-shell candidates are resolved on
   the driver.
3. **Per-core kernel.** Member promotion, with the broadcast merged
   CCW rings as twin candidates too: a dangle on the outer side of a
   face's boundary rides in that face's CCW ring, so when it crosses a
   core boundary the CCW ring closes through the merge while its CW
   twin stays a core ring. Then hole→parent assignment over (this
   core's shells) ∪ (broadcast merged shells). *Completeness*: a
   nondegenerate ring's centroid is strictly inside its open bbox, the
   open bbox of a core-contained ring crosses no core boundary, and
   clipped edge cores have no interior core boundaries — so every
   core-ring parent of a member hole lies in the hole's own core.
   Winner = lexicographic min (area, rid). A local winner attaches
   in-task (the polygon never leaves the task); a merged winner emits
   a NARROW ``K_FINAL`` row.
   Visitor probes emit the core's best candidate as a ``K_PARTIAL``
   row, and the finish takes the min across cores.
4. **Finish (narrow).** Per-hole winners = final rows ∪ (min of partial
   rows). Winners targeting merged shells net their areas and area
   moments (the polygon centroid subtracts its holes'); winners
   targeting core shells (rare: a concave merged hole whose centroid
   lands in a core shell) patch the emitted polygons through a
   broadcast join — kernel output is never reshuffled.
   ``drop_collapsed`` is applied in the finish (the kernel can't know
   about late-arriving patches), a narrow filter.

Scale shape: every core ring's coordinates cross exactly ONE Python
pass (no shuffle); every later stage moves narrow winner rows (which
carry only their own hole's coords). There is no cheaper path for
"plain" cores: the face tracer returns bounded faces as CW rings, so
every core that holds a ring holds a CW ring. The merged residue is
O(tile-boundary crossings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels.rings import _parent_candidates, _promoted, _smallest_parent
from ..sources.arrow import rows_frame
from .polygonize_op import POLYGON_SCHEMA
from .tiling import claim_cores, core_key, core_reach_index, touching_cores

# kernel emission kinds
K_POLY = 0      # finished polygon (assembled in-task)
K_FINAL = 1     # final hole→global-shell assignment (narrow)
K_PARTIAL = 4   # visitor hole: best candidate from one touching core

FUSED_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.IntegerType()),
        T.StructField("rid", T.LongType()),
        T.StructField("shell_xs", T.ArrayType(T.DoubleType())),
        T.StructField("shell_ys", T.ArrayType(T.DoubleType())),
        T.StructField("hole_xs", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("hole_ys", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("n_holes", T.IntegerType()),
        T.StructField("net_area", T.DoubleType()),
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
        T.StructField("h_rid", T.LongType()),
        T.StructField("cand_rid", T.LongType()),
        T.StructField("cand_area", T.DoubleType()),
        T.StructField("h_area", T.DoubleType()),
        # hole area moments (area × centroid): a winner row's own hole,
        # summed over a K_POLY row's in-task holes; with the shell area
        # they give the polygon centroid of ``_net_centroid``
        T.StructField("s_area", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
        T.StructField("my", T.DoubleType()),
        # hole coordinates ride ON the winner rows (the kernel holds
        # them anyway), so the finish never re-reads the caller's ring
        # cache — merged-visitor rows leave them null and resolve from
        # the driver-side residue
        T.StructField("h_xs", T.ArrayType(T.DoubleType())),
        T.StructField("h_ys", T.ArrayType(T.DoubleType())),
    ]
)

_RING_COLS = ["rid", "xs", "ys", "area", "bx1", "by1", "bx2", "by2", "cx", "cy"]
_BOX = ("bx1", "by1", "bx2", "by2")


def _net_centroid(c: str, m: str):
    """Polygon centroid column from the shell centroid ``c``, the hole
    moment sum ``m`` and the ``s_area`` / ``net_area`` / ``n_holes``
    columns: ``polygon_centroid``'s formula and its relative degeneracy
    fallback to the shell centroid. A polygon without holes keeps its
    shell centroid bit for bit."""
    keep = (F.col("n_holes") == 0) | (
        F.abs("net_area") < F.greatest(F.col("s_area") * 1e-9, F.lit(1e-12))
    )
    return F.when(keep, F.col(c)).otherwise(
        (F.col("s_area") * F.col(c) - F.col(m)) / F.col("net_area")
    )


def _finish_assignments(
    spark,
    out: DataFrame,
    residue: pd.DataFrame,
    shell: np.ndarray,
    promoted: np.ndarray,
    drop_collapsed: bool,
    extra_partials: DataFrame | None = None,
) -> DataFrame:
    """Narrow finish over a FUSED_SCHEMA kernel output: resolve
    per-hole winners (finals + min over partial candidate rows), net
    the global shells' areas and centroids, and patch rare local-shell
    winners onto the emitted polygons via a broadcast join.

    ``residue``: the driver-side merged rings (``_RING_COLS``);
    ``shell``: the positions of its merged shells; ``promoted``: per
    residue ring, whether twin promotion made it a shell.

    Hole coordinates ride ON the winner rows (h_xs/h_ys, emitted by
    the kernel, which holds every member ring's coords), so the finish
    never re-reads the caller's ring caches. The one exception is
    merged visitors (their coords never enter the kernel): those rows
    carry null h_xs and resolve from ``residue``."""
    polys = out.where(F.col("kind") == K_POLY)
    _wcols = ["h_rid", "cand_rid", "cand_area", "h_area", "mx", "my", "h_xs", "h_ys"]
    finals = out.where(F.col("kind") == K_FINAL).select(*_wcols)
    # deferred-min rides in the same plan (an empty K_PARTIAL set costs
    # one empty exchange inside the job — cheaper than a separate
    # existence-check job)
    partial_src = out.where(F.col("kind") == K_PARTIAL).select(*_wcols)
    if extra_partials is not None:
        # driver-computed merged-vs-merged candidates: no coords cols
        # (null-filled; resolved from merged_coord_rows like visitors)
        partial_src = partial_src.unionByName(
            extra_partials, allowMissingColumns=True
        )
    deferred = (
        partial_src.groupBy("h_rid")
        .agg(
            F.min(F.struct("cand_area", "cand_rid", "h_area", "mx", "my")).alias("w"),
            # all rows of one h_rid describe the SAME hole ring — any
            # non-null coords are the coords
            F.first("h_xs", ignorenulls=True).alias("h_xs"),
            F.first("h_ys", ignorenulls=True).alias("h_ys"),
        )
        .select(
            "h_rid", F.col("w.cand_rid").alias("cand_rid"),
            F.col("w.cand_area").alias("cand_area"),
            F.col("w.h_area").alias("h_area"), F.col("w.mx").alias("mx"),
            F.col("w.my").alias("my"), "h_xs", "h_ys",
        )
    )
    winners = finals.unionByName(deferred)

    # r6 (guide §2.4/§5 — no driver loop in the query path when nothing
    # forces one): the whole finish folds into the caller's single
    # action. The old shape ran ONE separate aggregate job (collect) to
    # fetch per-candidate hole sums — a full materialization of the kernel-output checkpoint plus ~5
    # AQE stage waves (measured 1.3-2.6 s at grid-400, for a handful of
    # rows) — then re-built the same aggregate as broadcast joins. Here
    # the per-candidate aggregate joins the emitted polygons and the
    # (driver-known) global shells directly inside the returned plan;
    # the two joins reference the same aggregate subtree, so the
    # exchange is planned once and reused.
    if len(residue):
        mcdf = spark.createDataFrame(
            pd.DataFrame(
                {
                    "h_rid": residue["rid"].to_numpy(np.int64),
                    "m_xs": residue["xs"],
                    "m_ys": residue["ys"],
                }
            ),
            "h_rid long, m_xs array<double>, m_ys array<double>",
        )
        winners = (
            winners.join(F.broadcast(mcdf), "h_rid", "left")
            .withColumn("h_xs", F.coalesce("h_xs", "m_xs"))
            .withColumn("h_ys", F.coalesce("h_ys", "m_ys"))
            .drop("m_xs", "m_ys")
        )
    pagg = (
        winners.groupBy("cand_rid")
        .agg(
            F.collect_list("h_xs").alias("p_xs"),
            F.collect_list("h_ys").alias("p_ys"),
            F.sum("h_area").alias("p_sum"),
            F.sum("mx").alias("p_mx"),
            F.sum("my").alias("p_my"),
            F.count("*").alias("p_n"),
        )
        .withColumnRenamed("cand_rid", "rid")
    )
    # local-shell winners patch onto emitted polygons (rare); global
    # candidate rids never match a K_POLY rid, so no pre-split of
    # the aggregate is needed
    polys = (
        polys.join(F.broadcast(pagg), "rid", "left")
        .withColumn(
            "hole_xs",
            F.when(F.col("p_xs").isNotNull(),
                   F.concat("hole_xs", "p_xs")).otherwise(F.col("hole_xs")),
        )
        .withColumn(
            "hole_ys",
            F.when(F.col("p_ys").isNotNull(),
                   F.concat("hole_ys", "p_ys")).otherwise(F.col("hole_ys")),
        )
        .withColumn(
            "net_area", F.col("net_area") - F.coalesce("p_sum", F.lit(0.0))
        )
        .withColumn(
            "n_holes",
            (F.col("n_holes") + F.coalesce("p_n", F.lit(0))).cast("int"),
        )
        .withColumn("mx", F.col("mx") + F.coalesce("p_mx", F.lit(0.0)))
        .withColumn("my", F.col("my") + F.coalesce("p_my", F.lit(0.0)))
        .withColumn("cx", _net_centroid("cx", "mx"))
        .withColumn("cy", _net_centroid("cy", "my"))
    )
    if drop_collapsed:
        polys = polys.where(F.col("net_area") > 1e-6)

    gpolys = None
    if shell.size:
        g = residue.iloc[shell]
        flip = promoted[shell].tolist()

        def wound(col):  # promoted shells re-wind CCW
            return pd.Series(
                [list(c)[::-1] if f else list(c) for c, f in zip(g[col], flip)], dtype=object
            )

        gpdf = pd.DataFrame(
            {
                "rid": g["rid"].to_numpy(np.int64),
                "shell_xs": wound("xs"),
                "shell_ys": wound("ys"),
                "s_area": np.abs(g["area"].to_numpy(np.float64)),
                "cx": g["cx"].to_numpy(np.float64),
                "cy": g["cy"].to_numpy(np.float64),
            }
        )
        gbase = spark.createDataFrame(
            gpdf,
            "rid long, shell_xs array<double>, shell_ys array<double>, "
            "s_area double, cx double, cy double",
        )
        gpolys = (
            gbase.join(F.broadcast(pagg), "rid", "left")
            .select(
                "rid", "shell_xs", "shell_ys",
                F.col("p_xs").alias("hole_xs"),
                F.col("p_ys").alias("hole_ys"),
                F.coalesce("p_n", F.lit(0)).cast("int").alias("n_holes"),
                (F.col("s_area") - F.coalesce("p_sum", F.lit(0.0))).alias(
                    "net_area"
                ),
                "s_area", "cx", "cy",
                F.coalesce("p_mx", F.lit(0.0)).alias("mx"),
                F.coalesce("p_my", F.lit(0.0)).alias("my"),
            )
            .withColumn("cx", _net_centroid("cx", "mx"))
            .withColumn("cy", _net_centroid("cy", "my"))
        )
        if drop_collapsed:
            gpolys = gpolys.where(F.col("net_area") > 1e-6)

    final_cols = [
        F.lit(-2).cast("int").alias("tile_i"),  # stitched marker
        F.lit(-2).cast("int").alias("tile_j"),
        F.col("rid").alias("poly_id"),
        "shell_xs", "shell_ys",
        F.coalesce(
            "hole_xs", F.array().cast("array<array<double>>")
        ).alias("hole_xs"),
        F.coalesce(
            "hole_ys", F.array().cast("array<array<double>>")
        ).alias("hole_ys"),
        "n_holes",
        F.col("net_area").alias("area"),
        "cx", "cy",
    ]
    result = polys.select(*final_cols)
    if gpolys is not None:
        result = result.unionByName(gpolys.select(*final_cols))
    return result


def _core_local_assembly(area, rid, cx, cy, box, fx, fy, off, idx, g, glist):
    """Member assembly of one claim core over the rings at positions
    ``idx`` (module docstring step 3): twin promotion, with the merged
    CCW rings of ``glist`` as twin candidates too, then the
    hole→parent search over this core's shells and the merged shells
    ``glist`` of the broadcast residue ``g``, both candidate sets
    reduced to one min-(area, rid) parent per hole in one call.

    Returns ``(sh, s_area, ho, h, w, cand_area, cand_rid)``: the shells'
    ring positions (promoted CW included) and areas, every CW ring's
    position, and the parents: hole ``ho[h[k]]`` takes candidate
    ``w[k]``, the shell ``sh[w[k]]`` below ``sh.size`` and the merged
    shell ``glist[w[k] - sh.size]`` from there on."""
    garea = area[idx]
    tw = glist[g["ccw"][glist]]
    promoted = _promoted(
        np.concatenate((garea, g["area"][tw])),
        *(np.concatenate((c[idx], g[k][tw])) for c, k in zip(box, _BOX)),
    )[: idx.size]
    sh = idx[(garea > 0.0) | promoted]
    ho = idx[garea < 0.0]
    s_area = np.abs(area[sh])
    h_area = np.abs(area[ho])
    hx, hy = cx[ho], cy[ho]
    q_box = (hx, hy, hx, hy)
    si, hj = _parent_candidates(
        tuple(c[sh] for c in box), s_area, sh, q_box, hx, hy, h_area, fx, fy, off
    )
    g_area = g["area"][glist]
    gsi, ghj = _parent_candidates(
        tuple(g[c][glist] for c in _BOX), g_area, glist, q_box, hx, hy, h_area,
        g["fx"], g["fy"], g["off"],
    )
    cand_area = np.concatenate((s_area, g_area))
    cand_rid = np.concatenate((rid[sh], g["rid"][glist]))
    si = np.concatenate((si, gsi + sh.size))
    hj = np.concatenate((hj, ghj))
    win = _smallest_parent(si, hj, cand_area, cand_rid)
    return sh, s_area, ho, hj[win], si[win], cand_area, cand_rid


def _ring_csr(xs_list, ys_list):
    """Flat x, flat y and offsets of a list of rings: the CSR layout of
    ``ray_cast_pairs``."""
    if not xs_list:
        return np.empty(0), np.empty(0), np.zeros(1, dtype=np.int64)
    off = np.concatenate(([0], np.cumsum([len(v) for v in xs_list])))
    fx = np.concatenate(xs_list).astype(np.float64, copy=False)
    return fx, np.concatenate(ys_list).astype(np.float64, copy=False), off


def _fused_rows(kind: int, **cols) -> pd.DataFrame:
    """FUSED_SCHEMA rows of one kind, built as columns: a list becomes
    an object column, and a field not in ``cols`` is null."""
    m = len(next(iter(cols.values())))
    no_long = pd.arrays.IntegerArray(np.zeros(m, np.int64), np.ones(m, bool))
    data = {"kind": np.full(m, kind, np.int32)}
    for f in FUSED_SCHEMA.fields[1:]:
        v = cols.get(f.name)
        if isinstance(v, list):
            v = pd.Series(v, dtype=object)
        elif v is None:
            v = (
                no_long if isinstance(f.dataType, T.LongType)
                else np.full(m, np.nan) if isinstance(f.dataType, T.DoubleType)
                else pd.Series([None] * m, dtype=object)
            )
        data[f.name] = v
    return pd.DataFrame(data)


def _poly_rows(sh, holes, area, rid, cx, cy, coords_x, coords_y) -> pd.DataFrame:
    """K_POLY rows of the fused kernel, one per shell ring position in
    ``sh``: ``holes`` maps a row to the ring positions of the holes
    attached to it in-task (in hole order). A promoted CW shell is
    re-wound CCW; net area is the shell's less its holes'."""
    m = sh.size
    shell_xs = [coords_x[p] for p in sh.tolist()]
    shell_ys = [coords_y[p] for p in sh.tolist()]
    for i in np.flatnonzero(area[sh] < 0).tolist():
        shell_xs[i], shell_ys[i] = shell_xs[i][::-1], shell_ys[i][::-1]
    hole_xs = [[]] * m  # one shared empty list: rows are only read
    hole_ys = [[]] * m
    n_holes = np.zeros(m, np.int32)
    s_area = np.abs(area[sh])
    net_area = s_area.copy()
    mx, my = np.zeros(m), np.zeros(m)
    for i, qs in holes.items():
        hole_xs[i] = [coords_x[q] for q in qs]
        hole_ys[i] = [coords_y[q] for q in qs]
        n_holes[i] = len(qs)
        h_area = np.abs(area[qs])
        net_area[i] = s_area[i] - h_area.sum()
        mx[i], my[i] = h_area @ cx[qs], h_area @ cy[qs]
    return _fused_rows(
        K_POLY, rid=rid[sh], shell_xs=shell_xs, shell_ys=shell_ys, hole_xs=hole_xs,
        hole_ys=hole_ys, n_holes=n_holes, net_area=net_area, cx=cx[sh], cy=cy[sh],
        s_area=s_area, mx=mx, my=my,
    )


def _make_fused_partition_kernel(x0, y0, ts, cols, rows, fmap, gbc, vbc):
    """Per-PARTITION assembly kernel (mapInPandas): regroups the cached
    trace output by claim core (derived from bbox corners — module
    docstring step 1), then runs the member assembly (step 3):
    exact-bbox twin promotion, hole→parent candidates over (own core's
    shells ∪ broadcast merged shells), in-task attach for local
    winners, narrow K_FINAL rows for merged winners, K_PARTIAL probes
    for broadcast visitor holes. Every kind of row is built as columns
    from the per-core arrays."""

    def kernel(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        g = gbc.value
        v = vbc.value  # visitor holes: rid, area, cx, cy, by_core
        n = len(pdf)
        area = pdf["area"].to_numpy()
        rid = pdf["rid"].to_numpy()
        cx = pdf["cx"].to_numpy()
        cy = pdf["cy"].to_numpy()
        box = tuple(pdf[c].to_numpy() for c in _BOX)
        coords_x = [np.asarray(c, np.float64) for c in pdf["xs"]]
        coords_y = [np.asarray(c, np.float64) for c in pdf["ys"]]
        fx, fy, off = _ring_csr(coords_x, coords_y)

        gkey = core_key(*claim_cores(box[0], box[1], x0, y0, ts, cols, rows, fmap), rows)
        order = np.argsort(gkey, kind="stable")
        gk_s = gkey[order]
        bounds = np.concatenate(
            ([0], np.flatnonzero(gk_s[1:] != gk_s[:-1]) + 1, [n])
        )
        g_always = np.asarray(g["always"], np.int64)

        poly_rings = []  # per core: ring positions of its shells, in output order
        poly_holes: dict = {}  # K_POLY row -> ring positions of its in-task holes
        n_poly = 0
        finals = []  # per core: (hole ring positions, parent rid, parent area)
        partials = []  # per core: (visitor positions, candidate rid, candidate area)
        for a, b in zip(bounds[:-1], bounds[1:]):
            key = int(gk_s[a])
            # per-core pre-index: only merged shells whose bbox can
            # reach this core are tested (the padded driver index), not
            # the whole residue — on a lattice the residue is O(√n)
            # boundary rings and a full scan per core would be
            # quadratic-ish
            glist = np.concatenate((g_always, np.asarray(g["by_core"].get(key, ()), np.int64)))
            sh, s_area, ho, h, w, cand_area, cand_rid = _core_local_assembly(
                area, rid, cx, cy, box, fx, fy, off, order[a:b], g, glist
            )
            # an unparented hole vanishes; a local parent attaches
            # in-task, a merged one goes out as a K_FINAL row
            local = w < sh.size
            for q, s in zip(ho[h[local]].tolist(), w[local].tolist()):
                poly_holes.setdefault(n_poly + s, []).append(q)
            w_fin = w[~local]
            finals.append((ho[h[~local]], cand_rid[w_fin], cand_area[w_fin]))

            # visitor probes: merged CW holes touching this core test
            # against THIS core's shells only (merged-shell candidates
            # are computed once, driver-side)
            vids = v["by_core"].get(key)
            if vids is not None and sh.size:
                vx, vy, va = v["cx"][vids], v["cy"][vids], v["area"][vids]
                vsi, vhj = _parent_candidates(
                    tuple(c[sh] for c in box), s_area, sh, (vx, vy, vx, vy), vx, vy, va,
                    fx, fy, off,
                )
                win = _smallest_parent(vsi, vhj, s_area, rid[sh])
                partials.append((vids[vhj[win]], rid[sh[vsi[win]]], s_area[vsi[win]]))

            poly_rings.append(sh)
            n_poly += sh.size

        q, q_rid, q_area = (np.concatenate(c) for c in zip(*finals))
        if q.size:
            q_ha = np.abs(area[q])
            yield _fused_rows(
                K_FINAL, h_rid=rid[q], cand_rid=q_rid, cand_area=q_area,
                h_area=q_ha, mx=q_ha * cx[q], my=q_ha * cy[q],
                h_xs=[coords_x[p] for p in q.tolist()],
                h_ys=[coords_y[p] for p in q.tolist()],
            )
        if partials:
            vq, q_rid, q_area = (np.concatenate(c) for c in zip(*partials))
            if vq.size:
                va = v["area"][vq]
                yield _fused_rows(
                    K_PARTIAL, h_rid=v["rid"][vq], cand_rid=q_rid, cand_area=q_area,
                    h_area=va, mx=va * v["cx"][vq], my=va * v["cy"][vq],
                )
        if n_poly:
            yield _poly_rows(np.concatenate(poly_rings), poly_holes, area, rid, cx, cy,
                             coords_x, coords_y)

    return kernel


def assemble_rings_fused(
    trace_out: DataFrame,
    merged: DataFrame | None,
    x0: float,
    y0: float,
    tile_size: float,
    cols: int,
    rows: int,
    fmap: dict,
    drop_collapsed: bool = False,
) -> DataFrame:
    """Chain-engine assembly with ZERO extra shuffles of ring data:
    phase 2 maps over the cached trace output (module docstring).

    ``trace_out``: the checkpointed CHAIN_SCHEMA kernel output (kind 0
    = core rings, already degenerate-filtered); it must outlive the
    returned plan, which keeps reading it. ``merged``: chain-merge
    output frame (RING_SCHEMA), or None when no chains existed; its
    rings come to the driver through one parallel Arrow job
    (``toPandas``)."""
    spark = trace_out.sparkSession
    ts = float(tile_size)
    ringrows = trace_out.where(F.col("kind") == 0).select(
        F.xxhash64("xs", "ys").alias("rid"),
        "xs", "ys", "area", "bx1", "by1", "bx2", "by2", "cx", "cy",
    )

    res = pd.DataFrame(columns=_RING_COLS)  # the merged residue
    if merged is not None:
        res = (
            merged.where(F.abs("area") >= 1e-9)
            .withColumn("rid", F.xxhash64("xs", "ys"))
            .select(*_RING_COLS)
            .toPandas()
        )

    # promotion among the residue (twins share a vertex set, hence a
    # class): the merged shells are its CCW rings and promoted CW rings
    r_rid = res["rid"].to_numpy(np.int64)
    r_area = res["area"].to_numpy(np.float64)
    r_cx = res["cx"].to_numpy(np.float64)
    r_cy = res["cy"].to_numpy(np.float64)
    r_box = tuple(res[c].to_numpy(np.float64) for c in _BOX)
    promoted = _promoted(r_area, *r_box)
    shell = np.flatnonzero((r_area > 0.0) | promoted)
    g_rid = r_rid[shell]
    g_area = np.abs(r_area[shell])
    g_box = tuple(c[shell] for c in r_box)
    g_fx, g_fy, g_off = _ring_csr(
        list(res["xs"].to_numpy()[shell]), list(res["ys"].to_numpy()[shell])
    )

    # per-core reach index: only merged shells whose bbox can reach a
    # core are tested there; world-spanning shells (e.g. the hull) are
    # tested by every core
    by_core, g_always = core_reach_index(*g_box, x0, y0, ts, cols, rows, fmap)
    payload = {
        "rid": g_rid, "area": g_area, "ccw": r_area[shell] > 0.0, **dict(zip(_BOX, g_box)),
        "fx": g_fx, "fy": g_fy, "off": g_off, "by_core": by_core, "always": g_always,
    }
    gbc = spark.sparkContext.broadcast(payload)

    # visitor holes: every merged CW ring, probing the cores whose
    # closure contains its centroid; their merged-shell candidates are
    # resolved HERE (vectorized driver numpy — bbox_join + grouped PIP,
    # the residue can be O(√n) boundary rings on a lattice) and fed to
    # the finish as extra partial rows
    hole = np.flatnonzero(r_area < 0.0)
    v_rid, v_ha, v_cx, v_cy = r_rid[hole], -r_area[hole], r_cx[hole], r_cy[hole]
    v_by_core: dict = {}
    for vi, (px, py) in enumerate(zip(v_cx.tolist(), v_cy.tolist())):
        for t in touching_cores(px, py, x0, y0, ts, cols, rows, fmap):
            v_by_core.setdefault(int(core_key(*t, rows)), []).append(vi)
    vbc = spark.sparkContext.broadcast({
        "rid": v_rid, "area": v_ha, "cx": v_cx, "cy": v_cy,
        "by_core": {k: np.asarray(i, np.int64) for k, i in v_by_core.items()},
    })
    si, hj = _parent_candidates(
        g_box, g_area, np.arange(shell.size), (v_cx, v_cy, v_cx, v_cy), v_cx, v_cy, v_ha,
        g_fx, g_fy, g_off,
    )
    win = _smallest_parent(si, hj, g_area, g_rid)
    s, h = si[win], hj[win]
    extra_partials = (
        rows_frame(
            spark,
            zip(v_rid[h].tolist(), g_rid[s].tolist(), g_area[s].tolist(), v_ha[h].tolist(),
                (v_ha[h] * v_cx[h]).tolist(), (v_ha[h] * v_cy[h]).tolist()),
            "h_rid long, cand_rid long, cand_area double, h_area double, mx double, "
            "my double",
        )
        if win.size
        else None
    )

    kernel = _make_fused_partition_kernel(x0, y0, ts, cols, rows, fmap, gbc, vbc)
    # lazy checkpoint of the kernel output — materializes inside the
    # finish's FIRST job (the winner aggregate) instead of as its own
    # stage wave
    out = ringrows.mapInPandas(kernel, FUSED_SCHEMA).localCheckpoint(eager=False)

    # hole coords: local winners carry theirs on the K_FINAL rows;
    # merged visitors (K_PARTIAL + extra_partials) resolve from the
    # driver-side residue rows
    return _finish_assignments(
        spark, out, res, shell, promoted, drop_collapsed,
        extra_partials=extra_partials,
    )


def _assemble_rings_local(rings: DataFrame, drop_collapsed: bool) -> DataFrame:
    """Single-task assembly: the numpy assembly kernel over the whole
    (small) ring set. coalesce(1) + mapInPandas, NOT a
    groupBy(lit) grouped-map: coalesce narrowly reads the cached ring
    partitions into one task with no single-partition shuffle
    exchange."""
    from ..kernels.rings import assemble_polygons_pdf

    def kernel(batches):
        ring_xs: list = []
        ring_ys: list = []
        for pdf in batches:
            ring_xs.extend(np.asarray(v, dtype=np.float64) for v in pdf["xs"])
            ring_ys.extend(np.asarray(v, dtype=np.float64) for v in pdf["ys"])
        yield assemble_polygons_pdf(ring_xs, ring_ys, drop_collapsed, -2, -2)

    return rings.select("xs", "ys").coalesce(1).mapInPandas(kernel, POLYGON_SCHEMA)
