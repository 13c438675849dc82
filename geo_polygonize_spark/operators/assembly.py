"""Ring assembly for the stitched polygonize: ring set in, polygons out.

Three finishes share the reference semantics of
``kernels.rings._assemble_core`` (reference polygonizer.rs:124-261) —
degenerate filter, exact-bbox twin promotion (polygonizer.rs:152-185),
strictly-larger min-area parent rule (polygonizer.rs:226), final
unsigned-area filter (polygonizer.rs:255-258):

* ``_assemble_rings_local`` — the numpy kernel over the whole ring set
  in one task (small ring sets);
* ``assemble_rings_fused`` — per claim core, over the chain engine's
  cached trace output, with no extra shuffle of ring data (large ring
  sets; protocol below);
* ``assemble_rings_distributed`` — DataFrame joins over the global
  ring set (the fallback for a pathological merged residue, and the
  tests' ground truth).

Every containment test is ``kernels.rings.ray_cast_pairs``. The fused
assembly has one hole→parent candidate search, ``_pip_candidates``
(closed-bbox filter, strictly-larger rule, ray cast): a core's own
shells, the broadcast merged shells, the visitor probes and the
driver's visitor-vs-merged-shell pass all call it. The distributed
assembly casts each Arrow batch's candidate pairs in one call.

Protocol of the fused assembly
------------------------------
The chain engine emits two kinds of rings: *core* rings, closed inside
one claim core (tile, or hot-tile sub-cell) of its trace kernel, and
*merged* rings, closed by the chain merge.

1. **Core of a core ring.** Every core ring's vertices are half-edge
   tails claimed by one core, so its bbox corner identifies that core
   BIT-EXACTLY and orientation-invariantly:
   ``ti = clip(floor((bx1-x0)/ts))`` — the min-x vertex is in the core,
   and twins (same vertex set) always co-derive. The trace output's
   partitions hold whole claim groups, so an in-pandas groupby inside
   each partition reproduces the per-core grouping without an exchange.
2. **Merged residue (driver).** The merged rings are size-gated (above
   the gates: the whole ring set goes to ``assemble_rings_distributed``).
   Promotion runs driver-side among them — twins share a vertex set,
   hence a class — yielding the *merged shells*, broadcast (meta +
   coords, with a per-core reach index) to every task. Every merged CW
   ring (promoted or not: promotion adds shell-hood, it does not remove
   hole-hood — a promoted hull is still absorbed by any strictly larger
   container) becomes a *visitor* hole that probes the cores whose
   closure contains its centroid; its merged-shell candidates are
   resolved on the driver.
3. **Per-core kernel.** Member promotion (exact-bbox twins are always
   co-grouped), then hole→parent assignment over (this core's shells)
   ∪ (broadcast merged shells). *Completeness*: a nondegenerate ring's
   centroid is strictly inside its open bbox, the open bbox of a
   core-contained ring crosses no core boundary, and clipped edge cores
   have no interior core boundaries — so every core-ring parent of a
   member hole lies in the hole's own core. Winner = lexicographic min
   (area, rid). A local winner attaches in-task (the polygon never
   leaves the task); a merged winner emits a NARROW ``K_FINAL`` row.
   Visitor probes emit the core's best candidate as a ``K_PARTIAL``
   row, and the finish takes the min across cores.
4. **Bypass.** On an unsplit grid, a core with no CW ring and no
   visitor yields identity polygons (every ring a plain CCW shell), so
   its rings never cross the Python boundary: they re-emit JVM-side
   from the trace output.
5. **Finish (narrow).** Per-hole winners = final rows ∪ (min of partial
   rows). Winners targeting merged shells net their areas; winners
   targeting core shells (rare: a concave merged hole whose centroid
   lands in a core shell) patch the emitted polygons through a
   broadcast join — kernel output is never reshuffled.
   ``drop_collapsed`` is applied in the finish (the kernel can't know
   about late-arriving patches), a narrow filter.

Scale shape: ring coordinates of interesting cores cross exactly ONE
Python pass (no shuffle); every later stage moves narrow winner rows
(which carry only their own hole's coords). The merged residue is
O(tile-boundary crossings) with an explicit gate and a lossless
fallback.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.cells import cell_range_cols
from ..kernels.bboxjoin import bbox_join
from ..kernels.rings import ray_cast_pairs
from .polygonize_op import POLYGON_SCHEMA
from .tiling import claim_cores, core_key, core_key_col, core_reach_index, touching_cores

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
        # hole coordinates ride ON the winner rows (the kernel holds
        # them anyway), so the finish never re-reads the caller's ring
        # cache — merged-visitor rows leave them null and resolve from
        # the driver-side residue
        T.StructField("h_xs", T.ArrayType(T.DoubleType())),
        T.StructField("h_ys", T.ArrayType(T.DoubleType())),
    ]
)

_RING_COLS = ["rid", "xs", "ys", "area", "bx1", "by1", "bx2", "by2", "cx", "cy"]


def _promote_rows(rows):
    """Exact-bbox twin promotion over collected global rings (same rule
    as kernels.rings._assemble_core, polygonizer.rs:152-185). Returns
    (shells, visitors): shells = CCW rows + promoted CW rows as
    (row, promoted) pairs; visitors = ALL CW rows — in the reference
    semantics a promoted CW ring is BOTH a shell and still assigned as
    a hole to its smallest strictly-larger container (that is how a
    coverage hull nets to zero on a filled grid)."""
    by_bbox: dict = {}
    for r in rows:
        if r["area"] > 0:
            by_bbox.setdefault(
                (r["bx1"], r["by1"], r["bx2"], r["by2"]), []
            ).append(r["area"])
    shells = []
    visitors = []
    for r in rows:
        if r["area"] > 0:
            shells.append((r, False))
        else:
            h_area = -r["area"]
            visitors.append(r)
            twins = by_bbox.get((r["bx1"], r["by1"], r["bx2"], r["by2"]), ())
            if not any(abs(s - h_area) < 1e-6 for s in twins):
                shells.append((r, True))  # promoted — AND a hole above
    return shells, visitors


def _bypass_poly_rows(plain: DataFrame) -> DataFrame:
    """JVM-side identity K_POLY rows for rings of PLAIN cores/tiles —
    exactly what the Python kernels emit for a group with no CW ring
    and no visitor (every ring a plain CCW shell: promotion needs a CW
    twin, holes are CW rings, so no K_FINAL/K_PARTIAL and hole arrays
    are empty). Input: _RING_COLS-shaped frame; output: FUSED_SCHEMA."""
    return plain.select(
        F.lit(K_POLY).cast("int").alias("kind"),
        "rid",
        F.col("xs").alias("shell_xs"),
        F.col("ys").alias("shell_ys"),
        F.array().cast("array<array<double>>").alias("hole_xs"),
        F.array().cast("array<array<double>>").alias("hole_ys"),
        F.lit(0).cast("int").alias("n_holes"),
        F.col("area").alias("net_area"),
        "cx",
        "cy",
        F.lit(None).cast("long").alias("h_rid"),
        F.lit(None).cast("long").alias("cand_rid"),
        F.lit(None).cast("double").alias("cand_area"),
        F.lit(None).cast("double").alias("h_area"),
        F.lit(None).cast("array<double>").alias("h_xs"),
        F.lit(None).cast("array<double>").alias("h_ys"),
    )


def _bypass_interesting_split(df: DataFrame, key_col, keys: set, spark):
    """(plain, interesting) split of ``df`` on ``key_col`` membership in
    the driver-known ``keys`` — literal ``isin`` for small sets, anti/
    semi broadcast joins above 512 (a 10^5-literal ``isin`` costs tens
    of seconds of pure py4j expression construction, BENCH.md r5)."""
    if not keys:
        return df, df.where(F.lit(False))
    ids = sorted(keys)
    if len(ids) <= 512:
        return df.where(~key_col.isin(ids)), df.where(key_col.isin(ids))
    idf = spark.createDataFrame(
        pd.DataFrame({"_k": pd.Series(ids, dtype="int64")}), "_k long"
    )
    kdf = df.withColumn("_k", key_col)
    return (
        kdf.join(F.broadcast(idf), "_k", "left_anti").drop("_k"),
        kdf.join(F.broadcast(idf), "_k", "left_semi").drop("_k"),
    )


def _finish_assignments(
    spark,
    out: DataFrame,
    gshells: list,
    drop_collapsed: bool,
    merged_coord_rows: list | None = None,
    extra_partials: DataFrame | None = None,
    bypass_polys: DataFrame | None = None,
) -> DataFrame:
    """Narrow finish over a FUSED_SCHEMA kernel output: resolve
    per-hole winners (finals + min over partial candidate rows), net
    the global shells, and patch rare local-shell winners onto the
    emitted polygons via a broadcast join.

    Hole coordinates ride ON the winner rows (h_xs/h_ys, emitted by
    the kernel, which holds every member ring's coords), so the finish
    never re-reads the caller's ring caches. The one exception is
    merged visitors (their coords never enter
    the kernel): those rows carry null h_xs and resolve from
    ``merged_coord_rows`` — the (driver-side) global residue rows."""
    polys = out.where(F.col("kind") == K_POLY)
    _wcols = ["h_rid", "cand_rid", "cand_area", "h_area", "h_xs", "h_ys"]
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
            F.min(F.struct("cand_area", "cand_rid", "h_area")).alias("w"),
            # all rows of one h_rid describe the SAME hole ring — any
            # non-null coords are the coords
            F.first("h_xs", ignorenulls=True).alias("h_xs"),
            F.first("h_ys", ignorenulls=True).alias("h_ys"),
        )
        .select(
            "h_rid", F.col("w.cand_rid").alias("cand_rid"),
            F.col("w.cand_area").alias("cand_area"),
            F.col("w.h_area").alias("h_area"), "h_xs", "h_ys",
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
    if merged_coord_rows:
        mcdf = spark.createDataFrame(
            pd.DataFrame(
                {
                    "h_rid": pd.Series(
                        [int(r["rid"]) for r in merged_coord_rows], dtype="int64"
                    ),
                    "m_xs": pd.Series(
                        [r["xs"] for r in merged_coord_rows], dtype=object
                    ),
                    "m_ys": pd.Series(
                        [r["ys"] for r in merged_coord_rows], dtype=object
                    ),
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
        .drop("p_xs", "p_ys", "p_sum", "p_n")
    )
    if bypass_polys is not None:
        # identity rows of plain cores/tiles: never patch targets
        # (callers' argument), so they union in AFTER the patch join
        polys = polys.select(
            *[f.name for f in FUSED_SCHEMA.fields]
        ).unionByName(bypass_polys)
    if drop_collapsed:
        polys = polys.where(F.col("net_area") > 1e-6)

    gpolys = None
    if gshells:
        gpdf = pd.DataFrame(
            {
                "rid": pd.Series(
                    [int(r["rid"]) for r, _ in gshells], dtype="int64"
                ),
                "shell_xs": pd.Series(
                    [list(r["xs"])[::-1] if prom else list(r["xs"])
                     for r, prom in gshells], dtype=object),
                "shell_ys": pd.Series(
                    [list(r["ys"])[::-1] if prom else list(r["ys"])
                     for r, prom in gshells], dtype=object),
                "s_area": pd.Series(
                    [abs(float(r["area"])) for r, _ in gshells], dtype="float64"
                ),
                "cx": pd.Series(
                    [float(r["cx"]) for r, _ in gshells], dtype="float64"
                ),
                "cy": pd.Series(
                    [float(r["cy"]) for r, _ in gshells], dtype="float64"
                ),
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
                "cx", "cy",
            )
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


def _best_reduce(si, hj, areas, rids):
    """One (area, rid)-lexicographic min candidate per hole."""
    o = np.lexsort((rids, areas, hj))
    first = np.concatenate(([True], hj[o][1:] != hj[o][:-1]))
    return o[first]


def _core_local_assembly(area, rid, cx, cy, bx1, by1, bx2, by2, fx, fy, off, idx):
    """Single-claim-core member assembly WITHOUT merged-shell knowledge:
    exact-bbox twin promotion (polygonizer.rs:152-185) and hole→parent
    local-candidate search (strictly-larger min-(area, rid) rule,
    polygonizer.rs:226) over the rings at positions ``idx``.

    Returns ``(sh, s_area, ho, h_area, hx, hy, best_area, best_rid,
    best_local)``: shells (promoted CW included), every CW ring as an
    assignment candidate, and per-hole best LOCAL candidate (inf/-1
    when no local shell strictly contains it)."""
    garea = area[idx]
    ccw = garea > 0.0
    cw = garea < 0.0
    by_bbox: dict = {}
    for p in idx[ccw].tolist():
        by_bbox.setdefault((bx1[p], by1[p], bx2[p], by2[p]), []).append(area[p])
    promoted = np.zeros(idx.size, dtype=bool)
    cw_pos = np.flatnonzero(cw)
    for pos in cw_pos.tolist():
        p = idx[pos]
        twins = by_bbox.get((bx1[p], by1[p], bx2[p], by2[p]), ())
        if not any(abs(s + area[p]) < 1e-6 for s in twins):
            promoted[pos] = True
    sh = idx[ccw | (cw & promoted)]  # shells (promoted CW incl.)
    s_area = np.abs(area[sh])
    ho = idx[cw]  # every CW ring is an assignment candidate
    nh = ho.size
    h_area = np.abs(area[ho])
    hx = cx[ho]
    hy = cy[ho]

    best_area = np.full(nh, np.inf)
    best_rid = np.full(nh, np.iinfo(np.int64).max, dtype=np.int64)
    best_local = np.full(nh, -1, dtype=np.int64)  # pos into sh

    si, hj = _pip_candidates(sh, hx, hy, h_area, area, bx1, by1, bx2, by2, fx, fy, off)
    if si.size:
        srid = rid[sh[si]]
        sel = _best_reduce(si, hj, s_area[si], srid)
        rows_ = hj[sel]
        best_area[rows_] = s_area[si[sel]]
        best_rid[rows_] = srid[sel]
        best_local[rows_] = si[sel]
    return sh, s_area, ho, h_area, hx, hy, best_area, best_rid, best_local


def _ring_csr(xs_list, ys_list):
    """Flat x, flat y and offsets of a list of rings: the CSR layout of
    ``ray_cast_pairs``."""
    if not xs_list:
        return np.empty(0), np.empty(0), np.zeros(1, dtype=np.int64)
    off = np.concatenate(([0], np.cumsum([len(v) for v in xs_list])))
    fx = np.concatenate(xs_list).astype(np.float64, copy=False)
    return fx, np.concatenate(ys_list).astype(np.float64, copy=False), off


def _pip_candidates(sh, hx, hy, h_area, area, bx1, by1, bx2, by2, fx, fy, off):
    """The hole→parent candidate search: (si, hj) pairs where hole
    centroid ``(hx[hj], hy[hj])`` lies in the closed bbox of shell
    ``sh[si]``, the shell is strictly larger (polygonizer.rs:226), and
    the ray cast confirms containment. ``sh`` indexes rings into
    ``area``, the bbox arrays and the CSR rings ``(fx, fy, off)``."""
    if sh.size == 0 or hx.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    si, hj = bbox_join(bx1[sh], by1[sh], bx2[sh], by2[sh], hx, hy, hx, hy)
    keep = np.abs(area[sh])[si] > h_area[hj] + 1e-6
    si, hj = si[keep], hj[keep]
    inside = ray_cast_pairs(hx[hj], hy[hj], sh[si], fx, fy, off)
    return si[inside], hj[inside]


def _poly_rows(sh, holes, area, rid, cx, cy, coords_x, coords_y) -> pd.DataFrame:
    """K_POLY rows of the fused kernel, one per shell ring position in
    ``sh``, built as columns: ``holes`` maps a row to the ring positions
    of the holes attached to it in-task (in hole order). A promoted CW
    shell is re-wound CCW; net area is the shell's less its holes'."""
    m = sh.size
    shell_xs = [coords_x[p] for p in sh.tolist()]
    shell_ys = [coords_y[p] for p in sh.tolist()]
    for i in np.flatnonzero(area[sh] < 0).tolist():
        shell_xs[i], shell_ys[i] = shell_xs[i][::-1], shell_ys[i][::-1]
    hole_xs = [[]] * m  # one shared empty list: rows are only read
    hole_ys = [[]] * m
    n_holes = np.zeros(m, np.int32)
    net_area = np.abs(area[sh])
    for i, qs in holes.items():
        hole_xs[i] = [coords_x[q] for q in qs]
        hole_ys[i] = [coords_y[q] for q in qs]
        n_holes[i] = len(qs)
        net_area[i] = np.abs(area[sh[i]]) - np.abs(area[qs]).sum()
    no_long = pd.arrays.IntegerArray(np.zeros(m, np.int64), np.ones(m, bool))
    no_ring = pd.Series([None] * m, dtype=object)
    return pd.DataFrame({
        "kind": np.full(m, K_POLY, np.int32),
        "rid": rid[sh],
        "shell_xs": pd.Series(shell_xs, dtype=object),
        "shell_ys": pd.Series(shell_ys, dtype=object),
        "hole_xs": pd.Series(hole_xs, dtype=object),
        "hole_ys": pd.Series(hole_ys, dtype=object),
        "n_holes": n_holes,
        "net_area": net_area,
        "cx": cx[sh],
        "cy": cy[sh],
        "h_rid": no_long,
        "cand_rid": no_long,
        "cand_area": np.full(m, np.nan),
        "h_area": np.full(m, np.nan),
        "h_xs": no_ring,
        "h_ys": no_ring,
    })


def _make_fused_partition_kernel(x0, y0, ts, cols, rows, fmap, gbc, vbc):
    """Per-PARTITION assembly kernel (mapInPandas): regroups the cached
    trace output by claim core (derived from bbox corners — module
    docstring step 1), then runs the member assembly (step 3):
    exact-bbox twin promotion, hole→parent candidates over (own core's
    shells ∪ broadcast merged shells), in-task attach for local
    winners, narrow K_FINAL rows for merged winners, K_PARTIAL probes
    for broadcast visitor holes."""

    def kernel(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        g = gbc.value
        visitors = vbc.value  # [(rid, h_area, cx, cy, [core keys])]
        n = len(pdf)
        area = pdf["area"].to_numpy()
        rid = pdf["rid"].to_numpy()
        cx = pdf["cx"].to_numpy()
        cy = pdf["cy"].to_numpy()
        bx1 = pdf["bx1"].to_numpy()
        by1 = pdf["by1"].to_numpy()
        bx2 = pdf["bx2"].to_numpy()
        by2 = pdf["by2"].to_numpy()
        coords_x = [np.asarray(v, np.float64) for v in pdf["xs"]]
        coords_y = [np.asarray(v, np.float64) for v in pdf["ys"]]
        fx, fy, off = _ring_csr(coords_x, coords_y)

        gkey = core_key(*claim_cores(bx1, by1, x0, y0, ts, cols, rows, fmap), rows)
        order = np.argsort(gkey, kind="stable")
        gk_s = gkey[order]
        bounds = np.concatenate(
            ([0], np.flatnonzero(gk_s[1:] != gk_s[:-1]) + 1, [n])
        )

        vis_by_key: dict = {}
        for vi, v in enumerate(visitors):
            for k in v[4]:
                vis_by_key.setdefault(k, []).append(vi)

        # the few narrow K_FINAL / K_PARTIAL rows go out row by row; the
        # K_POLY rows (nearly all of the output) are built as columns
        # from the shells' ring positions at the end
        out: dict = {k.name: [] for k in FUSED_SCHEMA.fields}

        def emit(kind, **kw):
            out["kind"].append(kind)
            for fld in FUSED_SCHEMA.fields[1:]:
                out[fld.name].append(kw.get(fld.name))

        poly_rings = []  # per core: ring positions of its shells, in output order
        poly_holes: dict = {}  # K_POLY row -> ring positions of its in-task holes
        n_poly = 0
        for a, b in zip(bounds[:-1], bounds[1:]):
            idx = order[a:b]
            (
                sh, s_area, ho, h_area, hx, hy, best_area, best_rid, best_local
            ) = _core_local_assembly(area, rid, cx, cy, bx1, by1, bx2, by2, fx, fy, off, idx)
            nh = ho.size
            if nh and g["n"]:
                # per-core pre-index: only merged shells whose bbox can
                # reach this core are tested (the padded driver index),
                # not the whole residue — on a lattice the residue is
                # O(√n) boundary rings and a full scan per core would
                # be quadratic-ish
                glist = np.asarray(
                    list(g["always"]) + list(g["by_core"].get(int(gk_s[a]), ())), np.int64
                )
                gsi, ghj = _pip_candidates(
                    glist, hx, hy, h_area, g["area"], g["bx1"], g["by1"], g["bx2"], g["by2"],
                    g["fx"], g["fy"], g["off"],
                )
                if gsi.size:
                    gi = glist[gsi]
                    sel = _best_reduce(gsi, ghj, g["area"][gi], g["rid"][gi])
                    m, ga, gr = ghj[sel], g["area"][gi[sel]], g["rid"][gi[sel]]
                    take = (ga < best_area[m]) | ((ga == best_area[m]) & (gr < best_rid[m]))
                    rows_ = m[take]
                    best_area[rows_] = ga[take]
                    best_rid[rows_] = gr[take]
                    best_local[rows_] = -1

            # an unparented hole (best_area inf) vanishes
            parented = np.isfinite(best_area)
            for p in np.flatnonzero(parented & (best_local >= 0)).tolist():
                poly_holes.setdefault(n_poly + int(best_local[p]), []).append(ho[p])
            for p in np.flatnonzero(parented & (best_local < 0)).tolist():
                emit(
                    K_FINAL,
                    h_rid=int(rid[ho[p]]),
                    cand_rid=int(best_rid[p]),
                    cand_area=float(best_area[p]),
                    h_area=float(h_area[p]),
                    h_xs=coords_x[ho[p]],
                    h_ys=coords_y[ho[p]],
                )

            # visitor probes: merged CW holes touching this core test
            # against THIS core's shells only (merged-shell candidates
            # are computed once, driver-side)
            vids = vis_by_key.get(int(gk_s[a]), ())
            if vids and sh.size:
                vhx = np.fromiter((visitors[v][2] for v in vids), np.float64, len(vids))
                vhy = np.fromiter((visitors[v][3] for v in vids), np.float64, len(vids))
                vha = np.fromiter((visitors[v][1] for v in vids), np.float64, len(vids))
                vsi, vhj = _pip_candidates(
                    sh, vhx, vhy, vha, area, bx1, by1, bx2, by2, fx, fy, off
                )
                if vsi.size:
                    vsrid = rid[sh[vsi]]
                    sel = _best_reduce(vsi, vhj, s_area[vsi], vsrid)
                    for s in sel.tolist():
                        emit(
                            K_PARTIAL,
                            h_rid=int(visitors[vids[vhj[s]]][0]),
                            cand_rid=int(vsrid[s]),
                            cand_area=float(s_area[vsi[s]]),
                            h_area=float(vha[vhj[s]]),
                        )

            poly_rings.append(sh)
            n_poly += sh.size

        if out["kind"]:
            yield pd.DataFrame({k: pd.Series(v, dtype=object) for k, v in out.items()})
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
    global_rows_gate: int = 100_000,
    global_coords_gate: int = 10_000_000,
    merged_rows_bound: int | None = None,
    merged_coords_bound: int | None = None,
    cw_cores: set | None = None,
) -> DataFrame:
    """Chain-engine assembly with ZERO extra shuffles of ring data:
    phase 2 maps over the cached trace output (module docstring).

    ``cw_cores``: pre-computed claim-core keys holding at least one CW
    ring (the chain engine folds this into its counts job); None =
    compute here with one narrow job. Only consulted when ``fmap`` is
    empty (bypass path).

    ``trace_out``: the checkpointed CHAIN_SCHEMA kernel output (kind 0
    = core rings, already degenerate-filtered); it must outlive the
    returned plan, which keeps reading it. ``merged``: chain-merge
    output frame (RING_SCHEMA), or None when no chains existed.

    ``merged_rows_bound`` / ``merged_coords_bound``: caller-known upper
    bounds on the merged residue (the chain engine gets both free from
    its kind-count job: rows ≤ n_chains, coords ≤ chain coords +
    closing vertices). When both fit the gates, the residue collects
    through ONE parallel Arrow job (``toPandas``) instead of Spark's
    incremental ``limit().collect()`` — which executes 1→4→20-task
    waves and converts ring arrays row-by-row through py4j."""
    spark = trace_out.sparkSession
    ts = float(tile_size)
    ringrows = trace_out.where(F.col("kind") == 0).select(
        F.xxhash64("xs", "ys").alias("rid"),
        "xs", "ys", "area", "bx1", "by1", "bx2", "by2", "cx", "cy",
    )

    grows: list = []
    if merged is not None:
        merged_rid = (
            merged.where(F.abs("area") >= 1e-9)
            .withColumn("rid", F.xxhash64("xs", "ys"))
            .select(*_RING_COLS)
        )
        if (
            merged_rows_bound is not None
            and merged_coords_bound is not None
            and merged_rows_bound <= global_rows_gate
            and merged_coords_bound <= global_coords_gate
        ):
            # bounds certify the gates up front: one parallel Arrow
            # collect, no incremental limit waves
            grows = merged_rid.toPandas().to_dict("records")
        else:
            grows = [
                r.asDict()
                for r in merged_rid.limit(global_rows_gate + 1).collect()
            ]
        if (
            len(grows) > global_rows_gate
            or sum(len(r["xs"]) for r in grows) > global_coords_gate
        ):
            # pathological residue: hand the FULL ring set to the
            # distributed assembly (lossless, slower), behind one eager
            # local checkpoint its several joins share (a persist would
            # leak in the CacheManager for the session lifetime)
            rings = ringrows.unionByName(merged_rid).localCheckpoint(eager=True)
            return assemble_rings_distributed(rings, drop_collapsed)
    gshells, gvisitors = _promote_rows(grows)

    ng = len(gshells)
    g_bx1 = np.fromiter((r["bx1"] for r, _ in gshells), np.float64, ng)
    g_by1 = np.fromiter((r["by1"] for r, _ in gshells), np.float64, ng)
    g_bx2 = np.fromiter((r["bx2"] for r, _ in gshells), np.float64, ng)
    g_by2 = np.fromiter((r["by2"] for r, _ in gshells), np.float64, ng)
    g_area = np.fromiter((abs(r["area"]) for r, _ in gshells), np.float64, ng)
    g_rid = np.fromiter((r["rid"] for r, _ in gshells), np.int64, ng)
    g_fx, g_fy, g_off = _ring_csr([r["xs"] for r, _ in gshells], [r["ys"] for r, _ in gshells])

    # per-core reach index: only merged shells whose bbox can reach a
    # core are tested there; world-spanning shells (e.g. the hull) are
    # tested by every core
    by_core, g_always = core_reach_index(
        g_bx1, g_by1, g_bx2, g_by2, x0, y0, ts, cols, rows, fmap
    )
    payload = {
        "n": ng, "rid": g_rid, "area": g_area,
        "bx1": g_bx1, "by1": g_by1, "bx2": g_bx2, "by2": g_by2,
        "fx": g_fx, "fy": g_fy, "off": g_off, "by_core": by_core, "always": g_always,
    }
    gbc = spark.sparkContext.broadcast(payload)

    # visitor holes: every merged CW ring, probing the cores whose
    # closure contains its centroid; their merged-shell candidates are
    # resolved HERE (vectorized driver numpy — bbox_join + grouped PIP,
    # the residue can be O(√n) boundary rings on a lattice) and fed to
    # the finish as extra partial rows
    vis = []
    extra_rows = []
    if gvisitors:
        nv = len(gvisitors)
        v_rid = np.fromiter((r["rid"] for r in gvisitors), np.int64, nv)
        v_ha = np.fromiter((abs(r["area"]) for r in gvisitors), np.float64, nv)
        v_cx = np.fromiter((r["cx"] for r in gvisitors), np.float64, nv)
        v_cy = np.fromiter((r["cy"] for r in gvisitors), np.float64, nv)
        for vi, r in enumerate(gvisitors):
            touch = touching_cores(r["cx"], r["cy"], x0, y0, ts, cols, rows, fmap)
            keys = [core_key(a, b, fv, p, q, rows) for a, b, fv, p, q in touch]
            vis.append(
                (int(v_rid[vi]), float(v_ha[vi]), float(v_cx[vi]), float(v_cy[vi]), keys)
            )
        si, hj = _pip_candidates(
            np.arange(ng), v_cx, v_cy, v_ha, g_area, g_bx1, g_by1, g_bx2, g_by2,
            g_fx, g_fy, g_off,
        )
        if si.size:
            for s in _best_reduce(si, hj, g_area[si], g_rid[si]).tolist():
                extra_rows.append(
                    (int(v_rid[hj[s]]), int(g_rid[si[s]]),
                     float(g_area[si[s]]), float(v_ha[hj[s]]))
                )
    vbc = spark.sparkContext.broadcast(vis)
    extra_partials = (
        spark.createDataFrame(
            extra_rows, "h_rid long, cand_rid long, cand_area double, h_area double"
        )
        if extra_rows
        else None
    )

    # r6 phase-2 bypass (guide §4.1/§2.3 — don't move bytes through
    # Python that come back unchanged): a core with no CW ring and no
    # visitor produces the IDENTITY kernel output — every ring is a
    # plain CCW shell (promotion needs a CW twin, holes are CW rings,
    # K_FINAL/K_PARTIAL need holes), and such shells can never be
    # patch targets in the finish (every winner's cand_rid lives in
    # the hole's own core or the broadcast globals — both interesting).
    # So only rings of INTERESTING cores (any CW ring, or a visitor
    # touch) cross the Arrow boundary; the rest re-emit JVM-side from
    # the cached trace output. On a dense lattice the interesting set
    # is empty and phase 2 moves zero ring bytes through Python
    # (measured: the phase-2 pass was ~1.7 s of pure serialization of
    # 160k rings at grid-400 — the kernel's own compute is ~0.1 s).
    # Hot-tile sub-splits (fmap) complicate the SQL core derivation —
    # those rare runs keep the full Python pass.
    bypass = None
    phase2_in = ringrows
    if not fmap:
        core_c = core_key_col(x0, y0, ts, cols, rows)
        if cw_cores is None:
            cw_cores = {
                int(r["core"])
                for r in ringrows.where(F.col("area") < 0)
                .select(core_c.alias("core"))
                .distinct()
                .collect()
            }
        vis_cores = {int(k) for v in vis for k in v[4]}
        plain, phase2_in = _bypass_interesting_split(
            ringrows, core_c, set(cw_cores) | vis_cores, spark
        )
        bypass = _bypass_poly_rows(plain)

    kernel = _make_fused_partition_kernel(x0, y0, ts, cols, rows, fmap, gbc, vbc)
    # lazy checkpoint of the (now small: interesting cores only) kernel
    # output — materializes inside the finish's FIRST job (the winner
    # aggregate) instead of as its own stage wave. The bypass rows do
    # NOT ride through this checkpoint: they flow straight from the
    # caller's trace storage into the final plan (zero extra copies of
    # plain ring bytes) — valid because the chain engine's trace output
    # is a self-GC'd localCheckpoint that outlives the plan (r6).
    out = phase2_in.mapInPandas(kernel, FUSED_SCHEMA).localCheckpoint(eager=False)

    # hole coords: local winners carry theirs on the K_FINAL rows;
    # merged visitors (K_PARTIAL + extra_partials) resolve from the
    # driver-side residue rows
    return _finish_assignments(
        spark, out, gshells, drop_collapsed,
        merged_coord_rows=grows,
        extra_partials=extra_partials,
        bypass_polys=bypass,
    )


def _assemble_rings_local(rings: DataFrame, drop_collapsed: bool) -> DataFrame:
    """Single-task assembly: the numpy assembly kernel over the whole
    (small) ring set — identical semantics to the distributed joins, a
    fraction of the latency. coalesce(1) + mapInPandas, NOT a
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


def assemble_rings_distributed(rings: DataFrame, drop_collapsed: bool = False) -> DataFrame:
    """Distributed assembly over a global ring set (the DataFrame
    translation of kernels.rings.assemble_polygons; same semantics,
    reference polygonizer.rs:124-261).

    Shuffle discipline: every classification / promotion / candidate /
    winner stage runs over NARROW metadata rows (rid, area, bbox,
    centroid — 72 bytes). Ring coordinate arrays cross the wire in
    exactly three bounded places: once per candidate-bearing shell
    into the PIP kernel, once per ASSIGNED hole into the hole
    aggregation, and once per output polygon in the final attach —
    never per candidate row, never through the promotion joins."""
    coords = rings.select("rid", "xs", "ys")
    meta = rings.select("rid", "area", "bx1", "by1", "bx2", "by2", "cx", "cy")
    shells = meta.where("area > 0").select(
        "rid", F.col("area").alias("s_area"), "bx1", "by1", "bx2", "by2", "cx", "cy"
    )
    holes = meta.where("area < 0").select(
        F.col("rid").alias("h_rid"),
        (-F.col("area")).alias("h_area"),
        F.col("bx1").alias("hbx1"),
        F.col("by1").alias("hby1"),
        F.col("bx2").alias("hbx2"),
        F.col("by2").alias("hby2"),
        F.col("cx").alias("hcx"),
        F.col("cy").alias("hcy"),
    )

    # --- promotion: CW ring with no CCW twin (exact bbox + ~area) ----
    twins = (
        holes.join(
            shells.select("s_area", "bx1", "by1", "bx2", "by2"),
            (F.col("hbx1") == F.col("bx1"))
            & (F.col("hby1") == F.col("by1"))
            & (F.col("hbx2") == F.col("bx2"))
            & (F.col("hby2") == F.col("by2"))
            & (F.abs(F.col("h_area") - F.col("s_area")) < 1e-6),
            "left_semi",
        )
    ).select("h_rid")
    promoted = holes.join(twins, "h_rid", "left_anti").select(
        F.col("h_rid").alias("rid"),
        F.col("h_area").alias("s_area"),
        F.col("hbx1").alias("bx1"),
        F.col("hby1").alias("by1"),
        F.col("hbx2").alias("bx2"),
        F.col("hby2").alias("by2"),
        F.col("hcx").alias("cx"),
        F.col("hcy").alias("cy"),
        F.lit(True).alias("promoted"),
    )
    all_shells = shells.withColumn("promoted", F.lit(False)).unionByName(promoted)

    # --- hole assignment: bbox cell-join + PIP(hole centroid) --------
    # cell grid sized from the shell bbox distribution (driver-side agg
    # of 4 scalars)
    stats = all_shells.agg(
        F.min("bx1").alias("gx0"),
        F.min("by1").alias("gy0"),
        F.max("bx2").alias("gx1"),
        F.max("by2").alias("gy1"),
        F.expr("percentile_approx(bx2 - bx1, 0.5)").alias("med"),
        F.count("*").alias("n"),
        F.max("s_area").alias("max_area"),
    ).collect()[0]
    if stats["n"] == 0:
        return rings.sparkSession.createDataFrame([], POLYGON_SCHEMA)
    gx0, gy0 = float(stats["gx0"]), float(stats["gy0"])
    span = max(float(stats["gx1"]) - gx0, float(stats["gy1"]) - gy0, 1e-300)
    cell = max(span / max(int(np.sqrt(stats["n"])), 1), float(stats["med"] or 0.0), span * 1e-9)
    n_cells = 1 << 20

    # NARROW candidate generation: only (rid, bbox, area) replicate per
    # covered cell — ring coordinate arrays never enter the cell join.
    # (A shell spanning the full extent — e.g. a grid hull — covers
    # every cell; replicating its 10⁵-vertex array per cell is an
    # O(cells × ring) shuffle blowup, measured as the dominant cost.)
    sc = all_shells.select("rid", "s_area", "bx1", "by1", "bx2", "by2")
    ci1 = cell_range_cols(F.col("bx1"), gx0, cell, n_cells)
    ci2 = cell_range_cols(F.col("bx2"), gx0, cell, n_cells)
    cj1 = cell_range_cols(F.col("by1"), gy0, cell, n_cells)
    cj2 = cell_range_cols(F.col("by2"), gy0, cell, n_cells)
    shell_cells = sc.withColumn("cell_i", F.explode(F.sequence(ci1, ci2))).withColumn(
        "cell_j", F.explode(F.sequence(cj1, cj2))
    )
    # holes that cannot have a strictly-larger parent (above all the
    # promoted coverage hull — whose centroid would otherwise generate
    # a candidate against every cell-mate) never enter the cell join
    # (polygonizer.rs:226; same prefilter as the kernel assembly)
    hole_pts = holes.where(
        F.col("h_area") < F.lit(float(stats["max_area"])) - 1e-6
    ).select("h_rid", "hcx", "hcy", "h_area").withColumn(
        "cell_i", cell_range_cols(F.col("hcx"), gx0, cell, n_cells)
    ).withColumn("cell_j", cell_range_cols(F.col("hcy"), gy0, cell, n_cells))
    # a hole keys to exactly ONE cell, so each (hole, shell) candidate
    # pair arises once — no dedup needed
    cand = hole_pts.join(shell_cells, ["cell_i", "cell_j"]).where(
        (F.col("hcx") >= F.col("bx1"))
        & (F.col("hcx") <= F.col("bx2"))
        & (F.col("hcy") >= F.col("by1"))
        & (F.col("hcy") <= F.col("by2"))
        & (F.col("s_area") > F.col("h_area") + 1e-6)  # polygonizer.rs:226
    )
    # group candidates per shell, then join the shell's ring arrays by
    # rid — coordinates cross the wire exactly once per shell.
    # Promoted shells join the ORIGINAL (reversed) ring — orientation
    # does not change even-odd containment.
    # persisted: consumed by the broadcast key prune AND the coords
    # join — an unpersisted broadcast build would re-execute the whole
    # candidate pipeline a second time
    per_shell = cand.groupBy("rid", "s_area").agg(
        F.collect_list(F.struct("h_rid", "hcx", "hcy", "h_area")).alias("probes")
    ).persist()
    # broadcast-semi prune coords BEFORE its shuffle: only the
    # candidate-bearing shells' arrays move (an unpruned join by rid
    # would shuffle EVERY ring's arrays — measured as the dominant
    # assembly bytes)
    cand_shells = coords.join(
        F.broadcast(per_shell.select("rid")), "rid", "left_semi"
    )
    with_coords = per_shell.join(cand_shells, "rid")

    hit_schema = T.StructType(
        [
            T.StructField("h_rid", T.LongType()),
            T.StructField("rid", T.LongType()),
            T.StructField("s_area", T.DoubleType()),
            T.StructField("h_area_back", T.DoubleType()),
        ]
    )

    def pip_hits(batches):
        """One ray cast per Arrow batch: every (hole centroid, candidate
        shell) pair of the batch goes through a single ``ray_cast_pairs``
        call over the batch's shells as CSR rings."""
        import pyarrow as pa

        def lengths(lists):
            return lists.value_lengths().fill_null(0).to_numpy()

        for batch in batches:
            col = batch.column
            probes = col("probes").flatten()
            owner = np.repeat(np.arange(batch.num_rows), lengths(col("probes")))
            off = np.concatenate(([0], np.cumsum(lengths(col("xs")))))
            inside = ray_cast_pairs(
                probes.field("hcx").to_numpy(), probes.field("hcy").to_numpy(), owner,
                col("xs").flatten().to_numpy(), col("ys").flatten().to_numpy(), off,
            )
            hit = np.flatnonzero(inside)
            if hit.size:
                yield pa.RecordBatch.from_arrays(
                    [
                        probes.field("h_rid").take(hit),
                        col("rid").take(owner[hit]),
                        col("s_area").take(owner[hit]),
                        probes.field("h_area").take(hit),
                    ],
                    names=hit_schema.names,
                )

    hit = with_coords.mapInArrow(pip_hits, hit_schema)
    winners = (
        hit.groupBy("h_rid")
        .agg(F.min_by(F.struct("rid"), "s_area").alias("best"), F.min("h_area_back").alias("h_area"))
        .select("h_rid", F.col("best.rid").alias("rid"), "h_area")
        .persist()  # read by its own broadcast key prune + the join
    )
    hole_coords = coords.select(
        F.col("rid").alias("h_rid"), F.col("xs").alias("h_xs"), F.col("ys").alias("h_ys")
    ).join(F.broadcast(winners.select("h_rid")), "h_rid", "left_semi")
    # hole ring arrays: once per ASSIGNED hole, by id
    assigned = winners.join(hole_coords, "h_rid")

    hole_agg = assigned.groupBy("rid").agg(
        F.collect_list("h_xs").alias("hole_xs"),
        F.collect_list("h_ys").alias("hole_ys"),
        F.sum("h_area").alias("holes_area"),
        F.count("*").alias("n_holes"),
    )

    out = (
        all_shells.join(hole_agg, "rid", "left")
        .withColumn("holes_area", F.coalesce("holes_area", F.lit(0.0)))
        .withColumn("n_holes", F.coalesce("n_holes", F.lit(0)).cast("int"))
        .withColumn("net_area", F.col("s_area") - F.col("holes_area"))
    )
    if drop_collapsed:
        out = out.where(F.col("net_area") > 1e-6)  # polygonizer.rs:255-258
    # single arrays attach per output polygon; promoted shells re-wind
    # CCW here (polygonizer.rs:164-169)
    out = out.join(coords, "rid")
    return out.select(
        F.lit(-2).cast("int").alias("tile_i"),  # stitched marker
        F.lit(-2).cast("int").alias("tile_j"),
        F.col("rid").alias("poly_id"),
        F.when(F.col("promoted"), F.reverse("xs")).otherwise(F.col("xs")).alias("shell_xs"),
        F.when(F.col("promoted"), F.reverse("ys")).otherwise(F.col("ys")).alias("shell_ys"),
        F.coalesce("hole_xs", F.array().cast("array<array<double>>")).alias("hole_xs"),
        F.coalesce("hole_ys", F.array().cast("array<array<double>>")).alias("hole_ys"),
        "n_holes",
        F.col("net_area").alias("area"),
        "cx",
        "cy",
    )
