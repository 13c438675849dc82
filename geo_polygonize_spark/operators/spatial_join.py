"""Distributed spatial joins over the polygonized coverage.

These are the north_rule extensions the reference does not have (its
single-process analogs: the R-tree candidate join ``snap.rs:117-132``
and hole-assignment join ``polygonizer.rs:192-249``). Both PIP
strategies answer with one kernel, ``kernels.coverage.CoverageIndex``
(cell CSR + flat rings, exact even-odd ray cast, simd.rs:31-79
semantics): the winner per point is the smallest-area containing
polygon, the rule of hole assignment (polygonizer.rs:226-229), and the
two strategies return the same rows.

* ``pip_join(points, polygons)`` — point-in-polygon in one
  co-partitioned pass. Each point keys to one bucket, the hash of its
  grid cell modulo B; each polygon goes once to every distinct bucket
  of the cells its shell bbox covers (to all B when it covers at least
  B cells, without enumerating them). The two sides cogroup by bucket,
  and an Arrow kernel builds one ``CoverageIndex`` over the bucket's
  polygons and probes every point of the bucket with it. A polygon
  that contains a point covers the point's cell, so it is in the
  point's bucket: each point's answer is final in its bucket, and no
  argmin shuffle follows. Skew is bounded by construction: points
  spread by cell hash, and a polygon ships at most B times.
  ``strategy="broadcast"`` (``pip_join_broadcast``) builds the index
  once on the driver instead and probes map-only.

* ``knn_join(points, centroids, k)`` — k nearest tile centroids per
  point: the (small) centroid table is collected and numpy-broadcast
  inside an Arrow batch UDF (argpartition top-k), avoiding a
  points×centroids shuffle entirely. This is the broadcast-side
  strategy; a cell-neighborhood candidate join is the path for huge
  centroid sets.

* ``raster_tile_assign`` — pure column arithmetic (floor bucketing).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.cells import cell_range_cols
from ..kernels.coverage import INDEX_SCHEMA, CoverageIndex

# Cell-hash buckets (B) of the cells join per shuffle partition. Spark
# hash-partitions the bucket key again and AQE coalesces, so B buckets
# land in fewer tasks. Measured on bench.py's 1M-point × 40k-polygon
# leaf at 8 partitions, local[4], one process each (cogroup tasks, most
# rows one task read, 2nd / 3rd call wall): B = 8 → 4 tasks, 406k,
# 3.0 / 2.5 s; B = 16 → 5 tasks, 274k, 2.9 / 2.4 s; B = 32 → 6 tasks,
# 266k, 3.5 / 2.9 s.
BUCKETS_PER_PARTITION = 2
# points probed per ``CoverageIndex.query`` call, so the (probe,
# polygon) and (probe, hole) pair lists of a large bucket stay bounded:
# the broadcast join's Arrow batch size (plans.build_session)
QUERY_SLICE = 65_536


def _use_f32(sc) -> bool:
    """The index's f32 mirror pays only on wide deployments
    (kernels/coverage.py — measured crossover between 8 and 32 local
    cores; results identical either way)."""
    return sc.defaultParallelism >= 16


def broadcast_coverage_index(spark, polygons: DataFrame | None = None, rows: list | None = None):
    """Compile a coverage into a broadcast CoverageIndex ONCE, for
    reuse across many ``pip_join(..., index=...)`` /
    ``image_pipeline(..., coverage_index=...)`` calls. Production
    shape: polygonize once, stream micro-batches against it — without
    this, every batch job re-pays the driver-side index compile +
    broadcast write (~1.4 s fixed at a 160k-polygon coverage, the
    dominant cost of a small batch).

    The frame is collected as an Arrow table; ``rows``, a list of
    polygon dicts already on the driver, is used instead when given.
    The index ships via SparkContext.broadcast: it can be tens of MB,
    and a plain closure capture would ride inside the task command —
    re-sent by the driver FOR EVERY TASK (measured: a 34MB index × 64
    tasks made the whole stage driver-transfer-bound and flat across
    core counts). A broadcast transfers once per executor and the
    closure only carries the handle."""
    if rows is None:
        rows = polygons.select(*INDEX_SCHEMA.names).toArrow()
    sc = spark.sparkContext
    return sc.broadcast(CoverageIndex(rows, use_f32=_use_f32(sc)))


def pip_join_broadcast(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "image_id",
    rows: list | None = None,
    index=None,
) -> DataFrame:
    """Broadcast-side PIP join: the polygon coverage is collected once,
    compiled into a numpy CoverageIndex (cell CSR + flat rings —
    kernels/coverage.py), and captured by a single map-only Arrow UDF
    that resolves candidates + exact PIP + smallest-area argmin per
    batch. ZERO shuffles and no ring arrays on the wire — the right
    plan whenever the coverage fits in executor memory (the cells
    join is the path for coverages that don't).

    ``index``: a prebuilt broadcast from ``broadcast_coverage_index``
    — skips the per-call compile+broadcast entirely.
    """
    bc = index if index is not None else broadcast_coverage_index(
        points.sparkSession, polygons, rows
    )

    schema = T.StructType(
        [
            T.StructField("found", T.BooleanType()),
            T.StructField("p_tile_i", T.IntegerType()),
            T.StructField("p_tile_j", T.IntegerType()),
            T.StructField("p_poly_id", T.LongType()),
            T.StructField("p_area", T.DoubleType()),
            T.StructField("n_containing", T.LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def probe(px: pd.Series, py: pd.Series) -> pd.DataFrame:
        index = bc.value
        n = len(px)
        if index.n == 0:
            # empty coverage: nothing contains anything (found by
            # probing a dangle-only linework through the pipeline)
            return pd.DataFrame(
                {
                    "found": np.zeros(n, dtype=bool),
                    "p_tile_i": np.zeros(n, dtype=np.int32),
                    "p_tile_j": np.zeros(n, dtype=np.int32),
                    "p_poly_id": np.zeros(n, dtype=np.int64),
                    "p_area": np.zeros(n, dtype=np.float64),
                    "n_containing": np.zeros(n, dtype=np.int64),
                }
            )
        x = px.to_numpy(dtype=np.float64)
        y = py.to_numpy(dtype=np.float64)
        found, idx, ncont = index.query(x, y)
        return pd.DataFrame(
            {
                "found": found,
                "p_tile_i": index.tile_i[idx],
                "p_tile_j": index.tile_j[idx],
                "p_poly_id": index.poly_id[idx],
                "p_area": index.area[idx],
                "n_containing": ncont,
            }
        )

    # retain every input column (narrow payloads ride through the
    # map-only join — no re-join shuffle needed for them)
    return (
        points.withColumn("_hit", probe("x", "y"))
        .where(F.col("_hit.found"))
        .withColumn("poly_tile_i", F.col("_hit.p_tile_i"))
        .withColumn("poly_tile_j", F.col("_hit.p_tile_j"))
        .withColumn("poly_id", F.col("_hit.p_poly_id"))
        .withColumn("poly_area", F.col("_hit.p_area"))
        .withColumn("n_containing", F.col("_hit.n_containing"))
        .drop("_hit")
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    x0: float,
    y0: float,
    cell_size: float,
    point_id: str = "image_id",
    strategy: str = "cells",
    rows: list | None = None,
    index=None,
) -> DataFrame:
    """points(point_id, x, y) × polygons → one row per point with its
    smallest containing polygon: (point_id, poly_tile_i, poly_tile_j,
    poly_id, poly_area, x, y, n_containing). Inner-join semantics:
    points outside the coverage, or with a null or non-finite
    coordinate, drop out.

    ``strategy="cells"`` (this body) is the scale path for coverages
    too large to collect: points and polygons cogroup by the hash of
    their grid cells (``cell_size`` on the grid anchored at
    ``(x0, y0)``), and each bucket is probed with its own
    ``CoverageIndex`` (module docstring). ``strategy="broadcast"`` →
    ``pip_join_broadcast`` (map-only; the coverage, or ``rows`` /
    ``index``, must fit in memory; it keeps every point column).
    """
    if strategy == "broadcast":
        return pip_join_broadcast(
            points, polygons, point_id=point_id, rows=rows, index=index
        )
    spark = points.sparkSession
    n_buckets = BUCKETS_PER_PARTITION * int(spark.conf.get("spark.sql.shuffle.partitions"))
    use_f32 = _use_f32(spark.sparkContext)

    def cell(c, origin: float):
        return cell_range_cols(c, origin, cell_size, 1 << 20)

    def bucket(ci, cj):
        return F.pmod(F.xxhash64(ci, cj), F.lit(n_buckets)).cast("int")

    inf = float("inf")
    finite = (F.col("x") > -inf) & (F.col("x") < inf) & (F.col("y") > -inf) & (F.col("y") < inf)
    pts = (
        points.select(point_id, "x", "y")
        .where(finite)  # also drops null and NaN (NaN sorts above +inf)
        .withColumn("_b", bucket(cell(F.col("x"), x0), cell(F.col("y"), y0)))
    )
    # each polygon's buckets: those of the cells its shell bbox covers
    # (the clamp in cell_range_cols is monotone, so a point inside the
    # bbox keys to a cell of the range), or all B once it covers B cells
    ranged = polygons.select(
        *INDEX_SCHEMA.names,
        cell(F.array_min("shell_xs"), x0).alias("_i1"),
        cell(F.array_max("shell_xs"), x0).alias("_i2"),
        cell(F.array_min("shell_ys"), y0).alias("_j1"),
        cell(F.array_max("shell_ys"), y0).alias("_j2"),
    )
    i1, i2, j1, j2 = (F.col(c) for c in ("_i1", "_i2", "_j1", "_j2"))
    n_cells = (i2 - i1 + 1).cast("long") * (j2 - j1 + 1).cast("long")
    buckets = F.when(n_cells >= n_buckets, F.sequence(F.lit(0), F.lit(n_buckets - 1))).otherwise(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.sequence(i1, i2),
                    lambda i: F.transform(F.sequence(j1, j2), lambda j: bucket(i, j)),
                )
            )
        )
    )
    cover = ranged.select(*INDEX_SCHEMA.names, F.explode(buckets).alias("_b"))

    out_schema = T.StructType(
        [
            T.StructField(point_id, points.schema[point_id].dataType),
            T.StructField("poly_tile_i", T.IntegerType()),
            T.StructField("poly_tile_j", T.IntegerType()),
            T.StructField("poly_id", T.LongType()),
            T.StructField("poly_area", T.DoubleType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType()),
            T.StructField("n_containing", T.LongType()),
        ]
    )
    arrow_out = to_arrow_schema(out_schema)

    def probe_bucket(pts: pa.Table, polys: pa.Table) -> pa.Table:
        """One bucket: an index over its polygons, every point probed."""
        if pts.num_rows == 0 or polys.num_rows == 0:
            return arrow_out.empty_table()
        index = CoverageIndex(polys, use_f32=use_f32)
        px = pts.column("x").to_numpy().astype(np.float64, copy=False)
        py = pts.column("y").to_numpy().astype(np.float64, copy=False)
        found = np.zeros(px.size, dtype=bool)
        idx = np.zeros(px.size, dtype=np.int64)
        ncont = np.zeros(px.size, dtype=np.int64)
        for s in range(0, px.size, QUERY_SLICE):
            sl = slice(s, s + QUERY_SLICE)
            found[sl], idx[sl], ncont[sl] = index.query(px[sl], py[sl])
        hit = np.flatnonzero(found)
        won = idx[hit]
        return pa.Table.from_arrays(
            [
                pts.column(point_id).take(hit),
                pa.array(index.tile_i[won]),
                pa.array(index.tile_j[won]),
                pa.array(index.poly_id[won]),
                pa.array(index.area[won]),
                pa.array(px[hit]),
                pa.array(py[hit]),
                pa.array(ncont[hit]),
            ],
            schema=arrow_out,
        )

    return pts.groupBy("_b").cogroup(cover.groupBy("_b")).applyInArrow(probe_bucket, out_schema)


def knn_join(
    points: DataFrame,
    centroids: list[tuple[int, float, float]],
    k: int = 3,
    point_id: str = "image_id",
) -> DataFrame:
    """k nearest centroids per point via numpy broadcast in an Arrow
    batch UDF — no shuffle; the centroid table (tile centroids: one
    per tile) rides into each task as a captured array.

    The UDF returns a STRUCT OF PRIMITIVE COLUMNS built directly from
    numpy (id0/d0/id1/d1/...) — zero per-row Python objects — and the
    (rank, id, dist) explosion happens JVM-side. (The first version
    built a list-of-dicts per row; at 1M rows that Python churn made
    the stage anti-scale.) Output: one row per (point, rank)."""
    ids = np.asarray([c[0] for c in centroids], dtype=np.int64)
    cxs = np.asarray([c[1] for c in centroids], dtype=np.float64)
    cys = np.asarray([c[2] for c in centroids], dtype=np.float64)
    kk = min(k, len(ids))

    schema = T.StructType(
        [f for i in range(kk) for f in (
            T.StructField(f"id{i}", T.LongType()),
            T.StructField(f"d{i}", T.DoubleType()),
        )]
    )

    @F.pandas_udf(schema)
    def topk(px: pd.Series, py: pd.Series) -> pd.DataFrame:
        x = px.to_numpy()[:, None]
        y = py.to_numpy()[:, None]
        d2 = (x - cxs[None, :]) ** 2 + (y - cys[None, :]) ** 2
        order = np.argsort(d2, axis=1, kind="stable")[:, :kk]
        rows = np.arange(d2.shape[0])[:, None]
        data = {}
        for i in range(kk):
            c = order[:, i]
            data[f"id{i}"] = ids[c]
            data[f"d{i}"] = np.sqrt(d2[rows[:, 0], c])
        return pd.DataFrame(data)

    nn = points.withColumn("nn", topk("x", "y"))
    ranked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("rank"),
                    F.col(f"nn.id{i}").alias("centroid_id"),
                    F.col(f"nn.d{i}").alias("dist"),
                )
                for i in range(kk)
            ]
        )
    )
    return nn.select(point_id, "x", "y", ranked.alias("r")).select(
        point_id, "x", "y", "r.rank", "r.centroid_id", "r.dist"
    )


def knn_join_cells(
    points: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    point_id: str = "image_id",
    cells_per_axis: int | None = None,
    max_rounds: int = 8,
) -> DataFrame:
    """EXACT k nearest centroids per point for centroid sets too large
    to broadcast (``knn_join`` is the closure-broadcast fast path; this
    is the scale path named in the module docstring).

    Round r uses a grid of side ``cell·2^r``: centroids replicate into
    their 3×3 cell neighborhood (column exprs), points key to one
    cell, the equi-join yields candidates, and a window takes the
    top-k. A point is RESOLVED when it has k candidates and its k-th
    distance is < cell side — any centroid outside the 3×3
    neighborhood is ≥ one cell side away, so nothing closer was
    missed. Unresolved points (sparse regions) retry on the doubled
    grid; each round touches only the leftover points. Exact for every
    resolved point; raises if points remain after ``max_rounds``
    (pathological: fewer than k centroids in range — callers should
    ensure k ≤ #centroids).

    ``centroids``: DataFrame (centroid_id, cx, cy).
    Output: (point_id, x, y, rank, centroid_id, dist) — the
    ``knn_join`` schema.
    """
    spark = points.sparkSession
    stats = centroids.agg(
        F.min("cx").alias("x0"),
        F.max("cx").alias("x1"),
        F.min("cy").alias("y0"),
        F.max("cy").alias("y1"),
        F.count("*").alias("n"),
    ).collect()[0]
    n_cent = int(stats["n"])
    if n_cent == 0:
        raise ValueError("knn_join_cells: empty centroid table")
    x0, y0 = float(stats["x0"]), float(stats["y0"])
    span = max(float(stats["x1"]) - x0, float(stats["y1"]) - y0, 1e-300)
    if cells_per_axis is None:
        cells_per_axis = max(int(np.sqrt(n_cent)), 1)
    base_cell = span / cells_per_axis

    pending = points.select(point_id, "x", "y")
    resolved_parts: list[DataFrame] = []
    w = Window.partitionBy(point_id).orderBy("dist", "centroid_id")
    for r in range(max_rounds):
        cell = base_cell * (2.0**r)
        ci = F.floor((F.col("cx") - F.lit(x0)) / F.lit(cell)).cast("long")
        cj = F.floor((F.col("cy") - F.lit(y0)) / F.lit(cell)).cast("long")
        cent_cells = (
            centroids.withColumn("_ci", ci)
            .withColumn("_cj", cj)
            .withColumn("di", F.explode(F.sequence(F.lit(-1), F.lit(1))))
            .withColumn("dj", F.explode(F.sequence(F.lit(-1), F.lit(1))))
            .select(
                (F.col("_ci") + F.col("di")).alias("cell_i"),
                (F.col("_cj") + F.col("dj")).alias("cell_j"),
                "centroid_id",
                "cx",
                "cy",
            )
        )
        pts = pending.withColumn(
            "cell_i", F.floor((F.col("x") - F.lit(x0)) / F.lit(cell)).cast("long")
        ).withColumn("cell_j", F.floor((F.col("y") - F.lit(y0)) / F.lit(cell)).cast("long"))
        dx = F.col("x") - F.col("cx")
        dy = F.col("y") - F.col("cy")
        # plain multiplies, not pow(·,2): bit-reproducible across
        # engines (the driver oracle recomputes this in DuckDB)
        cand = pts.join(cent_cells, ["cell_i", "cell_j"]).withColumn(
            "dist", F.sqrt(dx * dx + dy * dy)
        )
        # NOTE (r6): a collect_list+sort_array reformulation of the
        # top-k (one groupBy instead of window + resolution aggregate +
        # semi-join) was measured 2.3× SLOWER warm (6.5 s vs 2.8 s at
        # 1M×40k) — per-group list-of-struct aggregation buffers cost
        # more than the window's sort — so the window shape stays.
        topk = (
            cand.withColumn("rank", F.row_number().over(w) - 1)
            .where(F.col("rank") < k)
            .select(point_id, "x", "y", "rank", "centroid_id", "dist")
        )
        # resolved: k candidates AND k-th distance strictly inside the
        # cell-side guarantee radius
        per_point = topk.groupBy(point_id).agg(
            F.count("*").alias("_nk"), F.max("dist").alias("_dk")
        )
        ok_ids = per_point.where(
            (F.col("_nk") >= k) & (F.col("_dk") < F.lit(cell))
        ).select(point_id)
        resolved_parts.append(topk.join(F.broadcast(ok_ids), point_id, "left_semi"))
        # persisted: each later round (and the final union) re-reads
        # it. The handles deliberately stay cached until session GC:
        # an eager full-count-plus-unpersist variant (release each
        # superseded round) was measured 10× SLOWER end-to-end — the
        # full count executes the whole chain eagerly every round,
        # while isEmpty() stops at the first row; the leak is bounded by
        # max_rounds tiny leftover frames (ADVICE r02 adjudicated).
        # isEmpty(), not limit(1).count(): each limit compiles a new
        # class per call (README, "Deployment notes").
        pending = pending.join(F.broadcast(ok_ids), point_id, "left_anti").persist()
        if pending.isEmpty():
            break
    else:
        if not pending.isEmpty():
            raise RuntimeError(
                f"knn_join_cells: unresolved points after {max_rounds} rounds "
                "(k likely exceeds reachable centroids)"
            )
    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)
    return out


def nearest_centroid_cols(
    points: DataFrame,
    centroids: list[tuple[int, float, float]],
    prefix: str = "nearest_tile",
) -> DataFrame:
    """Nearest-centroid as inline columns (rank-0 of knn_join without
    the explode + self-join) — the pipeline's hot path: map-only, no
    shuffle, numpy broadcast in one Arrow batch UDF."""
    ids = np.asarray([c[0] for c in centroids], dtype=np.int64)
    cxs = np.asarray([c[1] for c in centroids], dtype=np.float64)
    cys = np.asarray([c[2] for c in centroids], dtype=np.float64)

    schema = T.StructType(
        [T.StructField("nid", T.LongType()), T.StructField("nd", T.DoubleType())]
    )

    @F.pandas_udf(schema)
    def nearest(px: pd.Series, py: pd.Series) -> pd.DataFrame:
        x = px.to_numpy()[:, None]
        y = py.to_numpy()[:, None]
        d2 = (x - cxs[None, :]) ** 2 + (y - cys[None, :]) ** 2
        c = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {"nid": ids[c], "nd": np.sqrt(d2[np.arange(d2.shape[0]), c])}
        )

    return (
        points.withColumn("_nn", nearest("x", "y"))
        .withColumn(prefix, F.col("_nn.nid"))
        .withColumn(f"{prefix}_dist", F.col("_nn.nd"))
        .drop("_nn")
    )


def raster_tile_assign(
    points: DataFrame, x0: float, y0: float, tile_size: float, cols: int, rows: int
) -> DataFrame:
    """Raster tile per point — pure column arithmetic (the J3 analog,
    tiling.rs:42-58 grid addressing)."""
    return points.withColumn(
        "raster_i", cell_range_cols(F.col("x"), x0, tile_size, cols)
    ).withColumn("raster_j", cell_range_cols(F.col("y"), y0, tile_size, rows))
