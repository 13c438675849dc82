"""Per-partition lineage/metrics checkpoints + mid-job resume.

north_rule requirement with no reference analog (the reference is a
single-process library; a crash restarts from scratch). Design:

* work unit = one (sub-)tile group of the tiled polygonize;
* polygons append under ``<dir>/polygons/run_id=<id>``; one metrics
  row per completed tile appends to ``<dir>/metrics``:
  ``(tile key, n_segments, fingerprint, n_polys, run_id,
  completed_at)``. Fingerprint = bit_xor of per-segment xxhash64 →
  lineage records *what input* the tile was computed from.
* metrics commit AFTER polygons, so a crash mid-run leaves orphan
  polygon files but no metrics row — the resume recomputes the tile
  and the read path ignores orphans (it only admits polygons whose
  (tile key, run_id) is the tile's LATEST committed metrics row).
* resume = compare the current assignment's (tile key, n_segments,
  fingerprint) with the latest committed rows — unchanged tiles skip,
  changed/missing tiles recompute. Idempotent end to end.

Job shape of one call: only jobs that do work.

1. Metrics first, from one aggregate: a ``groupBy(tile_i, tile_j)``
   over the unsplit window assignment returns each tile's
   ``n_segments``, ``fingerprint`` and split factor ``f``. A tile with
   ``f = 1`` (the common case: no tile is hot) is its own
   ``(ti, tj, 1, 0, 0)`` key. Hot tiles split with the driver-known
   factors, and only their rows run a second, sub-tile aggregate. The
   assignment is not persisted: it is column expressions over the
   caller's frame, and a persisted frame's first read is a job of its
   own under AQE.
2. The store's latest committed rows are collected once, with their
   ``run_id``. The driver decides what is pending and what is stale,
   so no ``limit`` probe runs.
3. Only if something is pending, the kernel writes the polygons; when
   only some tiles are pending, a semi-join with the broadcast pending
   keys selects their segments. The kernel stamps each row with its
   tile's polygon count, and an ``Observation`` brings the counts back
   with the write's own jobs, so no scan of the new run directory
   follows. Then the metrics and tombstone rows are appended in one
   write.
4. The returned coverage is the polygons scan, semi-joined by
   broadcast to the admitted (tile key, ``run_id``) set the driver
   already holds: the committed latest rows, updated with the rows
   just appended. It does not read the metrics again.

Rows built on the driver (metrics, tombstones, pending and admitted
keys) go to Spark as Arrow tables (``sources.arrow.rows_frame``), never
as Python lists, which would round-trip through the Python workers;
``run_id`` and ``completed_at`` never become literals in a plan. Every
read of the store passes its schema, so no schema-inference job runs.
A call over an unchanged store therefore writes nothing, and it
compiles no new code after its first run in the JVM (README,
"Deployment notes").
"""

from __future__ import annotations

import time
import uuid

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F, types as T

from .kernels.polygonize import DEFAULT_SNAP_GRID
from .operators.polygonize_op import POLYGON_SCHEMA, tile_kernel, window_assignment
from .operators.tiling import (
    TILE_KEY,
    factors_frame,
    repartition_tiles,
    split_factor,
    split_hot_tiles,
)
from .sources.arrow import rows_frame

KEY_SCHEMA = T.StructType([T.StructField(c, T.IntegerType()) for c in TILE_KEY])
METRICS_SCHEMA = T.StructType(
    KEY_SCHEMA.fields
    + [
        T.StructField("n_segments", T.LongType()),
        T.StructField("fingerprint", T.LongType()),
        T.StructField("n_polys", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("completed_at", T.DoubleType()),
    ]
)
# polygon rows carry the FULL sub-tile group key so resume admission is
# exact even when a single sub-tile recomputes; run_id is the partition
# directory
POLYGONS_SCHEMA = T.StructType(POLYGON_SCHEMA.fields + KEY_SCHEMA.fields[2:])
STORE_POLYGONS_SCHEMA = T.StructType(
    POLYGONS_SCHEMA.fields + [T.StructField("run_id", T.StringType())]
)
ADMITTED_SCHEMA = T.StructType(KEY_SCHEMA.fields + [T.StructField("run_id", T.StringType())])
# the kernel's output: the stored polygon rows plus the tile's polygon count
KERNEL_SCHEMA = T.StructType(POLYGONS_SCHEMA.fields + [T.StructField("n_polys", T.LongType())])


def _tile_metrics(assigned: DataFrame, *group) -> DataFrame:
    # bit_xor: commutative + overflow-free under ANSI mode (a plain
    # sum of 64-bit hashes overflows); n_segments disambiguates the
    # duplicate-pair xor cancellation case
    return assigned.groupBy(*group).agg(
        F.count("*").alias("n_segments"),
        F.bit_xor(F.xxhash64("x1", "y1", "x2", "y2")).alias("fingerprint"),
    )


def _key_values(rows) -> dict[tuple, tuple]:
    """tile key -> (n_segments, fingerprint) of collected metrics rows."""
    return {
        tuple(r[c] for c in TILE_KEY): (r["n_segments"], r["fingerprint"]) for r in rows
    }


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the JVM Hadoop FileSystem — correct on
    local paths, HDFS, and object stores alike (anything the session's
    Hadoop configuration can resolve)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _path_not_found(e: AnalysisException) -> bool:
    return "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)


def _latest_metrics(spark: SparkSession, metrics_path: str) -> DataFrame | None:
    # a fresh store has no metrics dir yet: check before reading, since
    # Spark logs a WARN stack trace for every read of an absent path
    if not _hadoop_path_exists(spark, metrics_path):
        return None
    try:
        m = spark.read.schema(METRICS_SCHEMA).parquet(metrics_path)
    except AnalysisException as e:
        # the dir vanished after the check: a fresh store again; other
        # failures must surface (same rationale as the polygons read in
        # _admitted_polygons)
        if _path_not_found(e):
            return None
        raise
    w = Window.partitionBy(*TILE_KEY).orderBy(F.col("completed_at").desc())
    return m.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def _admitted_polygons(spark: SparkSession, ckpt_dir: str, admitted: DataFrame) -> DataFrame:
    """The store's polygons whose (tile key, run_id) is a row of
    ``admitted``, as ``POLYGON_SCHEMA`` rows (a broadcast semi-join)."""
    try:
        # the store root, not a ``run_id=*`` glob: partition discovery
        # finds run_id, and Spark logs a WARN stack trace for every glob
        # read even when each run dir exists
        polys = spark.read.schema(STORE_POLYGONS_SCHEMA).parquet(f"{ckpt_dir}/polygons")
    except AnalysisException as e:
        # ONLY a genuinely absent polygons dir reads as empty (a
        # metrics-only checkpoint: every committed run wrote 0 polygons,
        # so no polygons/ directory was ever created). Any other read
        # failure — permissions, corruption, transient FS errors — must
        # surface, not masquerade as an empty coverage.
        if _path_not_found(e):
            return rows_frame(spark, [], POLYGON_SCHEMA)
        raise
    return polys.join(F.broadcast(admitted), TILE_KEY + ["run_id"], "left_semi").drop(
        "run_id", "f", "sub_i", "sub_j"
    )


def resumable_tiled_polygonize(
    spark: SparkSession,
    lines_df: DataFrame | None,
    ckpt_dir: str,
    tile_size: float,
    assigned_segments: DataFrame | None = None,
    scope_to_assigned: bool = False,
    x0: float = 0.0,
    y0: float = 0.0,
    buffer: float = 0.0,
    bbox: tuple[float, float, float, float] | None = None,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
    max_segments_per_tile: int | None = 200_000,
    max_split_factor: int = 16,
) -> DataFrame:
    """Tiled polygonize with tile-level checkpoint/resume. Returns the
    polygon DataFrame read from the checkpoint store — identical
    whether the job ran fresh, resumed after a crash, or was already
    complete (then it is a pure scan, no recompute).

    ``assigned_segments``: pre-tile-assigned segments (x1..y2, tile_i,
    tile_j) instead of raw lines — the streaming path feeds the
    touched partitions of its tile-partitioned segment store here.
    ``scope_to_assigned``: the assignment covers only a SUBSET of the
    store's tiles (incremental recompute); stale-key tombstoning then
    applies only within the parents present in the assignment, and
    absent tiles are trusted as still-valid coverage."""
    if assigned_segments is not None:
        if bbox is not None:
            x0, y0 = float(bbox[0]), float(bbox[1])
        assigned = assigned_segments
    else:
        assigned, x0, y0 = window_assignment(lines_df, tile_size, buffer, bbox)

    # one aggregate over the unsplit assignment: each tile's metrics
    # and its split factor. A tile that does not split is its own
    # (ti, tj, 1, 0, 0) key; only hot tiles need a second, sub-tile
    # aggregate.
    f = F.lit(1)
    if max_segments_per_tile is not None:
        f = F.when(
            F.col("n_segments") > max_segments_per_tile,
            split_factor(F.col("n_segments"), max_segments_per_tile, max_split_factor),
        ).otherwise(1)
    now, fmap = {}, {}
    for r in _tile_metrics(assigned, "tile_i", "tile_j").withColumn("f", f).collect():
        if r["f"] > 1:
            fmap[(r["tile_i"], r["tile_j"])] = r["f"]
        else:
            now[(r["tile_i"], r["tile_j"], 1, 0, 0)] = (r["n_segments"], r["fingerprint"])
    factors = factors_frame(spark, fmap)
    assigned = split_hot_tiles(assigned, factors, x0, y0, tile_size, buffer)
    if factors is not None:
        now.update(_key_values(_tile_metrics(assigned.filter(F.col("f") > 1), *TILE_KEY).collect()))

    poly_path = f"{ckpt_dir}/polygons"
    metrics_path = f"{ckpt_dir}/metrics"

    latest = _latest_metrics(spark, metrics_path)
    # tile key -> (n_segments, fingerprint, run_id) of its latest committed row
    committed = {} if latest is None else {
        tuple(r[c] for c in TILE_KEY): (r["n_segments"], r["fingerprint"], r["run_id"])
        for r in latest.collect()
    }
    # n_segments is compared too: xor cancels on duplicated segments,
    # so (n_segments, fingerprint) together identify the tile's multiset
    pending = [k for k, v in now.items() if committed.get(k, ())[:2] != v]
    # stale keys: committed in the store but absent from the CURRENT
    # assignment — a vanished tile, or a sub-tile layout superseded by
    # a different skew-split factor f (a changed max_segments_per_tile
    # or data growth). Without invalidation their polygons stay
    # admitted NEXT TO the new layout's — silent duplication of the
    # tile's coverage. Tombstone metrics rows (a newer run that wrote
    # zero polygons for the key, n_segments = 0) make the latest-run
    # admission drop them; a key whose latest row already is one needs
    # no new tombstone. Under scope_to_assigned (incremental recompute)
    # only parents present in the current assignment may invalidate;
    # everything else is trusted.
    parents = {k[:2] for k in now}
    stale = [
        k
        for k, (n_segments, _, _) in committed.items()
        if n_segments > 0 and k not in now and (not scope_to_assigned or k[:2] in parents)
    ]

    kernel = tile_kernel(tile_size, x0, y0, snap_grid, drop_collapsed)

    def keyed_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = kernel(key, pdf)
        out["f"] = int(key[2])
        out["sub_i"] = int(key[3])
        out["sub_j"] = int(key[4])
        out["n_polys"] = len(out)
        return out

    run_id = uuid.uuid4().hex
    rows = []
    if pending:
        # every tile pending (a fresh store): skip the semi-join and its
        # broadcast job, ~3% of a perfbench lattice round's CPU
        if len(pending) < len(now):
            assigned = assigned.join(
                F.broadcast(rows_frame(spark, pending, KEY_SCHEMA)), TILE_KEY, "left_semi"
            )
        # the kernel stamps each row with its tile's polygon count, and
        # an observation carries the counts back with the write's own
        # jobs; the column never reaches the store
        counts = Observation()
        polys = (
            repartition_tiles(assigned)
            .groupBy(*TILE_KEY)
            .applyInPandas(keyed_kernel, KERNEL_SCHEMA)
            .observe(counts, F.collect_set(F.struct(*TILE_KEY, "n_polys")).alias("tiles"))
        )
        polys.drop("n_polys").write.mode("append").parquet(f"{poly_path}/run_id={run_id}")
        n_polys = {tuple(t[:5]): t[5] for t in counts.get["tiles"]}
        rows += [(*k, *now[k], n_polys.get(k, 0), run_id) for k in pending]
    rows += [(*k, 0, 0, 0, run_id) for k in stale]
    if rows:
        completed_at = time.time()
        metrics = rows_frame(spark, [(*r, completed_at) for r in rows], METRICS_SCHEMA)
        metrics.coalesce(1).write.mode("append").parquet(metrics_path)
    # the admitted runs: the committed latest rows, updated with the
    # rows just appended
    admitted = {k: v[2] for k, v in committed.items()}
    admitted.update((r[:5], run_id) for r in rows)
    if not admitted:
        return rows_frame(spark, [], POLYGON_SCHEMA)
    return _admitted_polygons(
        spark, ckpt_dir, rows_frame(spark, [(*k, r) for k, r in admitted.items()], ADMITTED_SCHEMA)
    )


def read_checkpointed_coverage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Latest committed polygon coverage from a checkpoint dir: admit
    only each sub-tile's latest committed run (orphans from crashed
    runs, superseded fingerprints, and tombstoned keys — vanished
    tiles / replaced skew-split layouts — drop out). An empty or
    not-yet-written checkpoint dir reads as an empty coverage."""
    latest = _latest_metrics(spark, f"{ckpt_dir}/metrics")
    if latest is None:
        return rows_frame(spark, [], POLYGON_SCHEMA)
    return _admitted_polygons(spark, ckpt_dir, latest.select(*TILE_KEY, "run_id"))
