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

Job shape of one call. The tile-assigned segments are persisted once
and feed both the per-tile metrics and the kernel. Two small frames
come back to the driver, one row per (sub-)tile each: the current
metrics and the store's latest committed rows. The driver decides what
is pending and what is stale, so no ``limit`` probe runs. Then, only
if something is pending, the kernel writes the polygons and a scan of
the new run directory counts them; when only some tiles are pending, a
semi-join with the broadcast pending keys selects their segments. Then
the metrics and tombstone rows are appended in one write. These rows
are data (``createDataFrame``); ``run_id`` and ``completed_at`` never
become literals in a plan. Every read of the store passes its schema,
so no schema-inference job runs.
A call over an unchanged store therefore writes nothing, and it
compiles no new code after its first run in the JVM (README,
"Deployment notes").
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from .operators.polygonize_op import POLYGON_SCHEMA, prepare_assigned, prepare_tiled
from .operators.tiling import TILE_KEY

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


def _tile_metrics(assigned: DataFrame) -> DataFrame:
    # bit_xor: commutative + overflow-free under ANSI mode (a plain
    # sum of 64-bit hashes overflows); n_segments disambiguates the
    # duplicate-pair xor cancellation case
    return assigned.groupBy(*TILE_KEY).agg(
        F.count("*").alias("n_segments"),
        F.bit_xor(F.xxhash64("x1", "y1", "x2", "y2")).alias("fingerprint"),
    )


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the JVM Hadoop FileSystem — correct on
    local paths, HDFS, and object stores alike (anything the session's
    Hadoop configuration can resolve)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


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
        # read_checkpointed_coverage)
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise
    w = Window.partitionBy(*TILE_KEY).orderBy(F.col("completed_at").desc())
    return m.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def _key_values(rows) -> dict[tuple, tuple]:
    """tile key -> (n_segments, fingerprint) of collected metrics rows."""
    return {
        tuple(r[c] for c in TILE_KEY): (r["n_segments"], r["fingerprint"]) for r in rows
    }


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
    **kwargs,
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
        bbox = kwargs.pop("bbox", None)
        if bbox is not None:
            x0, y0 = float(bbox[0]), float(bbox[1])
        assigned, kernel = prepare_assigned(
            assigned_segments, tile_size, buffer=buffer, x0=x0, y0=y0, **kwargs
        )
    else:
        assigned, kernel = prepare_tiled(lines_df, tile_size, buffer=buffer, **kwargs)
    # one assignment (and one skew-factor aggregate) feeds the metrics
    # and the kernel
    assigned = assigned.persist()
    now = _key_values(_tile_metrics(assigned).collect())

    poly_path = f"{ckpt_dir}/polygons"
    metrics_path = f"{ckpt_dir}/metrics"

    latest = _latest_metrics(spark, metrics_path)
    committed = {} if latest is None else _key_values(latest.collect())
    # n_segments is compared too: xor cancels on duplicated segments,
    # so (n_segments, fingerprint) together identify the tile's multiset
    pending = [k for k, v in now.items() if committed.get(k) != v]
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
        for k, (n_segments, _) in committed.items()
        if n_segments > 0 and k not in now and (not scope_to_assigned or k[:2] in parents)
    ]

    import pandas as pd

    def keyed_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = kernel(key, pdf)
        out["f"] = int(key[2])
        out["sub_i"] = int(key[3])
        out["sub_j"] = int(key[4])
        return out

    run_id = uuid.uuid4().hex
    rows = []
    if pending:
        # every tile pending (a fresh store): skip the semi-join and its
        # broadcast job, ~3% of a perfbench lattice round's CPU
        todo = assigned
        if len(pending) < len(now):
            todo = assigned.join(
                F.broadcast(spark.createDataFrame(pending, KEY_SCHEMA)), TILE_KEY, "left_semi"
            )
        run_dir = f"{poly_path}/run_id={run_id}"
        polys = todo.groupBy(*TILE_KEY).applyInPandas(keyed_kernel, POLYGONS_SCHEMA)
        polys.write.mode("append").parquet(run_dir)
        # count what actually landed (cheap scan of the new run dir)
        landed = (
            spark.read.schema(POLYGONS_SCHEMA).parquet(run_dir).groupBy(*TILE_KEY).count()
        )
        n_polys = {tuple(r[c] for c in TILE_KEY): r["count"] for r in landed.collect()}
        rows += [(*k, *now[k], n_polys.get(k, 0), run_id) for k in pending]
    rows += [(*k, 0, 0, 0, run_id) for k in stale]
    assigned.unpersist()
    if rows:
        completed_at = time.time()
        metrics = spark.createDataFrame([(*r, completed_at) for r in rows], METRICS_SCHEMA)
        metrics.coalesce(1).write.mode("append").parquet(metrics_path)
    return read_checkpointed_coverage(spark, ckpt_dir)


def read_checkpointed_coverage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Latest committed polygon coverage from a checkpoint dir: admit
    only each sub-tile's latest committed run (orphans from crashed
    runs, superseded fingerprints, and tombstoned keys — vanished
    tiles / replaced skew-split layouts — drop out). An empty or
    not-yet-written checkpoint dir reads as an empty coverage."""
    latest = _latest_metrics(spark, f"{ckpt_dir}/metrics")
    if latest is None:
        return spark.createDataFrame([], POLYGON_SCHEMA)
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
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], POLYGON_SCHEMA)
        raise
    return polys.join(
        F.broadcast(latest.select(*TILE_KEY, "run_id")),
        on=TILE_KEY + ["run_id"],
        how="left_semi",
    ).drop("run_id", "f", "sub_i", "sub_j")
