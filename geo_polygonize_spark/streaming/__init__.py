"""Streaming ingestion → incremental polygonize.

The reference is strictly batch (single ``polygonize()`` call,
SURVEY.md §2.9) and the north_rule asks for resumable checkpoints
rather than Structured Streaming semantics. This module is the bridge
for callers that DO receive linework as a stream.

Incremental design — per-batch cost is O(touched tiles), independent
of the store size:

1. Each micro-batch segmentizes its lines, assigns tiles (the same
   buffered-replication expressions as the batch path), and APPENDS
   to a segment store PARTITIONED BY (tile_i, tile_j).
2. The batch's touched tile set (usually a handful of partitions) is
   re-read via explicit partition paths — directory pruning, not a
   store scan.
3. The checkpointed recompute (checkpoint.resumable_tiled_polygonize
   with ``scope_to_assigned``) runs over ONLY those tiles: per-tile
   content fingerprints skip unchanged sub-tiles, superseded split
   layouts inside touched parents are tombstoned, and untouched tiles
   remain valid committed coverage.

Earlier design re-read the ENTIRE lines store every trigger (the
fingerprints skipped kernels but the scan itself grew with history);
the tile-partitioned store removes that O(corpus) per-batch term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..checkpoint import _hadoop_path_exists, resumable_tiled_polygonize
from ..operators.polygonize_op import segmentize_df
from ..operators.tiling import assign_windows, grid_shape


def streaming_polygonize(
    spark: SparkSession,
    lines_stream: DataFrame,
    store_dir: str,
    ckpt_dir: str,
    tile_size: float,
    bbox: tuple[float, float, float, float],
    buffer: float = 0.0,
    trigger: str = "10 seconds",
    available_now: bool = False,
    **polygonize_kwargs,
):
    """lines readStream → incremental polygon coverage.

    ``lines_stream``: streaming DataFrame with the lines schema
    (line_id, xs, ys, dataset). ``bbox`` must be the FIXED global
    extent (streaming cannot infer it from unseen data). Each
    micro-batch appends tile-assigned segments to
    ``store_dir/segments`` (parquet, partitioned by tile) and
    recomputes only the touched tiles at ``ckpt_dir``. Returns the
    StreamingQuery; read the current coverage any time with
    ``read_coverage``.
    """
    x0, y0 = float(bbox[0]), float(bbox[1])
    cols, rows = grid_shape(bbox, tile_size)
    seg_root = f"{store_dir}/segments"

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        seg = assign_windows(
            segmentize_df(batch_df), x0, y0, tile_size, buffer, cols, rows
        ).persist()
        seg.write.mode("append").partitionBy("tile_i", "tile_j").parquet(seg_root)
        touched = [
            (int(r["tile_i"]), int(r["tile_j"]))
            for r in seg.select("tile_i", "tile_j").distinct().collect()
        ]
        seg.unpersist()
        # partition existence through the Hadoop FileSystem API — a
        # driver-side os.path check only works on local filesystems;
        # on HDFS/object stores it silently filtered EVERY path out,
        # leaving the coverage permanently stale while the store grew
        paths = [f"{seg_root}/tile_i={ti}/tile_j={tj}" for ti, tj in touched]
        missing = [p for p in paths if not _hadoop_path_exists(spark, p)]
        if missing:
            # the batch just appended these partitions — absence is
            # store corruption / misconfiguration, never a normal state
            raise RuntimeError(
                f"streaming_polygonize: {len(missing)} touched segment "
                f"partitions missing after append (first: {missing[0]})"
            )
        pruned = spark.read.option("basePath", seg_root).parquet(*paths)
        resumable_tiled_polygonize(
            spark,
            None,
            ckpt_dir,
            tile_size,
            assigned_segments=pruned,
            scope_to_assigned=True,
            x0=x0,
            y0=y0,
            buffer=buffer,
            **polygonize_kwargs,
        ).count()

    w = lines_stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", f"{ckpt_dir}/_stream_meta"
    )
    # availableNow: drain everything currently available then stop —
    # deterministic for tests and batch-catchup runs
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime=trigger)
    return w.start()


def read_coverage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Latest committed polygon coverage from a streaming/resumable
    checkpoint dir."""
    from ..checkpoint import read_checkpointed_coverage

    return read_checkpointed_coverage(spark, ckpt_dir)
