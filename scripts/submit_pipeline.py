"""Production entrypoint for the flagship pipeline under spark-submit.

The north_star runs this job "via spark-submit --py-files on
multi-executor clusters": the package ships as a zip built by
``scripts/package_pyfiles.py`` and this script is the application —
it imports ``geo_polygonize_spark`` only from what spark-submit put on
the path, takes the session from spark-submit's conf (no master/conf
overrides beyond SQL-level defaults the package needs), and runs

  linework -> (resumable) tiled polygonize -> broadcast coverage index
  -> image records -> PIP + nearest-tile + raster assignment -> parquet

With ``--ckpt-dir`` the coverage build goes through the per-partition
lineage/metrics checkpoint store (checkpoint.py): a killed run resumes
mid-job, a completed run is a pure scan. The final line on stdout is
one JSON object of run metrics (machine-readable — the smoke test and
any scheduler wrapper parse it).

Example (local smoke; on a cluster swap --master/--conf for yours).
The driver JVM starts before this script runs, so the package's JVM
options (``plans.DRIVER_JAVA_OPTIONS``) go on the command line:

  python scripts/package_pyfiles.py dist/geo_polygonize_spark.zip
  spark-submit --master 'local[4]' \
      --driver-java-options '-XX:Tier4InvocationThreshold=20000
          -XX:Tier4MinInvocationThreshold=2400 -XX:Tier4CompileThreshold=60000
          -XX:Tier4BackEdgeThreshold=160000' \
      --py-files dist/geo_polygonize_spark.zip \
      scripts/submit_pipeline.py \
      --n-records 100000 --grid 40 --tile-size 10 \
      --ckpt-dir /tmp/cov_ckpt --out /tmp/enriched.parquet
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--records", help="parquet path of the image+caption table "
                    "(image_id, caption, phash, fmt, w, h[, bytes])")
    ap.add_argument("--n-records", type=int, default=0,
                    help="synthesize this many records instead of --records")
    ap.add_argument("--lines", help="parquet path of linework "
                    "(line_id, xs array<double>, ys array<double>, dataset)")
    ap.add_argument("--grid", type=int, default=0,
                    help="synthesize an NxN lattice coverage instead of --lines")
    ap.add_argument("--tile-size", type=float, default=0.0,
                    help="raster tile size (default: extent/40)")
    ap.add_argument("--buffer", type=float, default=1.5)
    ap.add_argument("--bbox", help="x0,y0,x1,y1 (default: derived from --grid; "
                    "required with --lines)")
    ap.add_argument("--ckpt-dir", help="coverage checkpoint store; enables "
                    "mid-job resume of the polygonize phase")
    ap.add_argument("--out", required=True, help="output parquet path")
    args = ap.parse_args(argv)

    # Session comes from spark-submit's --master/--conf; only the
    # SQL-level settings the package's Arrow kernels rely on are set
    # here (they are app-level, not cluster-level, decisions).
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.appName("geo_polygonize_pipeline")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    # the package resolves from --py-files (driver + executors)
    from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize
    from geo_polygonize_spark.engine import image_pipeline
    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize
    from geo_polygonize_spark.operators.spatial_join import broadcast_coverage_index

    t_start = time.time()

    if args.lines:
        if not args.bbox:
            ap.error("--bbox is required with --lines")
        lines = spark.read.parquet(args.lines)
        bbox = tuple(float(v) for v in args.bbox.split(","))
    elif args.grid:
        from geo_polygonize_spark.sources.fixtures import grid_lines

        xs, ys = grid_lines(args.grid)
        lines = spark.createDataFrame(
            [
                (i, [float(v) for v in x], [float(v) for v in y], "grid")
                for i, (x, y) in enumerate(zip(xs, ys))
            ],
            "line_id long, xs array<double>, ys array<double>, dataset string",
        )
        bbox = (0.0, 0.0, float(args.grid), float(args.grid))
    else:
        ap.error("one of --lines / --grid is required")
    x0, y0, x1, y1 = bbox
    tile_size = args.tile_size or max(x1 - x0, y1 - y0) / 40.0

    if args.records:
        records = spark.read.parquet(args.records)
    elif args.n_records:
        records = spark.range(0, args.n_records, numPartitions=max(
            spark.sparkContext.defaultParallelism * 2, 8)).select(
            F.format_string("img_%012d", "id").alias("image_id"),
            F.concat(F.lit("caption "), F.col("id").cast("string")).alias("caption"),
            F.xxhash64("id").alias("phash"),
            F.lit("png").alias("fmt"), F.lit(32).alias("w"), F.lit(32).alias("h"),
        )
    else:
        ap.error("one of --records / --n-records is required")

    # phase 1: coverage (checkpointed when --ckpt-dir is given)
    t0 = time.time()
    if args.ckpt_dir:
        polygons = resumable_tiled_polygonize(
            spark, lines, args.ckpt_dir, tile_size=tile_size,
            buffer=args.buffer, bbox=bbox, drop_collapsed=True,
        )
    else:
        polygons = tiled_polygonize(
            lines, tile_size=tile_size, buffer=args.buffer, bbox=bbox,
            drop_collapsed=True,
        )
    cov_idx = broadcast_coverage_index(spark, polygons)
    cover_sec = time.time() - t0

    # phase 2: stream the records against the compiled coverage
    t0 = time.time()
    enriched = image_pipeline(
        spark, records, lines, bbox, tile_size=tile_size, buffer=args.buffer,
        payload_rejoin=False, coverage_index=cov_idx,
    )
    enriched.write.mode("overwrite").parquet(args.out)
    n_out = spark.read.parquet(args.out).count()
    stream_sec = time.time() - t0

    print(json.dumps({
        "n_polygons": cov_idx.value.n,
        "n_out": n_out,
        "cover_sec": round(cover_sec, 2),
        "stream_sec": round(stream_sec, 2),
        "total_sec": round(time.time() - t_start, 2),
        "resumable": bool(args.ckpt_dir),
        "out": args.out,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
