"""Round-6 optimization measurement harness (bench.py is FROZEN for
the driver; every number used to steer this round comes from here).

Decomposes the expensive bench queries into phases, counts Spark jobs
per query, and times isolated pieces with the noop sink so the
computation is measured, not the sink (guide §1.4).

Usage:
  python bench_extra.py dedup      # minhash pipeline decomposition
  python bench_extra.py chain400   # chain stitch phases (profile env)
  python bench_extra.py cells      # pip/knn cell joins
  python bench_extra.py pipeline   # image_pipeline
  python bench_extra.py all
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("SPARK_GRAFT_PROFILE", "1")
os.environ.setdefault("GP_ASM_PROF", "1")

from pyspark.sql import functions as F

from geo_polygonize_spark.plans import build_session
from geo_polygonize_spark.sources.fixtures import grid_lines, random_lines

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

spark = build_session("bench_extra", cores=CPUS, shuffle_partitions=max(CPUS, 8))


def _n_jobs() -> int:
    """Total jobs submitted so far in this app."""
    try:
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return (max(ids) + 1) if ids else 0
    except Exception:
        return 0


def lines_df(xs, ys):
    return spark.createDataFrame(
        [
            (i, [float(v) for v in x], [float(v) for v in y], "bench")
            for i, (x, y) in enumerate(zip(xs, ys))
        ],
        "line_id long, xs array<double>, ys array<double>, dataset string",
    )


def timed(name, fn, cold=True, repeat=2):
    best = None
    jobs = None
    for _ in range(repeat):
        if cold:
            spark.catalog.clearCache()
        j0 = _n_jobs()
        t0 = time.time()
        fn()
        dt = time.time() - t0
        jobs = _n_jobs() - j0
        best = dt if best is None else min(best, dt)
    print(f"XBENCH {name}: {best:.3f}s  jobs={jobs}", flush=True)
    return best


def noop(df):
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------------- dedup
def run_dedup():
    from geo_polygonize_spark.operators.dedup import (
        connected_keepers,
        minhash_dedup_keepers,
        minhash_lsh_dedup,
        minhash_signature,
        shingle_hashes,
    )

    n_docs = 30_000
    toks = [F.hex(F.xxhash64(F.col("id"), F.lit(j))) for j in range(20)]
    corpus_path = f"/tmp/bench_docs_hex_{n_docs}.parquet"
    if not os.path.exists(corpus_path):
        base = spark.range(n_docs).select(
            F.col("id").alias("doc_id"), F.concat_ws(" ", *toks).alias("text")
        )
        dups = base.where("doc_id % 10 = 0").select(
            (F.col("doc_id") + n_docs).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
        base.unionByName(dups).repartition(max(CPUS, 8)).write.mode("overwrite").parquet(
            corpus_path
        )
    corpus = spark.read.parquet(corpus_path)
    corpus.count()

    # warm the DAG (bench.py does the same on a slice)
    minhash_dedup_keepers(corpus.where("doc_id % 16 = 1"), jaccard_threshold=0.8).where(
        "doc_id <> keeper"
    ).count()

    # phase A: shingles only
    sh = shingle_hashes(corpus, "text", 5).select("doc_id", "shingle_hashes")
    timed("dedup.shingles_noop", lambda: noop(sh), cold=False, repeat=2)
    # phase B: signatures (shingle + 64 minhash aggregates)
    sig = minhash_signature(sh, 64, 42).select("doc_id", "sig")
    timed("dedup.signatures_noop", lambda: noop(sig), cold=False, repeat=2)
    # phase C: LSH pairs end to end
    pairs = minhash_lsh_dedup(corpus, jaccard_threshold=0.8)
    timed("dedup.pairs_count", lambda: pairs.count(), cold=False, repeat=2)
    # phase D: CC alone over materialized pairs
    mat = pairs.localCheckpoint(eager=True)
    timed(
        "dedup.cc_only",
        lambda: connected_keepers(mat, all_ids=corpus, id_col="doc_id").where(
            "doc_id <> keeper"
        ).count(),
        cold=False,
        repeat=2,
    )
    # phase E: full pipeline (the bench query)
    timed(
        "dedup.full",
        lambda: minhash_dedup_keepers(corpus, jaccard_threshold=0.8).where(
            "doc_id <> keeper"
        ).count(),
        cold=False,
        repeat=2,
    )


# ------------------------------------------------------------- polygonize
def run_chain400():
    from geo_polygonize_spark.operators.chain_stitch import chain_stitched_polygonize
    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize

    g4 = 400
    g4x, g4y = grid_lines(g4)
    grid4_df = lines_df(g4x, g4y)
    bbox = (0.0, 0.0, float(g4), float(g4))
    # codegen warm
    tiled_polygonize(grid4_df, tile_size=50.0, buffer=1.5, bbox=bbox, drop_collapsed=True).count()
    timed(
        "tiled_grid400",
        lambda: tiled_polygonize(
            grid4_df, tile_size=50.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        ).count(),
    )
    chain_stitched_polygonize(
        grid4_df, tile_size=50.0, buffer=1.5, bbox=bbox, drop_collapsed=True
    ).count()
    timed(
        "chain_grid400",
        lambda: chain_stitched_polygonize(
            grid4_df, tile_size=50.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        ).count(),
    )
    g1 = 100
    gx, gy = grid_lines(g1)
    grid_df = lines_df(gx, gy)
    timed(
        "tiled_grid100",
        lambda: tiled_polygonize(
            grid_df, tile_size=25.0, buffer=1.5, bbox=(0.0, 0.0, 100.0, 100.0), drop_collapsed=True
        ).count(),
    )
    timed(
        "chain_grid100",
        lambda: chain_stitched_polygonize(
            grid_df, tile_size=25.0, buffer=1.5, bbox=(0.0, 0.0, 100.0, 100.0), drop_collapsed=True
        ).count(),
    )
    rx, ry = random_lines(200)
    rnd_df = lines_df(rx, ry)
    timed(
        "tiled_random200",
        lambda: tiled_polygonize(
            rnd_df, tile_size=50.0, buffer=10.0, bbox=(0.0, 0.0, 100.0, 100.0), drop_collapsed=True
        ).count(),
    )


# ------------------------------------------------------------ cell joins
def run_cells():
    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize as _tp
    from geo_polygonize_spark.operators.spatial_join import knn_join_cells, pip_join

    gscale = 200
    sx, sy = grid_lines(gscale)
    cover = _tp(
        lines_df(sx, sy),
        tile_size=25.0,
        buffer=1.5,
        bbox=(0.0, 0.0, float(gscale), float(gscale)),
        drop_collapsed=True,
    ).persist()
    cover.count()
    n_pts = 1_000_000
    pts = (
        spark.range(n_pts)
        .select(
            F.col("id").alias("image_id"),
            (F.pmod(F.xxhash64("id"), 2_000_000) / 10000.0).alias("x"),
            (F.pmod(F.xxhash64("id", F.lit(1)), 2_000_000) / 10000.0).alias("y"),
        )
        .persist()
    )
    pts.count()
    # warm
    pip_join(pts.limit(1000), cover, x0=0.0, y0=0.0, cell_size=2.0, point_id="image_id").count()
    timed(
        "pip_cells_1m",
        lambda: pip_join(
            pts, cover, x0=0.0, y0=0.0, cell_size=2.0, point_id="image_id"
        ).count(),
        cold=False,
        repeat=2,
    )
    cents = cover.select(
        F.col("poly_id").alias("centroid_id"), F.col("cx").alias("cx"), F.col("cy").alias("cy")
    )
    knn_join_cells(pts.limit(1000), cents, k=2, point_id="image_id").count()
    timed(
        "knn_cells_1m",
        lambda: knn_join_cells(pts, cents, k=2, point_id="image_id").count(),
        cold=False,
        repeat=2,
    )
    cover.unpersist()
    pts.unpersist()


# --------------------------------------------------------------- pipeline
def run_pipeline():
    from geo_polygonize_spark.engine import image_pipeline
    from geo_polygonize_spark.sources.images import synth_images

    sf = float(SF_DIR.rstrip("/").split("sf")[-1])
    n_images = max(int(1_000_000 * sf), 2_000)
    img_path = f"/tmp/bench_images_sf{sf}.parquet"
    if not os.path.exists(img_path):
        synth_images(spark, n_images, partitions=max(CPUS, 8)).write.mode("overwrite").parquet(
            img_path
        )
    images = spark.read.parquet(img_path)
    n = 50
    lx, ly = grid_lines(n)
    cover_df = lines_df(lx, ly)
    bbox = (0.0, 0.0, float(n), float(n))
    image_pipeline(spark, images, cover_df, bbox, tile_size=10.0, buffer=1.5).count()
    timed(
        "image_pipeline",
        lambda: image_pipeline(
            spark, images, cover_df, bbox, tile_size=10.0, buffer=1.5
        ).count(),
        cold=False,
        repeat=3,
    )


# ---------------------------------------------------------------- analogs
def run_analogs():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in ("p3_p7_dedup_distinct", "o4_j2_argmin_parent", "j2_pip_rect", "o1_morton_cell"):
        qs[name](spark, SF_DIR).count()  # warm
        timed(name, lambda name=name: qs[name](spark, SF_DIR).count(), cold=False, repeat=2)


TARGETS = {
    "dedup": run_dedup,
    "chain400": run_chain400,
    "cells": run_cells,
    "pipeline": run_pipeline,
    "analogs": run_analogs,
}

if __name__ == "__main__":
    which = sys.argv[1:] or ["all"]
    if which == ["all"]:
        which = list(TARGETS)
    for w in which:
        print(f"==== {w} ====", flush=True)
        TARGETS[w]()
    spark.stop()
