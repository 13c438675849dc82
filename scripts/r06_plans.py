"""Write plans/r06/<query>_{before,after}.txt — explain("formatted")
for the queries this round touched. BEFORE plans are captured by
running with R06_BEFORE=1 R06_REPO=<worktree of the round-start
revision> (git worktree add <dir> d5814c2); the default run writes the
AFTER plans against /root/repo.

Reading note: frames that localCheckpoint internally (the banded
minhash frame, the chain trace checkpoint) appear as
``Scan ExistingRDD`` leaves in the captured plan — the upstream
subtree (e.g. the signature mapInPandas) executed while the frame was
constructed; the leaf IS the evidence that downstream consumers read
materialized blocks instead of re-evaluating the subtree.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

# R06_REPO lets the BEFORE capture run against a worktree of the
# round-start revision while still writing into plans/r06
sys.path.insert(0, os.environ.get("R06_REPO", "/root/repo"))

import numpy as np
from pyspark.sql import functions as F

from geo_polygonize_spark.plans import build_session

TAG = "before" if os.environ.get("R06_BEFORE") else "after"
OUT = "/root/repo/plans/r06"
os.makedirs(OUT, exist_ok=True)

spark = build_session("r06-plans", cores=8, shuffle_partitions=8)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump(name, df, note=""):
    p = plan_of(df)
    with open(f"{OUT}/{name}_{TAG}.txt", "w") as f:
        if note:
            f.write(f"-- {note}\n")
        f.write(p)
    print(f"wrote {name}_{TAG}.txt ({len(p)} bytes)", flush=True)


def lines_df(xs, ys):
    return spark.createDataFrame(
        [
            (i, [float(v) for v in x], [float(v) for v in y], "bench")
            for i, (x, y) in enumerate(zip(xs, ys))
        ],
        "line_id long, xs array<double>, ys array<double>, dataset string",
    )


# ---- 1. minhash pairs + keepers (shingle/signature/banding changes) ----
from geo_polygonize_spark.operators.dedup import minhash_lsh_dedup

docs = spark.range(2000).select(
    F.col("id").alias("doc_id"),
    F.concat_ws(" ", *[F.hex(F.xxhash64(F.col("id"), F.lit(j))) for j in range(20)]).alias("text"),
)
dump(
    "minhash_pairs",
    minhash_lsh_dedup(docs, jaccard_threshold=0.8),
    "LSH pair mining: shingle eval, signature computation, band self-join, verify",
)

# ---- 2. pip_join cells (auto-salt restructure) -------------------------
from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize
from geo_polygonize_spark.operators.spatial_join import pip_join
from geo_polygonize_spark.sources.fixtures import grid_lines

gx, gy = grid_lines(20)
cover = tiled_polygonize(
    lines_df(gx, gy), tile_size=10.0, buffer=1.5, bbox=(0.0, 0.0, 20.0, 20.0),
    drop_collapsed=True,
)
pts = spark.range(20000).select(
    F.col("id").alias("image_id"),
    (F.pmod(F.xxhash64("id"), 200000) / 10000.0).alias("x"),
    (F.pmod(F.xxhash64("id", F.lit(1)), 200000) / 10000.0).alias("y"),
)
dump(
    "pip_join_cells",
    pip_join(pts, cover, x0=0.0, y0=0.0, cell_size=2.0, point_id="image_id"),
    "cells-strategy PIP join incl. auto-salt subtree",
)

# ---- 3. chain stitched (trace checkpoint + phase-2 bypass) -------------
# NOTE: building this frame runs the trace + counts jobs (the plan of the
# RETURNED frame is the phase-2/finish plan over the trace checkpoint).
from geo_polygonize_spark.operators.chain_stitch import chain_stitched_polygonize

g4x, g4y = grid_lines(60)
dump(
    "chain_stitched_grid60",
    chain_stitched_polygonize(
        lines_df(g4x, g4y), tile_size=15.0, buffer=1.5,
        bbox=(0.0, 0.0, 60.0, 60.0), drop_collapsed=True, assembly="fused",
    ),
    "fused-assembly final plan: phase-2 bypass should leave the mapInPandas "
    "fed by a pruned scan and the bulk rings on a JVM-only projection",
)

# ---- 4. CC round plan (fused message-stream round) ---------------------
from geo_polygonize_spark.operators.dedup import connected_keepers

pairs = spark.createDataFrame(
    [(i, i + 1) for i in range(0, 50, 2)], "id_a long, id_b long"
)
dump(
    "connected_keepers",
    connected_keepers(pairs),
    "CC result plan (per-round structure is iterative; this shows the "
    "final-round lineage: fused union-of-message-streams + one aggregate)",
)

spark.stop()
print("done")
