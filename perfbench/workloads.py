"""The benchmark's workloads: inputs made from the seed, the closed-loop
operations, and the checks on every output.

Each Spark call here pays a fixed 1-3 s of job scheduling at
``local[4]`` whatever its input size, and its first call several times
that, so a run can afford only a few calls; the sizes below keep one
round of a workload's three operations near 10 s. README.md gives the
measured walls and the operations left out.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np

# lattice: grid-N lines, 64 tiles whose edges lie on grid lines, as
# grid-400's do at tile 50 (README.md: why not larger)
LATTICE_N = 64
LATTICE_TILE = 8.0
LATTICE_BUFFER = 1.5

# images: one grid-30 linework (900 unit faces) serves as the stream's
# broadcast index, the cells join's coverage and the flagship's in-call
# coverage; the cells PIP join's cost grows with the polygon count
# (3.7 s at 900 polygons, 6.1 s at 2,500, about 17 s at 10,000), not
# with the points
COVER_N = 30
STREAM_RECORDS = 200_000
STREAM_TILE = 2.5
FLAGSHIP_IMAGES = 1_000
FLAGSHIP_TILE = 10.0
JOIN_POINTS = 20_000
JOIN_CELL = 2.0

# probes for the single-threaded coverage-index kernel
KERNEL_PROBES = 200_000


@dataclass
class Op:
    """One closed-loop operation. ``call`` submits it and returns the row
    count of its result; ``check`` says whether that count is right.
    ``warm``, when given, replaces ``call`` in the warm-up round: it runs
    the same computation but collects what the reference checks need."""

    metric: str  # end-to-end name printed in the report
    span: str  # layer span the call is recorded under
    call: Callable[[], int]
    check: Callable[[int], bool]
    items: int = 0  # rows per call, for the rate metrics (0 = report s/call)
    item_unit: str = ""
    warm: Callable[[], int] | None = None


def lines_frame(spark, xs, ys, order=None):
    """LineStrings as the package's lines DataFrame, rows in ``order``."""
    idx = range(len(xs)) if order is None else order
    rows = [
        (k, [float(v) for v in xs[i]], [float(v) for v in ys[i]], "perfbench")
        for k, i in enumerate(idx)
    ]
    return spark.createDataFrame(
        rows, "line_id long, xs array<double>, ys array<double>, dataset string"
    )


def grid_lines(n: int):
    from geo_polygonize_spark.sources.fixtures import grid_lines as g

    return g(n)


class Workload:
    """Inputs, operations and checks of one workload. The runner calls
    ``make_inputs`` once per set-up, then ``reference`` once, then runs
    ``ops`` in rounds (the first a warm-up), then ``final_checks``."""

    name = ""

    def __init__(self, seed: int, cores: int, work_dir: str):
        self.seed = seed
        self.cores = cores
        self.work_dir = work_dir
        self._store_seq = 0

    def make_inputs(self, spark, tracer) -> None:
        raise NotImplementedError

    def reference(self, spark, tracer) -> None:
        """Oracles the checks compare against, computed once per run."""

    def ops(self, spark) -> list[Op]:
        raise NotImplementedError

    def after_round(self) -> None:
        """Housekeeping between rounds, outside every timed call."""

    def final_checks(self) -> list[tuple[str, bool, str]]:
        """(name, ok, detail) of checks beyond the per-call counts."""
        return []

    def trace_detail(self, spark, tracer) -> dict:
        """Workload-specific layer figures for a traced run."""
        return {}

    def kernel_lines(self):
        """(xs, ys) of the linework the kernels run on."""
        raise NotImplementedError

    def kernel_probes(self, spark):
        """(px, py) probe points for the coverage-index kernel."""
        raise NotImplementedError

    def _store(self, tag: str) -> str:
        self._store_seq += 1
        return os.path.join(self.work_dir, "stores", f"{tag}-{self._store_seq}")


class Lattice(Workload):
    """Exact (chain stitch) polygonize of the grid-N lattice followed by
    ``count()``, then a checkpointed tiled polygonize into an empty
    store and again over the unchanged store."""

    name = "lattice"
    bbox = (0.0, 0.0, float(LATTICE_N), float(LATTICE_N))
    expected = LATTICE_N * LATTICE_N

    def make_inputs(self, spark, tracer) -> None:
        self.xs, self.ys = grid_lines(LATTICE_N)
        order = np.random.default_rng(self.seed).permutation(len(self.xs))
        self.lines = lines_frame(spark, self.xs, self.ys, order).persist()
        self.lines.count()

    def exact(self):
        from geo_polygonize_spark.operators.stitch import stitched_polygonize

        return stitched_polygonize(
            self.lines, tile_size=LATTICE_TILE, buffer=LATTICE_BUFFER, bbox=self.bbox,
            drop_collapsed=True, strategy="auto",
        )

    def checkpoint(self, store: str):
        from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize

        return resumable_tiled_polygonize(
            self.lines.sparkSession, self.lines, store, LATTICE_TILE, buffer=LATTICE_BUFFER,
            bbox=self.bbox, drop_collapsed=True,
        )

    def ops(self, spark) -> list[Op]:
        self.store = None
        self.store_sizes = []
        ok = lambda n: n == self.expected  # noqa: E731

        def write() -> int:
            self.store = self._store("ckpt")
            return self.checkpoint(self.store).count()

        def resume() -> int:
            return self.checkpoint(self.store).count()

        return [
            Op("exact_polygonize_s", "operators.chain_stitch.stitched_polygonize",
               lambda: self.exact().count(), ok),
            Op("checkpoint_write_s", "checkpoint.resumable_tiled_polygonize.write", write, ok),
            Op("checkpoint_resume_s", "checkpoint.resumable_tiled_polygonize.resume", resume, ok),
        ]

    def after_round(self) -> None:
        if self.store:
            files = [os.path.join(d, f) for d, _, fs in os.walk(self.store) for f in fs]
            self.store_sizes.append((sum(os.path.getsize(f) for f in files), len(files)))
            shutil.rmtree(self.store, ignore_errors=True)
            self.store = None

    def trace_detail(self, spark, tracer) -> dict:
        size, files = self.store_sizes[-1]
        return {"checkpoint.bytes_written_mb": size / 2**20, "checkpoint.files_written": files}

    def kernel_lines(self):
        return self.xs, self.ys

    def kernel_probes(self, spark):
        rng = np.random.default_rng(self.seed + 1)
        return rng.uniform(0, LATTICE_N, KERNEL_PROBES), rng.uniform(0, LATTICE_N, KERNEL_PROBES)


class Images(Workload):
    """The image+caption side: a narrow-record stream against a broadcast
    coverage index, the flagship pipeline over the PNG/JPEG payload
    table, and the shuffle (cells) PIP join."""

    name = "images"
    bbox = (0.0, 0.0, float(COVER_N), float(COVER_N))

    def make_inputs(self, spark, tracer) -> None:
        from pyspark.sql import functions as F

        from geo_polygonize_spark.kernels.polygonize import polygonize_segments_pdf, segmentize
        from geo_polygonize_spark.operators.polygonize_op import POLYGON_SCHEMA
        from geo_polygonize_spark.operators.spatial_join import broadcast_coverage_index
        from geo_polygonize_spark.sources.images import synth_images

        seed = self.seed
        table = os.path.join(self.work_dir, "images.parquet")
        if not os.path.exists(table):
            # generated once per run, like a stored table; every set-up
            # then reads it back
            with tracer.span("sources.synth_images"):
                synth_images(spark, FLAGSHIP_IMAGES, seed=seed, partitions=2 * self.cores).write.parquet(table)
        self.images = spark.read.parquet(table).persist()
        self.images.count()
        with tracer.span("sources.records"):
            self.records = (
                spark.range(0, STREAM_RECORDS, numPartitions=4 * self.cores)
                .select(
                    F.format_string("img_%012d", F.col("id") + F.lit(seed * STREAM_RECORDS)).alias("image_id"),
                    F.concat(F.lit("caption for img "), F.col("id").cast("string")).alias("caption"),
                    F.xxhash64("id", F.lit(seed)).alias("phash"),
                    F.lit("png").alias("fmt"), F.lit(32).alias("w"), F.lit(32).alias("h"),
                )
                .persist()
            )
            self.records.count()
            # coordinates on a 1e-4 lattice, offset by half a step so no
            # point lies on a polygon edge
            side = COVER_N * 10_000
            self.points = (
                spark.range(JOIN_POINTS, numPartitions=2 * self.cores)
                .select(
                    F.col("id").alias("image_id"),
                    ((F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(side)) + 0.5) / 10_000.0).alias("x"),
                    ((F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(side)) + 0.5) / 10_000.0).alias("y"),
                )
                .persist()
            )
            self.points.count()
        self.cover_xs, self.cover_ys = grid_lines(COVER_N)
        self.cover_lines = lines_frame(spark, self.cover_xs, self.cover_ys).persist()
        # the coverage is polygonized in the driver, one group: a Spark
        # tiled_polygonize here cost about 4 s per set-up, and lattice's
        # checkpoint write already runs that operator's tiling
        with tracer.span("kernels.polygonize.coverage"):
            pdf = polygonize_segments_pdf(
                *segmentize(self.cover_xs, self.cover_ys), node_input=True, drop_collapsed=True,
            )
            self.cover = spark.createDataFrame(pdf, POLYGON_SCHEMA).persist()
            self.cover.count()
        with tracer.span("operators.spatial_join.broadcast_coverage_index"):
            self.index = broadcast_coverage_index(spark, polygons=self.cover)

    def reference(self, spark, tracer) -> None:
        from geo_polygonize_spark.operators.spatial_join import pip_join

        # the broadcast-index PIP count is the cells join's oracle
        self.pip_expected = pip_join(
            self.points, self.cover, 0.0, 0.0, JOIN_CELL, point_id="image_id",
            strategy="broadcast", index=self.index,
        ).count()
        self.bad_captions = None

    def stream(self) -> int:
        from geo_polygonize_spark.engine import image_pipeline

        return image_pipeline(
            self.records.sparkSession, self.records, self.cover_lines, self.bbox,
            tile_size=STREAM_TILE, buffer=1.5, cell_size=max(STREAM_TILE / 8.0, 1.0),
            payload_rejoin=False, coverage_index=self.index,
        ).count()

    def flagship(self):
        from geo_polygonize_spark.engine import image_pipeline

        return image_pipeline(
            self.images.sparkSession, self.images, self.cover_lines, self.bbox,
            tile_size=FLAGSHIP_TILE, buffer=1.5,
        )

    def flagship_warm(self) -> int:
        from geo_polygonize_spark.sources.images import caption_for

        pdf = self.flagship().select("image_id", "caption").toPandas()
        self.bad_captions = sum(
            caption_for(int(i[4:]), self.seed) != c for i, c in zip(pdf.image_id, pdf.caption)
        )
        return len(pdf)

    def pip_cells(self) -> int:
        from geo_polygonize_spark.operators.spatial_join import pip_join

        return pip_join(self.points, self.cover, x0=0.0, y0=0.0, cell_size=JOIN_CELL,
                        point_id="image_id", strategy="cells").count()

    def ops(self, spark) -> list[Op]:
        return [
            Op("stream_records_per_s", "engine.image_pipeline.stream", self.stream,
               lambda n: n == STREAM_RECORDS, STREAM_RECORDS, "records"),
            Op("pipeline_images_per_s", "engine.image_pipeline.flagship",
               lambda: self.flagship().count(), lambda n: n == FLAGSHIP_IMAGES,
               FLAGSHIP_IMAGES, "images", warm=self.flagship_warm),
            Op("pip_cells_s", "operators.spatial_join.pip_join_cells", self.pip_cells,
               lambda n: n == self.pip_expected),
        ]

    def final_checks(self):
        return [
            ("images.broadcast_pip_covers_every_point", self.pip_expected == JOIN_POINTS,
             f"broadcast PIP {self.pip_expected} of {JOIN_POINTS}"),
            ("images.flagship_captions_match_source", self.bad_captions == 0,
             f"{self.bad_captions} of {FLAGSHIP_IMAGES} captions differ"),
        ]

    def trace_detail(self, spark, tracer) -> dict:
        from geo_polygonize_spark.engine import derive_points

        t = time.perf_counter()
        with tracer.span("engine.derive_points", spark.sparkContext):
            derive_points(self.records, self.bbox).write.format("noop").mode("overwrite").save()
        out = {"engine.derive_points_s": time.perf_counter() - t}
        out["sources.synth_images_s"] = tracer.named("sources.synth_images")[0].duration
        out["operators.spatial_join.broadcast_coverage_index_s"] = float(
            np.median([s.duration for s in tracer.named("operators.spatial_join.broadcast_coverage_index")])
        )
        return out

    def kernel_lines(self):
        return self.cover_xs, self.cover_ys

    def kernel_probes(self, spark):
        from geo_polygonize_spark.engine import derive_points

        pdf = derive_points(self.records.limit(KERNEL_PROBES), self.bbox).toPandas()
        return pdf["x"].to_numpy(), pdf["y"].to_numpy()


WORKLOADS = {w.name: w for w in (Lattice, Images)}
