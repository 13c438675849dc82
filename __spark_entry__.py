"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship polygonize + spatial-join + tile pipeline
over records derived from /root/testdata/sf0.001. ``queries`` exposes
one entry per implemented operator from SURVEY.md §2 — SQL-expressible
analogs run on the TPC-H-ish tables with a DuckDB oracle in
``oracle_sql`` (integer/string outputs wherever possible so the
value-hash compare is FP-safe); geometry/ANN operators without an
exact ANSI-SQL analog are rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tiled polygonize a deterministic linework lattice,
    then PIP-join + kNN + raster-assign records derived from the
    sf0.001 orders table (stand-ins for the image table's id/caption
    payload)."""
    from geo_polygonize_spark.engine import image_pipeline
    from geo_polygonize_spark.sources.fixtures import grid_lines

    sf_dir = "/root/testdata/sf0.001"
    orders = _t(spark, sf_dir, "orders")
    images = orders.select(
        F.format_string("img_%012d", "o_orderkey").alias("image_id"),
        F.col("o_orderpriority").alias("caption"),
        F.xxhash64("o_orderkey").alias("phash"),
        F.lit("png").alias("fmt"),
        F.lit(32).alias("w"),
        F.lit(32).alias("h"),
    )
    n = 16
    xs, ys = grid_lines(n)
    lines = spark.createDataFrame(
        [(i, [float(v) for v in x], [float(v) for v in y], "grid") for i, (x, y) in enumerate(zip(xs, ys))],
        "line_id long, xs array<double>, ys array<double>, dataset string",
    )
    out = image_pipeline(
        spark,
        images,
        lines,
        bbox=(0.0, 0.0, float(n), float(n)),
        tile_size=8.0,
        buffer=1.5,
    )
    return out.select(
        "image_id",
        "x",
        "y",
        "cell",
        "poly_tile_i",
        "poly_tile_j",
        "poly_id",
        "poly_area",
        "nearest_tile",
        "nearest_tile_dist",
        "raster_i",
        "raster_j",
        "caption",
        "phash",
    )


# --------------------------------------------------------------------
# operator-analog queries (SURVEY.md §2 ids in the names)
# --------------------------------------------------------------------

# derived integer point coordinates used by the spatial analogs —
# identical arithmetic on both sides (Spark + DuckDB)
_PT_X = "(p_partkey * 7919) % 1000"
_PT_Y = "(p_partkey * 104729) % 1000"

_CENTROIDS = [(0, 250, 250), (1, 750, 250), (2, 250, 750), (3, 750, 750), (4, 500, 500)]
_RECTS = [  # nested + disjoint rectangles: (rid, x0, y0, x1, y1)
    (0, 0, 0, 1000, 1000),
    (1, 100, 100, 600, 600),
    (2, 200, 200, 400, 400),
    (3, 650, 650, 900, 900),
]


def _q_dedup(spark, sf_dir):
    # P3/P7: canonical dedup → DISTINCT (snap.rs:96-101)
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


def _q_node_degree(spark, sf_dir):
    # A1: node dedup + degree count (planar_graph.rs:109-234)
    return (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("node_key"))
        .agg(F.count("*").alias("degree"), F.min("c_custkey").alias("node_id"))
    )


def _q_argmin_parent(spark, sf_dir):
    # O4/J2: smallest containing parent (polygonizer.rs:226-229)
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("o_custkey", F.col("o_orderkey").alias("parent_order"))
    )


def _q_tile_assign(spark, sf_dir):
    # J3: tile-id bucketing (tiling.rs:42-58)
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            F.floor(F.expr(_PT_X) / 100).alias("tile_i"),
            F.floor(F.expr(_PT_Y) / 100).alias("tile_j"),
        )
        .groupBy("tile_i", "tile_j")
        .agg(F.count("*").alias("n"))
    )


def _q_tile_replication(spark, sf_dir):
    # J3: buffered replication into covered tiles (tiling.rs:66-78)
    p = _t(spark, sf_dir, "part")
    lo = (F.col("p_size") % 5).cast("long")
    return (
        p.select(F.explode(F.sequence(lo, lo + F.lit(2))).alias("tile"))
        .groupBy("tile")
        .agg(F.count("*").alias("n"))
    )


def _q_splits_collect(spark, sf_dir):
    # A2/O3: collect split points per segment, ordered (snap.rs:62-70)
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_list("o_orderkey")), ",").alias("splits"),
        F.count("*").alias("n_splits"),
    )


def _q_anti_promotion(spark, sf_dir):
    # A4/U3: twin-less promotion → anti-join (polygonizer.rs:152-173)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def _q_degenerate_filter(spark, sf_dir):
    # P4: zero-length filter (planar_graph.rs:211-213)
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.abs(F.col("l_discount") - F.col("l_tax")) >= 0.01).agg(
        F.count("*").alias("n_kept")
    )


def _q_snap_grid(spark, sf_dir):
    # P5: grid snap (snap.rs:109-115; floor-bucketing for FP-safety)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select((F.floor(F.col("l_extendedprice") / 1000) * 1000).cast("long").alias("snapped"))
        .groupBy("snapped")
        .agg(F.count("*").alias("n"))
    )


def _q_direction_normalize(spark, sf_dir):
    # P6: segment direction normalization (snap.rs:88-95)
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.least("l_partkey", "l_suppkey").alias("lo"),
        F.greatest("l_partkey", "l_suppkey").alias("hi"),
    ).distinct()


def _q_shoelace_cross(spark, sf_dir):
    # P11: shoelace cross-product sum via window lead (exact cents)
    e = _t(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        e.select("user_id", "event_id", v.alias("v"))
        .withColumn("nv", F.lead("v").over(w))
        .filter(F.col("nv").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(F.col("v") * F.col("nv")).alias("cross_sum"), F.count("*").alias("n"))
    )


def _q_bbox_agg(spark, sf_dir):
    # P13: bounding box per group (min/max)
    e = _t(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    return e.select("event_type", v.alias("v")).groupBy("event_type").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax"), F.count("*").alias("n")
    )


def _q_centroid_sum(spark, sf_dir):
    # P12: centroid accumulator (exact integer numerators)
    e = _t(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    return e.select("event_type", v.alias("v")).groupBy("event_type").agg(
        F.sum("v").alias("vsum"), F.count("*").alias("n")
    )


def _q_knn_top1(spark, sf_dir):
    # kNN to tile centroids (north_rule; window argmin like O4)
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.expr(_PT_X).alias("ix"), F.expr(_PT_Y).alias("iy")
    )
    c = p.sparkSession.createDataFrame(_CENTROIDS, "cid long, cx long, cy long")
    d2 = (F.col("ix") - F.col("cx")) ** 2 + (F.col("iy") - F.col("cy")) ** 2
    w = Window.partitionBy("p_partkey").orderBy("d2", "cid")
    return (
        p.crossJoin(F.broadcast(c))
        .withColumn("d2", d2.cast("long"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("p_partkey", F.col("cid").alias("nearest"), F.col("d2").alias("dist2"))
    )


def _q_knn_cells(spark, sf_dir):
    # kNN scale path: cell-neighborhood candidate join + expanding
    # radius (exact — the broadcast closure path's big-centroid-set
    # sibling). Distances are sqrt of integer-derived doubles with
    # plain multiplies: bit-identical in DuckDB, so floor(dist*1e6)
    # compares exactly.
    from geo_polygonize_spark.operators.spatial_join import knn_join_cells

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pid"),
        F.expr(_PT_X).cast("double").alias("x"),
        F.expr(_PT_Y).cast("double").alias("y"),
    )
    c = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("centroid_id"),
        F.expr("CAST((s_suppkey * 7919) % 1000 AS DOUBLE)").alias("cx"),
        F.expr("CAST((s_suppkey * 104729) % 1000 AS DOUBLE)").alias("cy"),
    )
    out = knn_join_cells(p, c, k=2, point_id="pid")
    return out.select(
        "pid",
        F.col("rank").cast("long").alias("rank"),
        F.col("centroid_id").alias("nearest"),
        F.floor(F.col("dist") * 1e6).cast("long").alias("dist_e6"),
    )


def _q_pip_rect(spark, sf_dir):
    # J2: point-in-polygon + smallest-containing-parent argmin
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.expr(_PT_X).alias("ix"), F.expr(_PT_Y).alias("iy")
    )
    r = p.sparkSession.createDataFrame(
        [(rid, x0, y0, x1, y1, (x1 - x0) * (y1 - y0)) for rid, x0, y0, x1, y1 in _RECTS],
        "rid long, x0 long, y0 long, x1 long, y1 long, area long",
    )
    w = Window.partitionBy("p_partkey").orderBy("area", "rid")
    return (
        p.join(
            F.broadcast(r),
            (F.col("ix") >= F.col("x0"))
            & (F.col("ix") < F.col("x1"))
            & (F.col("iy") >= F.col("y0"))
            & (F.col("iy") < F.col("y1")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("p_partkey", F.col("rid").alias("container"), F.col("area").alias("container_area"))
    )


def _q_morton_cell(spark, sf_dir):
    # O1: Morton / Z-order cell id (utils/mod.rs:11-37), 8-bit interleave
    p = _t(spark, sf_dir, "part")
    ix = F.expr(f"({_PT_X}) % 256")
    iy = F.expr(f"({_PT_Y}) % 256")
    cell = F.lit(0).cast("long")
    for k in range(8):
        cell = (
            cell
            + F.shiftright(ix.cast("long"), k).bitwiseAND(F.lit(1)) * F.lit(4**k)
            + F.shiftright(iy.cast("long"), k).bitwiseAND(F.lit(1)) * F.lit(2 * 4**k)
        )
    return p.select(cell.alias("cell")).groupBy("cell").agg(F.count("*").alias("n"))


def _q_union_distinct(spark, sf_dir):
    # U1/U2: input union + dedup
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("key"))
    p = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("key"))
    return li.unionByName(p).distinct()


def _q_doc_tokens(spark, sf_dir):
    # text analysis: token/char counting (training-data ops)
    d = _t(spark, sf_dir, "documents")
    spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars2"),
        (spaces + 1).cast("long").alias("n_tokens"),
    )


def _q_doc_quality(spark, sf_dir):
    # text analysis: lexical frequency scoring (integer-exact)
    d = _t(spark, sf_dir, "documents")
    n_the = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("the"), F.lit("")))
    ) / 3
    return d.select(
        "doc_id", "lang", n_the.cast("long").alias("n_the"), F.col("n_chars").alias("n_chars")
    )


def _q_doc_dedup(spark, sf_dir):
    # exact dedup by content hash (training-data ops)
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"))
    )


def _q_text_analysis(spark, sf_dir):
    # text-analysis operator set: language-ID (stopword-vote argmax),
    # token count, quality score, rolling-hash fingerprint — all pure
    # column expressions with bit-identical DuckDB twins
    from geo_polygonize_spark.operators.text import analyze_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return analyze_documents(d).select("doc_id", "lang_id", "n_tokens", "quality", "fingerprint")


def _q_running_sum(spark, sf_dir):
    # window frame: running accumulator (ring accumulation analog, A5)
    e = _t(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    return e.select("event_id", "user_id", v.alias("v")).select(
        "event_id", "user_id", F.sum("v").over(w).alias("running")
    )


# ---- rows-only (no exact ANSI-SQL analog) ---------------------------


def _q_polygonize_fixture(spark, sf_dir):
    from geo_polygonize_spark.operators.polygonize_op import polygonize
    from geo_polygonize_spark.sources.fixtures import fixture

    xs, ys, node, snap = fixture("nested_holes")
    lines = spark.createDataFrame(
        [(i, [float(v) for v in x], [float(v) for v in y], "fx") for i, (x, y) in enumerate(zip(xs, ys))],
        "line_id long, xs array<double>, ys array<double>, dataset string",
    )
    return polygonize(lines, node_input=node, snap_grid=snap).select(
        F.round("area", 6).alias("area"), "n_holes"
    )


def _q_tiled_grid(spark, sf_dir):
    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize
    from geo_polygonize_spark.sources.fixtures import grid_lines

    n = 20
    xs, ys = grid_lines(n)
    lines = spark.createDataFrame(
        [(i, [float(v) for v in x], [float(v) for v in y], "grid") for i, (x, y) in enumerate(zip(xs, ys))],
        "line_id long, xs array<double>, ys array<double>, dataset string",
    )
    polys = tiled_polygonize(
        lines, tile_size=5.0, buffer=1.5, bbox=(0.0, 0.0, float(n), float(n)), drop_collapsed=True
    )
    return polys.agg(
        F.count("*").alias("n_polys"), F.round(F.sum("area"), 6).alias("total_area")
    )


def _q_ann_cosine(spark, sf_dir):
    # brute-force cosine top-5 neighbors of vec 0, JVM-side array math.
    # cos is a LEFT FOLD over doubles — bit-identical to DuckDB's
    # list_dot_product on DOUBLE[] (verified), so floor(cos*1e9) is an
    # exact integer compare, no rounding-mode ambiguity.
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter("vec_id = 0").select(F.col("embedding").alias("qv"))
    dot = F.expr(
        "aggregate(zip_with(embedding, qv, (a, b) -> cast(a as double) * cast(b as double)),"
        " 0D, (acc, x) -> acc + x)"
    )
    nrm = F.expr(
        "sqrt(aggregate(embedding, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    qnrm = F.expr("sqrt(aggregate(qv, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))")
    scored = (
        e.filter("vec_id <> 0")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", (dot / (nrm * qnrm)).alias("cos"))
    )
    return scored.orderBy(F.desc("cos"), "vec_id").limit(5).select(
        "vec_id", "label", F.floor(F.col("cos") * 1e9).cast("long").alias("cos_e9")
    )


def _q_image_pipeline(spark, sf_dir):
    from geo_polygonize_spark.engine import image_pipeline
    from geo_polygonize_spark.sources.fixtures import grid_lines
    from geo_polygonize_spark.sources.images import synth_images

    images = synth_images(spark, 400)
    n = 10
    xs, ys = grid_lines(n)
    lines = spark.createDataFrame(
        [(i, [float(v) for v in x], [float(v) for v in y], "grid") for i, (x, y) in enumerate(zip(xs, ys))],
        "line_id long, xs array<double>, ys array<double>, dataset string",
    )
    out = image_pipeline(
        spark, images, lines, bbox=(0.0, 0.0, float(n), float(n)), tile_size=5.0, buffer=1.5
    )
    return out.groupBy("raster_i", "raster_j").agg(
        F.count("*").alias("n_images"), F.countDistinct("nearest_tile").alias("n_tiles")
    )


def _minhash_corpus(spark, sf_dir):
    """Deterministic near-dup corpus: docs 0..99 plus a ' zz'-appended
    twin at doc_id+1e6. The DuckDB oracle computes the EXACT-Jaccard
    pair set over the same corpus; banded LSH recall against it is
    verified empirically at sf0.01 (100 planted twins, all jaccard
    ≥ 0.92, miss prob ≤ 3e-10) and sf0.001 (116 pairs incl. natural
    near-dup chains) — both hash-match."""
    d = _t(spark, sf_dir, "documents").where("doc_id < 100").select("doc_id", "text")
    near = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
    )
    return d.unionByName(near)


def _q_minhash_neardup(spark, sf_dir):
    # training-data op: minhash-LSH near-dup pair detection. jaccard =
    # |∩|/|∪| of exact shingle-set sizes — the same two integers on
    # both engines, so the double (and its floor*1e6) is bit-exact.
    from geo_polygonize_spark.operators.dedup import minhash_lsh_dedup

    pairs = minhash_lsh_dedup(_minhash_corpus(spark, sf_dir), jaccard_threshold=0.7)
    return pairs.select(
        "id_a", "id_b", F.floor(F.col("jaccard") * 1e6).cast("long").alias("jaccard_e6")
    )


def _q_sessionize(spark, sf_dir):
    # §2.9 stateful-streaming analog, batch form (the streaming
    # operator sessionize_stream is pinned stream==batch by
    # tests/test_streaming.py): per-user gap sessions over the events
    # table — lag → gap break → running break count → group. Exact
    # integer outputs (epoch micros, value cents).
    from geo_polygonize_spark.streaming.sessions import sessionize_batch

    return sessionize_batch(_t(spark, sf_dir, "events"), gap_minutes=30.0)


def _q_phash_neardup(spark, sf_dir):
    # IMAGE near-dup dedup (r3): 4-band hamming LSH over the image
    # table's perceptual hash — 100 planted 2-bit-flip twins among 400
    # deterministic synthetic images; pigeonhole-exact recall at k=2,
    # bit_count verify. Literal oracle (sf-independent), xxhash fold
    # over the exact pair set.
    from geo_polygonize_spark.operators.dedup import hamming_neardup_pairs
    from geo_polygonize_spark.sources.images import synth_images

    imgs = synth_images(spark, 400).select(
        F.expr("CAST(substring(image_id, 5) AS BIGINT)").alias("img_id"), "phash"
    )
    twins = imgs.where("img_id % 4 = 0").select(
        (F.col("img_id") + 100000).alias("img_id"), F.expr("phash ^ 3").alias("phash")
    )
    pairs = hamming_neardup_pairs(imgs.unionByName(twins), "phash", "img_id", k=2)
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum("hamming").alias("sum_hamming"),
        F.bit_xor(F.xxhash64("id_a", "id_b", "hamming")).alias("pairs_xor"),
    )


def _q_frame_sample(spark, sf_dir):
    # multimodal op: REAL video frame sampling (APNG container decode,
    # r3) over the deterministic synthetic video table; aggregates of
    # the sampled frames' indices/timestamps and a hash fold of the
    # re-encoded frame payloads pin the decode end-to-end, so the
    # oracle is a literal (sf-independent: synth_videos(40) everywhere)
    from geo_polygonize_spark.operators.media import frame_sample
    from geo_polygonize_spark.sources.images import synth_videos

    frames = frame_sample(synth_videos(spark, 40, n_frames=24), every_n=10)
    return frames.agg(
        F.count("*").alias("n"),
        F.sum("frame_idx").alias("sum_idx"),
        F.sum("t_ms").alias("sum_t_ms"),
        F.bit_xor(F.xxhash64("media_id", "frame_idx", "frame_bytes")).alias("frames_xor"),
    )


def _q_media_features(spark, sf_dir):
    # multimodal op: decode → feature-extract (channel means, luma
    # variance, recomputed phash) over the deterministic synthetic
    # image table; per-image integer quantization BEFORE the sum keeps
    # the aggregate exact under any partitioning, so the oracle is a
    # literal (sf-independent: synth_images(300) everywhere)
    from geo_polygonize_spark.operators.media import image_features
    from geo_polygonize_spark.sources.images import synth_images

    feats = image_features(synth_images(spark, 300))
    return feats.agg(
        F.count("*").alias("n"),
        F.sum("w").alias("sum_w"),
        F.sum(F.floor(F.col("mean_r") * 1e6).cast("long")).alias("sum_mean_r_e6"),
        F.sum(F.floor(F.col("luma_var") * 1e3).cast("long")).alias("sum_luma_var_e3"),
        F.bit_xor("phash").alias("phash_xor"),
    )


def _q_minhash_keepers(spark, sf_dir):
    # connected-components keeper resolution over the near-dup graph
    from geo_polygonize_spark.operators.dedup import minhash_dedup_keepers

    return minhash_dedup_keepers(_minhash_corpus(spark, sf_dir), jaccard_threshold=0.7)


def _q_simhash_groups(spark, sf_dir):
    # training-data op: simhash fingerprint dedup buckets. Portable
    # hasher (base-131 shingles + 31-bit mixers): the DuckDB oracle
    # recomputes the full simhash bit-identically, so the per-bucket
    # rows are an exact end-to-end check of the operator.
    from geo_polygonize_spark.operators.dedup import simhash_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.where("doc_id < 20").select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return simhash_dedup(d.unionByName(dup), hasher="portable")


def _q_simhash_near(spark, sf_dir):
    # simhash hamming ≤ 3 near-dup pairs via 4-band LSH. Banding has
    # pigeonhole-exact recall for k ≤ 3, so the DuckDB oracle (all-pairs
    # bit_count(xor) over the same portable simhashes) matches by
    # construction, not by luck.
    from geo_polygonize_spark.operators.dedup import simhash_neardup_pairs

    d = _t(spark, sf_dir, "documents").where("doc_id < 150").select("doc_id", "text")
    dup = d.where("doc_id < 30").select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return simhash_neardup_pairs(d.unionByName(dup), k=3, hasher="portable")


def _q_stitched_nested(spark, sf_dir):
    # stitched polygonize: recovers the nested boxes that the
    # reference-parity tiled path loses at tile 10 / buffer 2
    from geo_polygonize_spark.operators.stitch import stitched_polygonize
    from geo_polygonize_spark.sources.fixtures import fixture

    xs, ys, _, _ = fixture("nested_holes")
    lines = spark.createDataFrame(
        [(i, [float(v) for v in x], [float(v) for v in y], "fx") for i, (x, y) in enumerate(zip(xs, ys))],
        "line_id long, xs array<double>, ys array<double>, dataset string",
    )
    out = stitched_polygonize(lines, tile_size=10.0, buffer=2.0, bbox=(0.0, 0.0, 100.0, 100.0))
    return out.select(F.round("area", 6).alias("area"), "n_holes").orderBy("area")


def _q_fused_assembly_grid(spark, sf_dir):
    # r5 fused per-core assembly (operators/assembly.py): chain stitch
    # with assembly="fused" forced — phase-2 polygon assembly runs as a
    # mapInPandas over the cached trace output, merged-residue shells
    # broadcast, winners resolved by narrow rows. Grid 20 / tile 5:
    # every claiming-core boundary column becomes merged residue, so
    # promotion + visitor probing + hull netting all execute.
    from geo_polygonize_spark.operators.chain_stitch import chain_stitched_polygonize
    from geo_polygonize_spark.sources.fixtures import grid_lines

    n = 20
    xs, ys = grid_lines(n)
    lines = spark.createDataFrame(
        [(i, [float(v) for v in x], [float(v) for v in y], "grid") for i, (x, y) in enumerate(zip(xs, ys))],
        "line_id long, xs array<double>, ys array<double>, dataset string",
    )
    polys = chain_stitched_polygonize(
        lines, tile_size=5.0, buffer=1.5, bbox=(0.0, 0.0, float(n), float(n)),
        drop_collapsed=True, assembly="fused",
    )
    return polys.agg(
        F.count("*").alias("n_polys"), F.round(F.sum("area"), 6).alias("total_area")
    )


def _q_chain_stitched_nested(spark, sf_dir):
    # r4 boundary-chain stitch called directly: one trace pass +
    # chain-cycle merge; the nested boxes all span many tiles, so every
    # ring reassembles from boundary chains
    from geo_polygonize_spark.operators.chain_stitch import chain_stitched_polygonize
    from geo_polygonize_spark.sources.fixtures import fixture

    xs, ys, _, _ = fixture("nested_holes")
    lines = spark.createDataFrame(
        [(i, [float(v) for v in x], [float(v) for v in y], "fx") for i, (x, y) in enumerate(zip(xs, ys))],
        "line_id long, xs array<double>, ys array<double>, dataset string",
    )
    out = chain_stitched_polygonize(lines, tile_size=10.0, buffer=2.0, bbox=(0.0, 0.0, 100.0, 100.0))
    return out.select(F.round("area", 6).alias("area"), "n_holes").orderBy("area")


def _q_ann_lsh(spark, sf_dir):
    # training-data op: LSH-bucketed ANN (scale path of ann_cosine).
    # The DuckDB oracle replicates the WHOLE algorithm — hyperplane
    # buckets (the seeded planes ride as literals), Hamming-1
    # multiprobe, exact cosine, top-3 — so this checks LSH itself, not
    # an unrelated ground truth. Sign margins of the 500×10 plane dots
    # are ≥ 9e-5 vs ~1e-15 accumulation error: bucket bits are stable
    # across summation orders.
    import numpy as np

    from geo_polygonize_spark.operators.ann import lsh_cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    qrows = e.where("vec_id IN (0, 3)").collect()
    qs = [(int(r["vec_id"]), np.asarray(r["embedding"], np.float64)) for r in qrows]
    return lsh_cosine_topk(e, qs, k=3, n_planes=10).select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        F.floor(F.col("cosine") * 1e9).cast("long").alias("cos_e9"),
    )


def _q_emb_neardup(spark, sf_dir):
    # embedding-cosine near-dup pairs (the vector-side dedup): corpus =
    # embeddings ∪ exact twins at vec_id+1e6 (cosine 1.0 — same bucket
    # by construction, so recall is deterministic). Oracle = the same
    # LSH algorithm in DuckDB.
    from geo_polygonize_spark.operators.ann import embedding_neardup_pairs

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = e.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    pairs = embedding_neardup_pairs(e.unionByName(twins), threshold=0.95, n_planes=8, dim=64)
    return pairs.select(
        "id_a", "id_b", F.floor(F.col("cosine") * 1e9).cast("long").alias("cos_e9")
    )


def _q_ann_selfjoin(spark, sf_dir):
    # corpus-vs-corpus ANN: every row is a query (bucket-keyed
    # equi-self-join + multiprobe, no crossJoin). Oracle = the same
    # algorithm in DuckDB SQL.
    from geo_polygonize_spark.operators.ann import lsh_selfjoin_topk

    e = _t(spark, sf_dir, "embeddings")
    return lsh_selfjoin_topk(e, k=2, n_planes=8, dim=64).select(
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        F.floor(F.col("cosine") * 1e9).cast("long").alias("cos_e9"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "p3_p7_dedup_distinct": _q_dedup,
        "a1_node_degree": _q_node_degree,
        "o4_j2_argmin_parent": _q_argmin_parent,
        "j3_tile_assign": _q_tile_assign,
        "j3_tile_replication": _q_tile_replication,
        "a2_o3_splits_collect": _q_splits_collect,
        "a4_u3_anti_promotion": _q_anti_promotion,
        "p4_degenerate_filter": _q_degenerate_filter,
        "p5_snap_grid": _q_snap_grid,
        "p6_direction_normalize": _q_direction_normalize,
        "p11_shoelace_cross": _q_shoelace_cross,
        "p13_bbox_agg": _q_bbox_agg,
        "p12_centroid_sum": _q_centroid_sum,
        "knn_top1": _q_knn_top1,
        "knn_cells_top2": _q_knn_cells,
        "j2_pip_rect": _q_pip_rect,
        "o1_morton_cell": _q_morton_cell,
        "u1_union_distinct": _q_union_distinct,
        "doc_token_count": _q_doc_tokens,
        "doc_quality_score": _q_doc_quality,
        "doc_dedup_exact": _q_doc_dedup,
        "doc_text_analysis": _q_text_analysis,
        "a5_running_sum": _q_running_sum,
        "g_polygonize_nested_holes": _q_polygonize_fixture,
        "g_tiled_grid20": _q_tiled_grid,
        "g_stitched_nested_holes": _q_stitched_nested,
        "g_chain_stitched_nested_holes": _q_chain_stitched_nested,
        "g_fused_assembly_grid20": _q_fused_assembly_grid,
        "ann_cosine_top5": _q_ann_cosine,
        "ann_lsh_top3": _q_ann_lsh,
        "ann_selfjoin_top2": _q_ann_selfjoin,
        "emb_neardup_pairs": _q_emb_neardup,
        "doc_minhash_neardup": _q_minhash_neardup,
        "doc_minhash_keepers": _q_minhash_keepers,
        "doc_simhash_groups": _q_simhash_groups,
        "doc_simhash_near": _q_simhash_near,
        "g_image_pipeline": _q_image_pipeline,
        "g_media_features": _q_media_features,
        "g_frame_sample": _q_frame_sample,
        "img_phash_neardup": _q_phash_neardup,
        "events_sessionize": _q_sessionize,
    }


# ---- DuckDB oracle generators for the LSH / portable-hash queries ---


def _duck_planes(n_planes: int, dim: int = 64, seed: int = 42) -> list[str]:
    """The SAME seeded hyperplanes the ann operators use, as exact
    DOUBLE[] literals (repr round-trips doubles losslessly)."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((n_planes, dim))
    return ["[" + ", ".join(repr(float(v)) for v in p) + "]::DOUBLE[]" for p in planes]


def _duck_bucket(vec_expr: str, plane_literals: list[str]) -> str:
    terms = [
        f"(CASE WHEN list_dot_product(CAST({vec_expr} AS DOUBLE[]), {p}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(plane_literals)
    ]
    return "(" + " + ".join(terms) + ")"


_DUCK_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


def _oracle_ann_lsh() -> str:
    planes = _duck_planes(10)
    probes = ["SELECT query_id, qv, qb AS pb FROM q"] + [
        f"SELECT query_id, qv, xor(qb, {1 << i}) AS pb FROM q" for i in range(10)
    ]
    cos = _DUCK_COS.format(a="embedding", b="qv")
    return f"""
WITH b AS (SELECT vec_id, embedding, {_duck_bucket('embedding', planes)} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qb FROM b WHERE vec_id IN (0, 3)),
probes AS ({' UNION ALL '.join(probes)}),
cand AS (
  SELECT DISTINCT p.query_id, p.qv, t.vec_id AS neighbor_id, t.embedding
  FROM probes p JOIN b t ON t.bucket = p.pb
),
scored AS (SELECT query_id, neighbor_id, {cos} AS cos FROM cand),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) - 1 AS rnk
  FROM scored
)
SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
       CAST(floor(cos * 1e9) AS BIGINT) AS cos_e9
FROM ranked WHERE rnk < 3
"""


def _oracle_ann_selfjoin() -> str:
    planes = _duck_planes(8)
    probes = ["SELECT vec_id, embedding, bucket AS pb FROM b"] + [
        f"SELECT vec_id, embedding, xor(bucket, {1 << i}) AS pb FROM b" for i in range(8)
    ]
    cos = _DUCK_COS.format(a="v", b="nvec")
    return f"""
WITH b AS (SELECT vec_id, embedding, {_duck_bucket('embedding', planes)} AS bucket FROM embeddings),
probes AS ({' UNION ALL '.join(probes)}),
cand AS (
  SELECT p.vec_id, p.embedding AS v, t.vec_id AS neighbor_id, t.embedding AS nvec
  FROM probes p JOIN b t ON t.bucket = p.pb WHERE p.vec_id <> t.vec_id
),
scored AS (SELECT vec_id, neighbor_id, {cos} AS cos FROM cand),
ranked AS (
  SELECT vec_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) - 1 AS rnk
  FROM scored
)
SELECT vec_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
       CAST(floor(cos * 1e9) AS BIGINT) AS cos_e9
FROM ranked WHERE rnk < 2
"""


_DUCK_MINHASH_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' zz' AS text FROM documents WHERE doc_id < 100
)"""


def _oracle_emb_neardup() -> str:
    planes = _duck_planes(8)
    probes = ["SELECT vec_id, embedding, bucket AS pb FROM b"] + [
        f"SELECT vec_id, embedding, xor(bucket, {1 << i}) AS pb FROM b" for i in range(8)
    ]
    cos = _DUCK_COS.format(a="va", b="vb")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
),
b AS (SELECT vec_id, embedding, {_duck_bucket('embedding', planes)} AS bucket FROM corpus),
probes AS ({' UNION ALL '.join(probes)}),
cand AS (
  SELECT p.vec_id AS id_a, p.embedding AS va, t.vec_id AS id_b, t.embedding AS vb
  FROM probes p JOIN b t ON t.bucket = p.pb WHERE p.vec_id < t.vec_id
),
scored AS (SELECT id_a, id_b, {cos} AS cos FROM cand)
SELECT id_a, id_b, CAST(floor(cos * 1e9) AS BIGINT) AS cos_e9
FROM scored WHERE cos >= 0.95
"""


def _oracle_minhash_pairs() -> str:
    # expected pair set = ALL pairs with exact 5-gram jaccard >= 0.7
    # (LSH recall 1 at the observed >=0.92 margins; verify removes FPs)
    return f"""
WITH {_DUCK_MINHASH_CORPUS},
sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(length(lower(text)) - 4, 1) + 1),
    i -> substr(lower(text), CAST(i AS INTEGER), 5))) AS s
  FROM corpus
),
j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)) AS jac
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(floor(jac * 1e6) AS BIGINT) AS jaccard_e6 FROM j WHERE jac >= 0.7
"""


def _oracle_minhash_keepers() -> str:
    # connected components of the exact-Jaccard pair graph via
    # recursive transitive closure (components are tiny dup clusters,
    # so the closure stays small); keeper = min reachable id
    return f"""
WITH RECURSIVE {_DUCK_MINHASH_CORPUS},
sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(length(lower(text)) - 4, 1) + 1),
    i -> substr(lower(text), CAST(i AS INTEGER), 5))) AS s
  FROM corpus
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)) >= 0.7
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src WHERE e.dst <> r.src
)
SELECT c.doc_id, least(c.doc_id, coalesce(min(r.dst), c.doc_id)) AS keeper
FROM corpus c LEFT JOIN reach r ON r.src = c.doc_id
GROUP BY c.doc_id
"""


def _oracle_simhash_groups() -> str:
    from geo_polygonize_spark.functions.portable_hash import (
        PORTABLE_SIMHASH_BITS,
        shingle_list_sql,
        simhash_sql,
    )

    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
),
sh AS (SELECT doc_id, {shingle_list_sql('text', 5, 'duckdb')} AS s FROM corpus),
h AS (SELECT doc_id, {simhash_sql('s', PORTABLE_SIMHASH_BITS, engine='duckdb')} AS simhash FROM sh)
SELECT simhash, min(doc_id) AS keeper, count(*) AS n_dupes FROM h GROUP BY simhash
"""


def _oracle_simhash_near() -> str:
    from geo_polygonize_spark.functions.portable_hash import (
        PORTABLE_SIMHASH_BITS,
        shingle_list_sql,
        simhash_sql,
    )

    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 150
  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 30
),
sh AS (SELECT doc_id, {shingle_list_sql('text', 5, 'duckdb')} AS s FROM corpus),
h AS (SELECT doc_id, {simhash_sql('s', PORTABLE_SIMHASH_BITS, engine='duckdb')} AS simhash FROM sh)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _oracle_text_analysis() -> str:
    from geo_polygonize_spark.operators.text import (
        fingerprint_sql,
        language_id_sql,
        quality_score_sql,
        token_count_sql,
    )

    return (
        f"SELECT doc_id, {language_id_sql('text', 'duckdb')} AS lang_id, "
        f"{token_count_sql('text', 'duckdb')} AS n_tokens, "
        f"{quality_score_sql('text', 'duckdb')} AS quality, "
        f"CAST({fingerprint_sql('text', 'duckdb')} AS BIGINT) AS fingerprint "
        "FROM documents"
    )


def oracle_sql() -> dict[str, str]:
    cent_values = ", ".join(f"({c}, {x}, {y})" for c, x, y in _CENTROIDS)
    rect_values = ", ".join(
        f"({rid}, {x0}, {y0}, {x1}, {y1}, {(x1 - x0) * (y1 - y0)})"
        for rid, x0, y0, x1, y1 in _RECTS
    )
    morton = " + ".join(
        f"(((({_PT_X}) % 256) >> {k}) & 1) * {4 ** k} + (((({_PT_Y}) % 256) >> {k}) & 1) * {2 * 4 ** k}"
        for k in range(8)
    )
    return {
        "p3_p7_dedup_distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
        "a1_node_degree": (
            "SELECT c_nationkey AS node_key, count(*) AS degree, min(c_custkey) AS node_id "
            "FROM customer GROUP BY c_nationkey"
        ),
        "o4_j2_argmin_parent": (
            "SELECT o_custkey, parent_order FROM ("
            "SELECT o_custkey, o_orderkey AS parent_order, ROW_NUMBER() OVER ("
            "PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS rn FROM orders) "
            "WHERE rn = 1"
        ),
        "j3_tile_assign": (
            f"SELECT CAST(floor(({_PT_X}) / 100) AS BIGINT) AS tile_i, "
            f"CAST(floor(({_PT_Y}) / 100) AS BIGINT) AS tile_j, count(*) AS n "
            "FROM part GROUP BY 1, 2"
        ),
        "j3_tile_replication": (
            "SELECT tile, count(*) AS n FROM ("
            "SELECT unnest(generate_series(p_size % 5, p_size % 5 + 2)) AS tile FROM part) "
            "GROUP BY tile"
        ),
        "a2_o3_splits_collect": (
            "SELECT o_custkey, array_to_string(list_sort(list(o_orderkey)), ',') AS splits, "
            "count(*) AS n_splits FROM orders GROUP BY o_custkey"
        ),
        "a4_u3_anti_promotion": (
            "SELECT c_custkey FROM customer c WHERE NOT EXISTS ("
            "SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        ),
        "p4_degenerate_filter": (
            "SELECT count(*) AS n_kept FROM lineitem WHERE abs(l_discount - l_tax) >= 0.01"
        ),
        "p5_snap_grid": (
            "SELECT CAST(floor(l_extendedprice / 1000) * 1000 AS BIGINT) AS snapped, "
            "count(*) AS n FROM lineitem GROUP BY 1"
        ),
        "p6_direction_normalize": (
            "SELECT DISTINCT least(l_partkey, l_suppkey) AS lo, "
            "greatest(l_partkey, l_suppkey) AS hi FROM lineitem"
        ),
        "p11_shoelace_cross": (
            "SELECT user_id, CAST(sum(v * nv) AS BIGINT) AS cross_sum, count(*) AS n FROM ("
            "SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v, "
            "LEAD(CAST(round(value * 100) AS BIGINT)) OVER ("
            "PARTITION BY user_id ORDER BY event_id) AS nv FROM events) "
            "WHERE nv IS NOT NULL GROUP BY user_id"
        ),
        "p13_bbox_agg": (
            "SELECT event_type, min(CAST(round(value * 100) AS BIGINT)) AS vmin, "
            "max(CAST(round(value * 100) AS BIGINT)) AS vmax, count(*) AS n "
            "FROM events GROUP BY event_type"
        ),
        "p12_centroid_sum": (
            "SELECT event_type, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vsum, "
            "count(*) AS n FROM events GROUP BY event_type"
        ),
        "knn_top1": (
            f"SELECT p_partkey, nearest, dist2 FROM ("
            f"SELECT p_partkey, c.cid AS nearest, "
            f"(({_PT_X}) - c.cx) * (({_PT_X}) - c.cx) + (({_PT_Y}) - c.cy) * (({_PT_Y}) - c.cy) AS d2, "
            f"ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY "
            f"(({_PT_X}) - c.cx) * (({_PT_X}) - c.cx) + (({_PT_Y}) - c.cy) * (({_PT_Y}) - c.cy), c.cid) AS rn, "
            f"(({_PT_X}) - c.cx) * (({_PT_X}) - c.cx) + (({_PT_Y}) - c.cy) * (({_PT_Y}) - c.cy) AS dist2 "
            f"FROM part CROSS JOIN (VALUES {cent_values}) AS c(cid, cx, cy)) WHERE rn = 1"
        ),
        "knn_cells_top2": (
            "WITH p AS (SELECT p_partkey AS pid, "
            f"CAST(({_PT_X}) AS DOUBLE) AS x, CAST(({_PT_Y}) AS DOUBLE) AS y FROM part), "
            "c AS (SELECT s_suppkey AS nearest, "
            "CAST((s_suppkey * 7919) % 1000 AS DOUBLE) AS cx, "
            "CAST((s_suppkey * 104729) % 1000 AS DOUBLE) AS cy FROM supplier), "
            "d AS (SELECT pid, nearest, "
            "sqrt((x - cx) * (x - cx) + (y - cy) * (y - cy)) AS dist, "
            "ROW_NUMBER() OVER (PARTITION BY pid ORDER BY "
            "sqrt((x - cx) * (x - cx) + (y - cy) * (y - cy)), nearest) - 1 AS rnk "
            "FROM p CROSS JOIN c) "
            "SELECT pid, CAST(rnk AS BIGINT) AS rank, nearest, "
            "CAST(floor(dist * 1e6) AS BIGINT) AS dist_e6 FROM d WHERE rnk < 2"
        ),
        "j2_pip_rect": (
            f"SELECT p_partkey, container, container_area FROM ("
            f"SELECT p_partkey, r.rid AS container, r.area AS container_area, "
            f"ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY r.area, r.rid) AS rn "
            f"FROM part JOIN (VALUES {rect_values}) AS r(rid, x0, y0, x1, y1, area) "
            f"ON ({_PT_X}) >= r.x0 AND ({_PT_X}) < r.x1 AND ({_PT_Y}) >= r.y0 AND ({_PT_Y}) < r.y1"
            f") WHERE rn = 1"
        ),
        "o1_morton_cell": (
            f"SELECT CAST({morton} AS BIGINT) AS cell, count(*) AS n FROM part GROUP BY 1"
        ),
        "u1_union_distinct": (
            "SELECT DISTINCT key FROM ("
            "SELECT l_partkey AS key FROM lineitem UNION ALL SELECT p_partkey AS key FROM part)"
        ),
        "doc_token_count": (
            "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2, "
            "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens "
            "FROM documents"
        ),
        "doc_quality_score": (
            "SELECT doc_id, lang, "
            "CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the, "
            "n_chars FROM documents"
        ),
        "doc_dedup_exact": (
            "SELECT md5(text) AS text_hash, count(*) AS n, min(doc_id) AS keeper "
            "FROM documents GROUP BY md5(text)"
        ),
        "doc_text_analysis": _oracle_text_analysis(),
        "a5_running_sum": (
            "SELECT event_id, user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER ("
            "PARTITION BY user_id ORDER BY event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running FROM events"
        ),
        # ---- geometry flagships: deterministic fixture outputs fixed
        # by the reference (integration_tests.rs:25-42 nested holes →
        # areas 6400/3200/400; bench_shapely.py grid semantics →
        # 400 unit cells in grid 20 at tile 5/buffer 1.5)
        "g_polygonize_nested_holes": (
            "SELECT CAST(area AS DOUBLE) AS area, CAST(n_holes AS INTEGER) AS n_holes "
            "FROM (VALUES (6400.0, 1), (3200.0, 1), (400.0, 0)) AS t(area, n_holes)"
        ),
        "g_stitched_nested_holes": (
            "SELECT CAST(area AS DOUBLE) AS area, CAST(n_holes AS INTEGER) AS n_holes "
            "FROM (VALUES (6400.0, 1), (3200.0, 1), (400.0, 0)) AS t(area, n_holes)"
        ),
        "g_chain_stitched_nested_holes": (
            "SELECT CAST(area AS DOUBLE) AS area, CAST(n_holes AS INTEGER) AS n_holes "
            "FROM (VALUES (6400.0, 1), (3200.0, 1), (400.0, 0)) AS t(area, n_holes)"
        ),
        "g_tiled_grid20": (
            "SELECT CAST(400 AS BIGINT) AS n_polys, CAST(400.0 AS DOUBLE) AS total_area"
        ),
        "g_fused_assembly_grid20": (
            "SELECT CAST(400 AS BIGINT) AS n_polys, CAST(400.0 AS DOUBLE) AS total_area"
        ),
        # deterministic synthetic rasters: synth_images(400) on a 10×10
        # grid with 2×2 rasters — independent of sf_dir by construction
        "g_image_pipeline": (
            "SELECT CAST(raster_i AS INTEGER) AS raster_i, CAST(raster_j AS INTEGER) AS raster_j, "
            "CAST(n_images AS BIGINT) AS n_images, CAST(n_tiles AS BIGINT) AS n_tiles "
            "FROM (VALUES (0, 0, 95, 1), (0, 1, 94, 1), (1, 0, 111, 1), (1, 1, 100, 1)) "
            "AS t(raster_i, raster_j, n_images, n_tiles)"
        ),
        # ---- ANN: exact brute force (cos folds are bit-identical
        # across engines on DOUBLE[]) and full-algorithm LSH replicas
        "ann_cosine_top5": (
            "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
            "s AS (SELECT vec_id, label, "
            + _DUCK_COS.format(a="embedding", b="qv")
            + " AS cos FROM embeddings, q WHERE vec_id <> 0) "
            "SELECT vec_id, label, CAST(floor(cos * 1e9) AS BIGINT) AS cos_e9 "
            "FROM s ORDER BY cos DESC, vec_id LIMIT 5"
        ),
        "ann_lsh_top3": _oracle_ann_lsh(),
        "ann_selfjoin_top2": _oracle_ann_selfjoin(),
        "emb_neardup_pairs": _oracle_emb_neardup(),
        # ---- dedup: exact-Jaccard expected sets + portable-hash replicas
        "doc_minhash_neardup": _oracle_minhash_pairs(),
        "doc_minhash_keepers": _oracle_minhash_keepers(),
        "doc_simhash_groups": _oracle_simhash_groups(),
        "doc_simhash_near": _oracle_simhash_near(),
        # deterministic synthetic images → fixed feature aggregates
        # (captured from the real decode; phash lineage verified by
        # TestPayload / TestMediaOps)
        "g_media_features": (
            # literals re-derived for the REAL baseline JPEG codec
            # (r3): lossy rows now decode through sources/jpeg.py, so
            # the decoded-pixel aggregates moved from the r2
            # quantize-stand-in values
            "SELECT CAST(300 AS BIGINT) AS n, CAST(9600 AS BIGINT) AS sum_w, "
            "CAST(37830261574 AS BIGINT) AS sum_mean_r_e6, "
            "CAST(632532219 AS BIGINT) AS sum_luma_var_e3, "
            "CAST(-4856268699822138181 AS BIGINT) AS phash_xor"
        ),
        "events_sessionize": (
            "WITH o AS (SELECT event_id, user_id, ts, value, "
            "  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts FROM events), "
            "m AS (SELECT *, CASE WHEN pts IS NULL OR "
            "  epoch_us(ts) - epoch_us(pts) > 1800000000 THEN 1 ELSE 0 END AS brk FROM o), "
            "s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "  ROWS UNBOUNDED PRECEDING) AS sess FROM m) "
            "SELECT user_id, MIN(event_id) AS session_id, "
            "CAST(MIN(epoch_us(ts)) AS BIGINT) AS t_start_us, "
            "CAST(MAX(epoch_us(ts)) AS BIGINT) AS t_end_us, "
            "CAST(COUNT(*) AS BIGINT) AS n_events, "
            "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
            "FROM s GROUP BY user_id, sess"
        ),
        "img_phash_neardup": (
            # reference-fixed literals: 100 planted 2-bit twins among
            # 400 deterministic synth images + the natural phash
            # near-collisions of the corpus (exact recall at k=2 by
            # the 4-band pigeonhole) — xxhash fold over the pair set
            "SELECT CAST(1702 AS BIGINT) AS n_pairs, "
            "CAST(2389 AS BIGINT) AS sum_hamming, "
            "CAST(-7983499394351374538 AS BIGINT) AS pairs_xor"
        ),
        "g_frame_sample": (
            # reference-fixed literals: 40 videos × 3 sampled frames
            # (0/10/20 of 24), xxhash64 fold over the PNG-re-encoded
            # decoded frames — a bit-exact end-to-end pin of the APNG
            # decode path
            "SELECT CAST(120 AS BIGINT) AS n, CAST(1200 AS BIGINT) AS sum_idx, "
            "CAST(48000 AS BIGINT) AS sum_t_ms, "
            "CAST(2188832738196827567 AS BIGINT) AS frames_xor"
        ),
    }
