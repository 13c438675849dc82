"""Spark-layer polygonize tests: single-group operator parity with the
kernel, and tiled operator vs the reference tiling fixtures
(reference src/tiling_tests.rs:7-80; FIXTURES.md tiling table)."""

import pytest

from geo_polygonize_spark.operators.polygonize_op import polygonize, tiled_polygonize
from geo_polygonize_spark.sources.fixtures import fixture, grid_lines

from .conftest import lines_to_df


def test_single_group_nested_holes(spark):
    xs, ys, node, snap = fixture("nested_holes")
    df = lines_to_df(spark, xs, ys)
    out = polygonize(df, node_input=node, snap_grid=snap).collect()
    assert sorted(round(r["area"], 6) for r in out) == [400.0, 3200.0, 6400.0]
    donut = next(r for r in out if abs(r["area"] - 6400) < 1e-6)
    assert donut["n_holes"] == 1
    assert len(donut["hole_xs"]) == 1


def test_tiling_2x2_grid_buffered(spark):
    # reference src/tiling_tests.rs:7-49: bbox (0,0)-(20,20),
    # tile_size 15, buffer 5 → exactly 4 polys of area 100
    xs, ys, _, _ = fixture("tiling_grid_2x2")
    df = lines_to_df(spark, xs, ys)
    out = tiled_polygonize(
        df, tile_size=15.0, buffer=5.0, bbox=(0.0, 0.0, 20.0, 20.0), drop_collapsed=True
    ).collect()
    assert len(out) == 4
    assert all(abs(r["area"] - 100.0) < 1e-6 for r in out)


def test_tiling_exact_boundaries(spark):
    # reference src/tiling_tests.rs:52-80: tile_size 10 exactly on the
    # grid lines, buffer 0 → still exactly 4 polys (half-open
    # ownership, no dupes/losses)
    xs, ys, _, _ = fixture("tiling_grid_2x2")
    df = lines_to_df(spark, xs, ys)
    out = tiled_polygonize(
        df, tile_size=10.0, buffer=0.0, bbox=(0.0, 0.0, 20.0, 20.0), drop_collapsed=True
    ).collect()
    assert len(out) == 4
    assert all(abs(r["area"] - 100.0) < 1e-6 for r in out)


def test_tiled_equals_global_on_grid(spark):
    # tiled (buffer ≥ cell size) must equal the global polygonize
    n = 12
    xs, ys = grid_lines(n)
    df = lines_to_df(spark, xs, ys)
    glob = polygonize(df, node_input=True, drop_collapsed=True).collect()
    tiled = tiled_polygonize(
        df, tile_size=4.0, buffer=1.5, bbox=(0.0, 0.0, float(n), float(n)), drop_collapsed=True
    ).collect()
    assert len(glob) == n * n
    assert len(tiled) == n * n
    key = lambda r: (round(r["cx"], 9), round(r["cy"], 9), round(r["area"], 9))
    assert sorted(map(key, glob)) == sorted(map(key, tiled))


def test_tiled_skew_split_matches_unsplit(spark):
    # force the hot-tile sub-split path and check identical output
    n = 12
    xs, ys = grid_lines(n)
    df = lines_to_df(spark, xs, ys)
    base = tiled_polygonize(
        df,
        tile_size=12.0,
        buffer=2.0,
        bbox=(0.0, 0.0, float(n), float(n)),
        drop_collapsed=True,
        max_segments_per_tile=None,
    ).collect()
    split = tiled_polygonize(
        df,
        tile_size=12.0,
        buffer=2.0,
        bbox=(0.0, 0.0, float(n), float(n)),
        drop_collapsed=True,
        max_segments_per_tile=40,  # well below the ~312 segments/tile
        max_split_factor=4,
    ).collect()
    key = lambda r: (round(r["cx"], 9), round(r["cy"], 9), round(r["area"], 9))
    assert sorted(map(key, split)) == sorted(map(key, base))
    assert len(split) == n * n


def test_segmentize_arrow_matches_codegen(spark):
    # the mapInArrow GeoArrow-style path must equal the codegen path
    from geo_polygonize_spark.operators.polygonize_op import segmentize_df
    from geo_polygonize_spark.sources.arrow import segmentize_arrow

    xs, ys = grid_lines(6)
    df = lines_to_df(spark, xs, ys)
    a = sorted(map(tuple, segmentize_df(df).collect()))
    b = sorted(map(tuple, segmentize_arrow(df).collect()))
    assert a == b and len(a) == 2 * 7  # 2(n+1) single-segment lines pre-noding


@pytest.mark.parametrize(
    "schema, rows",
    [
        # an int and a long column (a long beyond int32), a string, nulls
        (
            "i int, n long, s string",
            [(1, 2**40, "a"), (None, -(2**62), None), (-(2**31), None, "")],
        ),
        # array<double>: values, an empty array, a null element, a null array
        (
            "k long, xs array<double>",
            [(0, [1.5, -2.0]), (1, []), (2, [None, 3.0]), (3, None)],
        ),
        ("i int, xs array<double>, s string", []),  # empty input
    ],
)
def test_rows_frame_matches_list_frame(spark, schema, rows):
    # driver rows through the Arrow table equal the same rows passed as
    # a Python list, in schema and in values, for a DDL and a StructType
    from pyspark.sql import types as T

    from geo_polygonize_spark.sources.arrow import rows_frame

    want = spark.createDataFrame(rows, schema)
    for s in (schema, T.DataType.fromDDL(schema)):
        got = rows_frame(spark, rows, s)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
