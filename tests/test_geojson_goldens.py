"""Golden-file parity: run the reference repo's example INPUT GeoJSON
files through our kernel and compare with its committed OUTPUT files
(reference examples/data/*.geojson → examples/output/*.geojson).

The goldens encode the keep-collapsed semantics (see
rings.assemble_polygons docstring), so runs use drop_collapsed=False.
Comparison: feature count + sorted net areas (ring vertex order is
traversal-dependent, areas are not).
"""

import json
import os
import pathlib

import numpy as np
import pytest

from geo_polygonize_spark.kernels.polygonize import polygonize_lines
from geo_polygonize_spark.kernels.rings import signed_area
from geo_polygonize_spark.sources.fixtures import fixture
from geo_polygonize_spark.sources.geojson import geojson_to_lines, polygons_to_geojson

REF = "/root/reference/examples"
REPO = pathlib.Path(__file__).resolve().parents[1]

CASES = [
    # (name, needs noding)
    ("nested_holes", False),
    ("touching_polys", True),
    ("grid_incomplete", True),
    ("complex_bowtie", True),
    ("overlapping_circles", True),
    ("curved_holes", True),
]


def _golden_areas(path):
    with open(path) as f:
        fc = json.load(f)
    areas = []
    for feat in fc["features"]:
        rings = feat["geometry"]["coordinates"]
        net = 0.0
        for k, ring in enumerate(rings):
            xs = np.asarray([c[0] for c in ring])
            ys = np.asarray([c[1] for c in ring])
            a = abs(signed_area(xs, ys))
            net += a if k == 0 else -a
        areas.append(net)
    return sorted(areas), len(fc["features"])


@pytest.mark.parametrize("name,node", CASES)
def test_golden(name, node):
    inp = f"{REF}/data/{name}.geojson"
    out = f"{REF}/output/{name}.geojson"
    if not (os.path.exists(inp) and os.path.exists(out)):
        pytest.skip("reference goldens not present")
    with open(inp) as f:
        xs, ys = geojson_to_lines(f.read())
    polys = polygonize_lines(xs, ys, node_input=node, drop_collapsed=False)
    want_areas, want_count = _golden_areas(out)
    assert len(polys) == want_count, f"{name}: {len(polys)} vs golden {want_count}"
    got_areas = sorted(p.area for p in polys)
    np.testing.assert_allclose(got_areas, want_areas, rtol=1e-9, atol=1e-6)


def _fixture_geojson(name, path=None):
    """An in-repo fixture as a FeatureCollection of LineStrings (the
    reference examples' input layout); written to ``path`` if given."""
    xs, ys, node, _ = fixture(name)
    text = json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {},
         "geometry": {"type": "LineString", "coordinates": [[float(a), float(b)] for a, b in zip(x, y)]}}
        for x, y in zip(xs, ys)
    ]})
    if path is not None:
        path.write_text(text)
    return text, node


def test_geojson_roundtrip():
    # sink format parses back to the same geometry count
    text, _ = _fixture_geojson("nested_holes")
    xs, ys = geojson_to_lines(text)
    polys = polygonize_lines(xs, ys)
    assert sorted(p.area for p in polys) == [400.0, 3200.0, 6400.0]
    text = polygons_to_geojson(polys)
    back = json.loads(text)
    assert len(back["features"]) == len(polys)
    # shells+holes round-trip through the lines reader
    rx, ry = geojson_to_lines(text)
    assert len(rx) == sum(1 + len(p.holes) for p in polys)


def test_cli_polygonize_file(tmp_path):
    """scripts/polygonize_file.py end to end (the reference's only
    end-user executable, examples/polygonize.rs) on the nested_holes
    fixture, against the single-group kernel on the same input."""
    import subprocess
    import sys

    inp = tmp_path / "nested_holes.geojson"
    text, node = _fixture_geojson("nested_holes", inp)
    out = tmp_path / "nested.geojson"
    r = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "polygonize_file.py"),
         str(inp), str(out), "--cores", "4"] + (["--node"] if node else []),
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    xs, ys = geojson_to_lines(text)
    want = polygonize_lines(xs, ys, node_input=node, drop_collapsed=False)
    got_areas, got_count = _golden_areas(str(out))
    assert got_count == len(want) == 3
    assert np.allclose(sorted(got_areas), sorted(p.area for p in want))


class TestSvgRender:
    def test_render_curved_holes(self, spark, tmp_path):
        """SVG dev-rendering (reference scripts/visualize.py analog):
        the curved_holes fixture renders its polygons as evenodd
        paths with hole subpaths."""
        from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize
        from geo_polygonize_spark.sources.geojson import read_geojson_lines
        from geo_polygonize_spark.sources.svg import polygons_to_svg

        inp = tmp_path / "curved_holes.geojson"
        _fixture_geojson("curved_holes", inp)
        lines = read_geojson_lines(spark, str(inp))
        polys = tiled_polygonize(lines, tile_size=1000.0, buffer=1.0)
        svg = polygons_to_svg(polys, width=400)
        assert svg.startswith("<svg ") and svg.endswith("</svg>")
        assert svg.count("<path") == polys.count()
        assert 'fill-rule="evenodd"' in svg
        # at least one polygon has a hole → its path has 2+ subpaths
        assert any(p.count(" Z M") >= 1 or p.count("Z M") >= 1
                   for p in svg.split("<path")[1:])

    def test_render_empty(self):
        from geo_polygonize_spark.sources.svg import polygons_to_svg

        assert "<svg" in polygons_to_svg([])
