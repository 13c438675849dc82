"""GeoJSON wire format — parity with the reference's WASM/CLI surface
(reference: ``src/wasm.rs:8-70``, ``examples/polygonize.rs:36-102``):
FeatureCollection of LineString/MultiLineString/Polygon features in,
FeatureCollection of Polygon features out.

Primary I/O for the engine is Parquet/Iceberg; GeoJSON is the debug /
golden-fixture format, so these are plain-Python (driver-side)
helpers plus DataFrame adapters.
"""

from __future__ import annotations

import json

import numpy as np

from .arrow import rows_frame


def _coords_to_arrays(coords):
    xs = np.asarray([c[0] for c in coords], dtype=np.float64)
    ys = np.asarray([c[1] for c in coords], dtype=np.float64)
    return xs, ys


def geojson_to_lines(text: str):
    """GeoJSON string → (lines_xs, lines_ys) lists of vertex arrays.

    Flattens exactly like the reference's ``extract_lines``
    (polygonizer.rs:265-288): LineString / MultiLineString / Polygon
    rings / MultiPolygon rings / GeometryCollection, from a
    FeatureCollection, Feature, or bare Geometry (wasm.rs:19-41)."""
    obj = json.loads(text)
    xs: list = []
    ys: list = []

    def add_geom(g):
        t = g.get("type")
        if t == "LineString":
            a, b = _coords_to_arrays(g["coordinates"])
            xs.append(a)
            ys.append(b)
        elif t == "MultiLineString":
            for ls in g["coordinates"]:
                a, b = _coords_to_arrays(ls)
                xs.append(a)
                ys.append(b)
        elif t == "Polygon":
            for ring in g["coordinates"]:
                a, b = _coords_to_arrays(ring)
                xs.append(a)
                ys.append(b)
        elif t == "MultiPolygon":
            for poly in g["coordinates"]:
                for ring in poly:
                    a, b = _coords_to_arrays(ring)
                    xs.append(a)
                    ys.append(b)
        elif t == "GeometryCollection":
            for sub in g.get("geometries", []):
                add_geom(sub)

    if obj.get("type") == "FeatureCollection":
        for f in obj.get("features", []):
            if f.get("geometry"):
                add_geom(f["geometry"])
    elif obj.get("type") == "Feature":
        if obj.get("geometry"):
            add_geom(obj["geometry"])
    else:
        add_geom(obj)
    return xs, ys


def polygons_to_geojson(polys) -> str:
    """kernels Polygon list → FeatureCollection string (wasm.rs:46-70
    layout: one Polygon feature per result, shell first then holes)."""
    feats = []
    for p in polys:
        rings = [[[float(x), float(y)] for x, y in zip(p.shell_xs, p.shell_ys)]]
        for hx, hy in p.holes:
            rings.append([[float(x), float(y)] for x, y in zip(hx, hy)])
        feats.append(
            {
                "type": "Feature",
                "properties": {"area": p.area},
                "geometry": {"type": "Polygon", "coordinates": rings},
            }
        )
    return json.dumps({"type": "FeatureCollection", "features": feats})


def read_geojson_lines(spark, path: str, dataset: str = "geojson"):
    """GeoJSON file → lines DataFrame (line_id, xs, ys, dataset)."""
    with open(path) as f:
        xs, ys = geojson_to_lines(f.read())
    rows = [
        (i, [float(v) for v in x], [float(v) for v in y], dataset)
        for i, (x, y) in enumerate(zip(xs, ys))
    ]
    return rows_frame(
        spark, rows, "line_id long, xs array<double>, ys array<double>, dataset string"
    )


def write_geojson_polygons(polygons_df, path: str) -> int:
    """Polygon DataFrame (POLYGON_SCHEMA) → GeoJSON FeatureCollection
    file. Driver-side (debug/golden sink). Returns feature count."""
    rows = polygons_df.collect()
    feats = []
    for r in rows:
        rings = [[[float(x), float(y)] for x, y in zip(r["shell_xs"], r["shell_ys"])]]
        for hx, hy in zip(r["hole_xs"] or [], r["hole_ys"] or []):
            rings.append([[float(x), float(y)] for x, y in zip(hx, hy)])
        feats.append(
            {
                "type": "Feature",
                "properties": {"area": r["area"], "tile_i": r["tile_i"], "tile_j": r["tile_j"]},
                "geometry": {"type": "Polygon", "coordinates": rings},
            }
        )
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)
    return len(feats)
