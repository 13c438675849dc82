"""geo_polygonize_spark — a from-scratch PySpark-native polygonize +
spatial-join + tiling engine with the capabilities of
graydonpleasants/geo-polygonize (reference studied read-only at
/root/reference; semantics cited per module, no code copied)."""

__version__ = "0.1.0"

from geo_polygonize_spark import _zipimport  # noqa: F401  (patches Python < 3.12 workers)
