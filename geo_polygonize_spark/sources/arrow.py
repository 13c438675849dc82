"""Arrow-native linework exchange — the GeoArrow-style ingestion path
(reference: ``benches/wasm_bench/src/lib.rs:73-93`` ``load_geoarrow``,
zero-copy columnar LineString arrays).

Spark's Arrow execution path is the same idea end-to-end; this module
makes it explicit with ``mapInArrow``: segmentization runs directly on
``pyarrow.RecordBatch`` buffers — list-offset arithmetic on the raw
value buffers, no pandas materialization, no per-row objects.

``rows_frame`` is the package's one way to turn rows built on the
driver into a DataFrame.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema


def rows_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """Driver rows (tuples in ``schema`` order) → DataFrame, through a
    ``pyarrow.Table`` typed from the Spark schema (a StructType or a DDL
    string). The JVM holds the table as a local relation; a Python list
    would instead go through ``parallelize`` and round-trip through the
    Python workers on every evaluation of the frame."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def segmentize_arrow(lines_df: DataFrame) -> DataFrame:
    """lines(line_id, xs, ys) → segments(x1, y1, x2, y2) via
    ``mapInArrow``: consumes the list arrays' offsets + values buffers
    directly (the GeoArrow layout) and emits flat segment columns.

    Functionally identical to ``operators.polygonize_op.segmentize_df``
    (whole-stage-codegen transform+explode) — this variant exists for
    Arrow-source parity and for pipelines already holding Arrow data.
    """

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            xs = batch.column(batch.schema.get_field_index("xs"))
            ys = batch.column(batch.schema.get_field_index("ys"))
            # ListArray → (offsets, values): the GeoArrow LineString layout
            x_off = np.frombuffer(xs.buffers()[1], dtype=np.int32, count=len(xs) + 1, offset=xs.offset * 4)
            xv = np.asarray(xs.flatten(), dtype=np.float64)
            yv = np.asarray(ys.flatten(), dtype=np.float64)
            # per-line vertex counts → segment index ranges
            counts = np.diff(x_off) - x_off[0] * 0  # vertex count per line
            base = x_off[:-1] - x_off[0]
            # build segment start indices: for each line, base..base+count-2
            seg_counts = np.maximum(counts - 1, 0)
            total = int(seg_counts.sum())
            if total == 0:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([], pa.float64())] * 4, names=["x1", "y1", "x2", "y2"]
                )
                continue
            starts = np.repeat(base, seg_counts) + (
                np.arange(total) - np.repeat(np.concatenate(([0], np.cumsum(seg_counts)[:-1])), seg_counts)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(xv[starts]),
                    pa.array(yv[starts]),
                    pa.array(xv[starts + 1]),
                    pa.array(yv[starts + 1]),
                ],
                names=["x1", "y1", "x2", "y2"],
            )

    return lines_df.select("xs", "ys").mapInArrow(
        gen, "x1 double, y1 double, x2 double, y2 double"
    )
