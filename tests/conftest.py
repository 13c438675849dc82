import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from geo_polygonize_spark.plans import build_session

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    s = build_session("tests", cores=cores, shuffle_partitions=8)
    yield s
    s.stop()


def lines_to_df(spark, lines_xs, lines_ys, dataset="fx"):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("line_id", T.LongType()),
            T.StructField("xs", T.ArrayType(T.DoubleType())),
            T.StructField("ys", T.ArrayType(T.DoubleType())),
            T.StructField("dataset", T.StringType()),
        ]
    )
    rows = [
        (i, [float(v) for v in xs], [float(v) for v in ys], dataset)
        for i, (xs, ys) in enumerate(zip(lines_xs, lines_ys))
    ]
    return spark.createDataFrame(rows, schema)
