import os

import pytest

# Driver heap of the test session; $SPARK_DRIVER_MEM overrides it. At
# the package default (40% of RAM) the suite's JVM held 7.8 GB RSS on a
# 15.7 GB host. With 3g the whole suite passed at a peak RSS of 4.2 GB;
# old-generation use peaked at 2.7 GB with no full GC (4 cores).
TEST_DRIVER_MEM = "3g"


@pytest.fixture(scope="session")
def spark():
    from geo_polygonize_spark.plans import build_session

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    heap = os.environ.get("SPARK_DRIVER_MEM") or TEST_DRIVER_MEM
    s = build_session("tests", cores=cores, shuffle_partitions=8,
                      extra_conf={"spark.driver.memory": heap})
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
