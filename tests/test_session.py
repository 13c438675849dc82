"""The driver JVM runs with the package's options (``plans.DRIVER_JAVA_OPTIONS``)."""

from geo_polygonize_spark.plans import DRIVER_JAVA_OPTIONS


def test_driver_java_options_reach_the_jvm(spark):
    # the netty property and the compile policy, applied as the defaults
    # a caller's extraJavaOptions add to
    assert spark.conf.get("spark.driver.defaultJavaOptions").split() == list(DRIVER_JAVA_OPTIONS)
    assert "-Dio.netty.tryReflectionSetAccessible=true" in DRIVER_JAVA_OPTIONS
    flags = dict(o[len("-XX:"):].split("=") for o in DRIVER_JAVA_OPTIONS if o.startswith("-XX:"))
    assert flags

    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert all(o in args for o in DRIVER_JAVA_OPTIONS), args
    bean = mx.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    live = {name: bean.getVMOption(name).getValue() for name in flags}
    assert {k: float(v) for k, v in live.items()} == {k: float(v) for k, v in flags.items()}
