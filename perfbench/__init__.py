"""Repository benchmark for geo_polygonize_spark.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one closed-loop workload against the package and
prints one JSON result line. See ``perfbench/README.md``.
"""
