"""The glre-spark benchmark: four workloads driven through the public
``glre_spark`` functions, a timed mode and a traced per-layer mode.

Run from the repository root: ``python3 perfbench/run.py --workload
kg_build --seed 42 --seconds 10 --trace 0``. See ``perfbench/README.md``.
"""
