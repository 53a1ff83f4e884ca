"""perfbench: the seeded end-to-end benchmark of the anycrawl_spark engine.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.
"""
