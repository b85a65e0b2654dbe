"""Seeded end-to-end and per-layer benchmark of ``dsgrid_spark``.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root. See ``run.py``
for the metric definitions and ``BENCHMARK.json`` for the workloads.
"""
