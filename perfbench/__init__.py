"""Benchmark of the engine: end-to-end and per-layer metrics per workload.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``run.py``.
"""
