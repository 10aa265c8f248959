"""Seeded end-to-end and per-layer benchmark for the ARCO pipeline.

Run from anywhere with ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>``; see ``perfbench/README.md``.
"""
