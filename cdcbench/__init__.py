"""Seeded end-to-end and per-layer benchmark of the CDC ingest engine.

Entry point: ``python3 cdcbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``cdcbench/README.md``.
"""
