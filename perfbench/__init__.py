"""Seeded serve / ingest benchmark for ``fts_engine_spark``.

Run from the repository root: ``python3 perfbench/run.py --workload serve
--seed 1 --seconds 12 --trace 0``. See ``perfbench/README.md``.
"""
