"""Seeded end-to-end and per-layer benchmark for the gis_etl_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads and the metrics.
"""
