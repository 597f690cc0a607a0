"""The repository benchmark: seeded workloads measured end to end and per layer.

Run from the repository root::

    python3 perfbench/run.py --workload ioc_feed --seed 1 --seconds 8 --trace 0

See ``perfbench/README.md`` for the workloads, the metrics and what each
per-layer metric is expected to move.
"""
