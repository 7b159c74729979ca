"""Workload benchmark for the crypto analytics engine.

Run from the repository root::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

See ``perfbench/run.py`` for the workloads, metrics and output format.
"""
