"""The repository benchmark: seeded ``serve`` and ``report`` workloads.

Run ``python3 perfbench/run.py --workload serve --seed 1 --seconds 15
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
