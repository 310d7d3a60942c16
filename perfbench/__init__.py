"""Layered, oracle-checked benchmark of the index build and query engine.

Run ``python3 perfbench/run.py --workload <build|serve> --seed N
--seconds S --trace <0|1>`` from the repository root; see README.md.
"""
