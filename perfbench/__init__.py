"""End-to-end benchmark of the flagship extraction job (plans/job.py).

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root.
"""
