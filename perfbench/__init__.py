"""End-to-end benchmark of the RESP Redis sink path and the dedup operators.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root (see README.md).
"""
