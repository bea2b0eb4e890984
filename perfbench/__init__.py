"""Closed-loop benchmark of the BI, CDC-fold and LLM-corpus query paths.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
