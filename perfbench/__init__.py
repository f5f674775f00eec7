"""Repository benchmark: three workloads driven through the engine's public
functions, with a separate traced run for per-layer numbers.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``perfbench/DESIGN.md``.
"""
