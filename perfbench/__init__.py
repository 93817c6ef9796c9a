"""Benchmark for the dedup engine: workloads, traced run and correctness
gates. Run it with ``python3 perfbench/run.py --workload <name> --seed
<n> --seconds <s> --trace <0|1>``; see README.md in this directory."""
