"""Repository benchmark for icrawler_spark: three workloads, one command.

Run ``python3 crawlbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``; see ``crawlbench/README.md``.
"""
