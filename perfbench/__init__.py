"""Repository benchmark for cognee_spark; run it with ``python3 perfbench/run.py``."""
