"""Crawl benchmark: workloads, span tracing and Spark event-log metrics.

Run it from the repository root with ``python3 perfbench/run.py --help``.
"""
