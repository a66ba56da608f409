"""Benchmark of the web_crawler_spark package; see run.py."""
