"""Benchmark of the crawl engine and its curation queries (see run.py)."""
