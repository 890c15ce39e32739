"""Frontier-crawl benchmark for webcrawl_spark (see README.md)."""
