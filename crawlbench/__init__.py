"""Crawl benchmark for the spider_spark engine (see README.md)."""
