"""Layered benchmark for news_crawler_spark (see perfbench/README.md)."""
