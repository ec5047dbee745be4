"""Layered crawl-frontier benchmark (see README.md)."""
