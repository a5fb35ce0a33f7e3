"""Frontier / seen-set / politeness operators — the crawl
dataflow stages of SURVEY.md §2, expressed as DataFrame ops."""
