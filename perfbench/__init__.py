"""Benchmark for the ingest -> search path and the curation batch; see README.md."""
