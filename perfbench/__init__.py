"""Benchmark of the ETL engine: see perfbench/README.md."""
