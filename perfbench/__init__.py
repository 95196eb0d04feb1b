"""Benchmark of the spark-graft engine: AutoAPI serving, ETL upsert and
curation analytics, driven from outside the package (see README.md)."""
