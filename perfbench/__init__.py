"""Benchmark for the xlsx->Postgres ETL pipeline and the query library."""
