"""Benchmark of the gads_etl_spark pipeline and engine (see NOTES.md)."""
