"""Benchmark of the timeseries_harmonizer_spark engine (see run.py)."""
