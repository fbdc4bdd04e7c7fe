"""Benchmark for the picogeojson_spark engine; see run.py."""
