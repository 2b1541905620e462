"""Benchmark for the daisy_spark engine; see run.py."""
