"""Benchmark for fossa_spark: see run.py."""
