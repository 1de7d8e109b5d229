"""Benchmark of execute_sync_spark; see run.py."""
