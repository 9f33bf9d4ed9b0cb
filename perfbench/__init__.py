"""Standalone benchmark for cloud_volume_spark: ``python3 perfbench/run.py``."""
