"""Benchmark of the cie_spark production paths; entry point `kgbench/run.py`."""
