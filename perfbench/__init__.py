"""Benchmark of the transcript quality filter (``python3 perfbench/run.py``)."""
