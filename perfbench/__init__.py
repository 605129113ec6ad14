"""Closed-loop benchmark of the ziggurat_spark route engine, retry
fabric and streaming folds. Entry point: ``python3 perfbench/run.py``;
see ``perfbench/README.md``."""
