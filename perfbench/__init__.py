"""Vector-serving benchmark for the engine; entry point is ``perfbench/run.py``."""
