"""Extraction benchmark for paddle_spark; entry point ``perfbench/run.py``."""
