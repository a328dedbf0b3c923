"""Layered benchmark of valideer_spark; entry point ``perfbench/run.py``."""
