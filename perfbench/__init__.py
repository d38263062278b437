"""Seeded closed-loop benchmark of the engine; entry point ``perfbench/run.py``."""
