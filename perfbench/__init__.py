"""Repository benchmark; entry point ``perfbench/run.py``."""
