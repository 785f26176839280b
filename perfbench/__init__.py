"""Benchmark for the kittispark engine; entry point perfbench/run.py."""
