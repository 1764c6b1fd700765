"""Benchmark harness for the extract pipeline (see perfbench/README.md)."""
