"""Benchmark harness for tiledspark: see README.md in this directory."""
