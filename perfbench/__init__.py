"""Benchmark harness for neurondb-spark (see perfbench/README.md)."""
