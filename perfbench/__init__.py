"""Hermetic benchmark for selma_spark; see perfbench/README.md."""
