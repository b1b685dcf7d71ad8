"""Benchmark for the Top-N snapshot refresh and dashboard read paths
(see README.md)."""
