"""Helpers of the benchmark runner: build, metrics and oracle checks."""
