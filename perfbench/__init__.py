"""Closed-loop benchmark of the engine: see perfbench/README.md."""
