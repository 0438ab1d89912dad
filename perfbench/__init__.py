"""Repository benchmark: see perfbench/LAYERS.md and perfbench/run.py."""
