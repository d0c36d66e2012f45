"""Benchmark for the collector engine: see NOTES.md and run.py."""
