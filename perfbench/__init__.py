"""Benchmark of the engine: see NOTES.md."""
