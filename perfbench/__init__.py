"""Benchmark of the auto-tabular ETL engine; see NOTES.md and run.py."""
