"""Steady, warm-timed benchmark of csv_cruncher_spark (see README.md)."""
