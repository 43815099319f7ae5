"""Standalone user-facing benchmark for bioio_spark; see README.md."""
