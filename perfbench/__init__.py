"""Lakehouse benchmark harness; see README.md."""
