"""Lakehouse engine benchmark: see README.md."""
