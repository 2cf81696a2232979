"""Layered benchmark for the minispark_spark engine (see README.md)."""
