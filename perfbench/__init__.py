"""Stateful table benchmark for xdlake_spark (see README.md)."""
