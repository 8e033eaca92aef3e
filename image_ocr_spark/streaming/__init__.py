"""Stateful Structured Streaming operators (windowed counts, cross-batch dedup)."""
