"""End-to-end and per-layer benchmark of cryo_spark (see README.md)."""
