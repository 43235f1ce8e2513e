"""End-to-end and per-layer benchmark of osprey_spark (see README.md)."""
