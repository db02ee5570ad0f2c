"""Seeded end-to-end and per-layer benchmark of mdio_cpp_spark (see METRICS.md)."""
