"""Seeded end-to-end benchmark for tetrex_spark (see perfbench/README.md)."""
