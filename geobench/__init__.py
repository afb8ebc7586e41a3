"""Seeded end-to-end benchmark of the GeoParser dataflow (see README.md)."""
