"""Seeded end-to-end benchmark of the package; see README.md."""
