"""Seeded benchmark of the index build and BM25 query paths (see README.md)."""
