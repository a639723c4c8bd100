"""Seeded benchmark of the s2spark engine; see README.md."""
