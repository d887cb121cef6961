"""Seeded benchmark of the async stream-join engine; see README.md."""
