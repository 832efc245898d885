"""End-to-end and per-layer benchmark of the index/search engine."""
