"""End-to-end and per-layer benchmark of the enrichment engine (see
README.md in this directory)."""
