"""Layer-attributed benchmark of the CDC ingest engine (see README.md)."""
