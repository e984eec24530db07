"""Structured Streaming operators; stream ingest is the batch extraction
operators applied to a ``spark.readStream`` frame."""
