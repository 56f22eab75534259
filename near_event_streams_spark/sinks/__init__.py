"""Sinks: parquet compaction and layout helpers (``parquet_sink``)."""
