"""Structured Streaming ``foreachBatch`` sinks that advance the persistent
incremental stores (``incremental.py``)."""
