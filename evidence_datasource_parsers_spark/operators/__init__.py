"""Physical operators: joins, reshapes, windows, dedup, similarity search,
sketches and the stores behind them.  Import each from its leaf module."""
