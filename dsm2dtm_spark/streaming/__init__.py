"""Event-time window aggregation over batch DataFrames."""
