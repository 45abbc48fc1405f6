"""Windowed event aggregation that runs on batch and streaming DataFrames."""
