"""Throughput benchmark of the transcript extraction job (see run.py)."""
