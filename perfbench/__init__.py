"""Throughput and latency benchmark of the CDC path; see run.py."""
