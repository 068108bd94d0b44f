"""Layered benchmark: workloads, tracer and inputs (see run.py)."""
