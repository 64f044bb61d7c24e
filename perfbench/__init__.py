"""icelite benchmark: workloads, span tracer and metrics (see run.py)."""
