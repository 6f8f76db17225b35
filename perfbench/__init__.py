"""Closed-loop benchmark of the ocrd_odem_spark extraction engine (see run.py)."""
