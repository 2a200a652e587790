"""Closed-loop benchmark of paradump_spark; see run.py."""
