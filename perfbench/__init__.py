"""Closed-loop benchmark of grasper_spark (see run.py and README.md)."""
