"""Seeded closed-loop benchmark of fastselect_spark; entry point: run.py."""
