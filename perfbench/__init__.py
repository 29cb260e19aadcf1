"""Seeded benchmark of python_prtree_spark; see README.md and run.py."""
