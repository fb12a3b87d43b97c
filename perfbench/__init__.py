"""Layered benchmark of the extraction engine; entry point: run.py."""
