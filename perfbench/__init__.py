"""Steady lake benchmark: see run.py."""
