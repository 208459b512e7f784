"""Extraction benchmark for `plans.pipeline` (see run.py)."""
