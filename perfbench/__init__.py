"""Benchmark for the KG-construction pipeline; entry point: run.py."""
