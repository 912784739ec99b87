"""Validation benchmark for shaclapi_spark (entry point: ``perfbench/run.py``)."""
