"""Seeded benchmark for energi_data_etl_spark; entry point ``perfbench/run.py``."""
