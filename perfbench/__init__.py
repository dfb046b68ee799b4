"""Replication benchmark for ape_dts_spark; entry point: perfbench/run.py."""
