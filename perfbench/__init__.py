"""Benchmark for ecu_sbl_aace_datalake_spark; entry point: perfbench/run.py."""
