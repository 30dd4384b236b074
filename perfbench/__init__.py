"""Benchmark of the nbi_oedi_etl_spark engine; entry point: perfbench/run.py."""
