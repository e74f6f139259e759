"""Vector ground-truth benchmark for nbdatatools_spark; entry point run.py."""
