"""Layered benchmark for hadoop_ir_spark; entry point: ``run.py``."""
