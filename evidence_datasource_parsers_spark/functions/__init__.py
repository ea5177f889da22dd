"""Scalar-function library (SURVEY §2.11-§2.14) — all JVM-side built-ins.

Everything here returns ``pyspark.sql.Column`` expressions composed from
built-in functions so they stay inside whole-stage codegen; no Python UDFs.
"""
