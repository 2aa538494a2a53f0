"""Closed-loop benchmark of ip_filter_spark: see perfbench/README.md."""
