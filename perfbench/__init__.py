"""Layered benchmark of arkflow_spark; see README.md in this directory."""
