"""Steady-state benchmark of the cmsspark_spark engine (see README.md)."""
