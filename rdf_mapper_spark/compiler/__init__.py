"""Spec -> Catalyst compiler.

Templates compile once on the driver into Column expression trees; the
executors only ever run JVM expressions (sha1-base32hex minting included)
plus the few vectorized pandas UDFs (fuzzy dates, python-expr fallback).
"""
