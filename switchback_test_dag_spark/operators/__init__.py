"""Operator library: relational ELT stages, domain-fixture synthesis, and the
large-scale data-pipeline extensions (dedup, text
analysis)."""
