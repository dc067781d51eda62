"""Reusable large-scale operators: dedup, similarity, text, enrichment."""
