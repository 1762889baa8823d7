"""Steady, layer-attributable benchmark of the search engine (see README.md)."""
