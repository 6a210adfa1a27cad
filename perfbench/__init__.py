"""Closed-loop benchmark of the boat-analytics engine (see README.md)."""
