"""Closed-loop benchmark of the engine's public functions (see README.md)."""
