"""Closed-loop benchmark harness for the engine's registered queries."""
