"""Closed-loop benchmark of the engine's four pipeline jobs (see NOTES.md)."""
