"""Performance benchmark for the engine (see README.md)."""
