"""Repository benchmark: seeded, oracle-checked workloads over the engine (see README.md)."""
