"""The repository benchmark: seeded workloads, checks and metrics (see README.md)."""
