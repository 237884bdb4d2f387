"""The repository's benchmark: seeded workloads driving the engine
through its public functions, with a traced per-layer profile."""
