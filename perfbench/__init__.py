"""The repository's benchmark: seeded workloads that drive olake_spark's
public API from outside and report end-to-end and per-layer metrics.
See perfbench/README.md."""
