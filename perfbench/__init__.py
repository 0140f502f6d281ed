"""Benchmark of the log pipeline and near-dup workloads; see README.md."""
