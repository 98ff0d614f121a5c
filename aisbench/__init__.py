"""The AIS warehouse benchmark: seeded inputs, ground truth, workloads."""
