"""Repo benchmark for kgp: workloads, process-tree accounting, tracing."""
